"""Per-round scheduling: priority ranking + politeness budgets
(SURVEY §2.7 O1-O5 — the crawl-ordering core).

The reference relies on its framework scheduler: a priority queue where
equal priorities pop LIFO (depth-first order), bounded per host by
``DOWNLOAD_DELAY``/``CONCURRENT_REQUESTS_PER_DOMAIN``
(/root/reference/deepbnb/settings.py.dist:57-59). The reference never sets
an explicit priority (fan-out sites airbnb.py:109-112,147,163,175) ⇒ pure
DFO by discovery order. The engine makes that discipline explicit and
deterministic:

    priority = depth * 100 + listing_score          (deeper-first == DFO)
    order    = (priority DESC, discovered_seq DESC) (LIFO tie-break)
    batch    = top host_budget(crawl_delay, conc) per host

Skew (north rule X13): a hot host holding 40% of the frontier would make
one window-partition task the straggler. The ranking is therefore
two-phase: (1) rank within (host, salt) — ``salt = pmod(url_hash,
n_salts)`` spreads the hot host over n_salts tasks — keep the per-salt
top ``budget`` (a salt can contribute at most the whole budget); (2)
re-rank the ≤ n_salts × budget survivors per host. Phase 2 sees a
bounded, tiny row count per host regardless of frontier size, so the
final window is no longer skew-bound. Results are IDENTICAL to a naive
single window (phase 1 never drops a row the global top-k needs).

The module owns the two distributed primitives the engine shares:
:func:`top_k_per_group` (the salted two-phase window, also behind
``textops.stratified_sample`` and ``traps.cap_per_template``) and :func:`partition_offset_col` (the
per-partition offsets of a range-partitioned prefix sum, behind
:func:`assign_discovered_seq_counted` and ``textops.pack_sequences_counted``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from frontier_engine.config import EngineConfig


def priority_expr(depth: Column, listing_score: Column) -> Column:
    """f(depth, listing_score) per the north-star: deeper-first (DFO) with
    score as the within-depth preference."""
    return (depth.cast("double") * 100.0 + F.coalesce(listing_score, F.lit(0.0))).alias(
        "priority"
    )


def host_budget_col(cfg: EngineConfig) -> Column:
    """Vectorized twin of EngineConfig.host_budget over the joined
    crawl_delay_s / max_concurrency columns."""
    delay = F.coalesce(F.col("crawl_delay_s"), F.lit(cfg.download_delay_s))
    conc = F.coalesce(F.col("max_concurrency"), F.lit(cfg.concurrent_per_host))
    per_round = F.floor(F.lit(cfg.round_seconds) / delay)
    return F.greatest(F.lit(1), F.least(per_round, conc.cast("long"))).alias("host_budget")


def top_k_per_group(
    df: DataFrame, group_cols: list[str], order: list[Column], limit: Column, rank_col: str,
    salt_hash: Column | None = None, fan_out: int = 1,
) -> DataFrame:
    """Rows of *df* whose ``row_number`` by *order* within *group_cols* is
    at most *limit*, numbered in *rank_col*. With a *salt_hash* and
    ``fan_out > 1`` a phase 1 first keeps the per-(group,
    ``pmod(salt_hash, fan_out)``) top-*limit* rows: a salt can contribute
    at most the whole limit, so phase 2 sees at most ``fan_out × limit``
    rows per group and the result is identical to the single window.
    Shared by :func:`rank_batch`, ``textops.stratified_sample`` and
    ``traps.cap_per_template``."""
    if salt_hash is not None and fan_out > 1:
        # phase 1: per-(group, salt) pre-top-k — kills the hot-group straggler
        w1 = Window.partitionBy(*group_cols, "salt").orderBy(*order)
        df = (
            df.withColumn("salt", F.pmod(salt_hash, F.lit(fan_out)))
            .withColumn("_r1", F.row_number().over(w1))
            .where(F.col("_r1") <= limit)
            .drop("_r1", "salt")
        )

    # phase 2: exact per-group rank over the bounded survivors
    w2 = Window.partitionBy(*group_cols).orderBy(*order)
    return df.withColumn(rank_col, F.row_number().over(w2)).where(F.col(rank_col) <= limit)


def rank_batch(pending: DataFrame, cfg: EngineConfig, salted: bool = True) -> DataFrame:
    """Top-``host_budget`` pending URLs per host by (priority DESC,
    discovered_seq DESC). Input must carry: host, url, priority,
    discovered_seq, crawl_delay_s (nullable). Output adds ``rank``.
    """
    return top_k_per_group(
        pending.withColumn("host_budget", host_budget_col(cfg)),
        ["host"], [F.desc("priority"), F.desc("discovered_seq")], F.col("host_budget"), "rank",
        salt_hash=F.xxhash64(F.col("url")) if salted else None,
        fan_out=cfg.salt_partitions,
    ).drop("host_budget")


def partition_offset_col(totals: dict[int, int | None], pid: Column) -> Column:
    """Start offset of each row's partition in the global order: the sum
    of *totals* (partition id → its row or token total, ``None`` read as
    0) over all lower partition ids, looked up by *pid* in a literal map.
    The driver sees one total per partition, never rows."""
    kv, acc = [], 0
    for p in sorted(totals):
        kv += [F.lit(int(p)), F.lit(acc)]
        acc += int(totals[p] or 0)
    if not kv:
        return F.lit(0).cast("long")
    # try_element_at: ANSI mode makes plain element_at throw on a missing
    # key (a partition with no rows has no total)
    return F.coalesce(F.try_element_at(F.create_map(*kv), pid), F.lit(0)).cast("long")


def assign_discovered_seq_counted(
    candidates: DataFrame, seq_offset: int, n_parts: int | None = None
) -> tuple[DataFrame, int, DataFrame]:
    """Deterministic global discovery sequence for a round's new
    candidates, plus the round's candidate count.

    Within a round, candidates are ordered by (depth, parent_url, url) —
    a stable, partition-independent total order (the triple is unique per
    row: canon-dedupe keeps one row per canon_url and equal urls share a
    canon) — and numbered from ``seq_offset + 1``. Across rounds the
    offset grows monotonically, so (priority DESC, discovered_seq DESC)
    pops newest-round-first: the deterministic restatement of the
    framework's LIFO/DFO (SURVEY §7 "Deterministic ordering parity"). The
    simulator implements the identical rule, making round batches
    byte-comparable.

    Scale shape (no single-task global sort): range-partition on the key
    + sort within partitions + per-partition offset
    (:func:`partition_offset_col`). ``monotonically_increasing_id``
    encodes (partition_id << 33) + local position in iteration (= sorted)
    order, so rank falls out of pure JVM expressions; the only extra job
    is a map-side-aggregated per-partition count (``n_parts`` rows to the
    driver), which also gives the total. A 10^7-candidate round runs as
    ``n_parts`` parallel sorts.

    Returns ``(out, total, persisted_handle)``. The offsets were computed
    against the PERSISTED range partitioning (a recompute could re-sample
    different RangePartitioner boundaries and shift every seq), and
    derived frames do NOT uncache it — Spark's uncacheQuery matches the
    exact cached plan — so the caller must call ``handle.unpersist()``
    once the round's outputs are materialized."""
    keys = ["depth", "parent_url", "url"]
    spark = candidates.sparkSession
    n_parts = n_parts or spark.sparkContext.defaultParallelism
    ranged = (
        candidates.repartitionByRange(n_parts, *[F.col(k) for k in keys])
        .sortWithinPartitions(*keys)
        .withColumn("_mid", F.monotonically_increasing_id())
    )
    # persist: the counts job and the consumer must see ONE partitioning
    ranged = ranged.persist()
    pid = F.shiftright(F.col("_mid"), 33)
    counts = {
        r["_pid"]: r["cnt"]
        for r in ranged.groupBy(pid.alias("_pid")).agg(F.count("*").alias("cnt")).collect()
    }
    out = ranged.withColumn(
        "discovered_seq",
        (
            F.lit(seq_offset).cast("long")
            + partition_offset_col(counts, pid.cast("int"))
            + F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1))
            + F.lit(1)
        ),
    ).drop("_mid")
    return out, int(sum(counts.values())), ranged
