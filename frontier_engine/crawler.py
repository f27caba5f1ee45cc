"""The crawl driver loop: each scheduling round is one DataFrame job
(SURVEY §2.10 ST1, §3.1 — replaces the reference's event-loop scheduler).

Round r:

1. rank the pending frontier per host (schedule.rank_batch — priority
   window + politeness budget + hot-host salting)
2. "fetch" = join the batch against the stored pages table (fetch.J4)
3. parse fetched pages by type (parse.py) → output rows + new candidates
4. ingest candidates: canonicalize → within-round dedupe → EXACT unseen
   filter via the seen store's base bloom + bucketed confirm (seen.D1,
   seen_store) → assign discovered_seq → robots split (robots.F11)
5. write metrics; commit the round's DELTAS atomically (snapshots.S8)

Frontier state is merge-on-read (VERDICT round-1 item #6 — never rewrite
the frontier per round):

* ``frontier_base`` — full rows, written at the first commit and at folds;
* ``frontier_delta/snap-n`` — ONLY that commit's newly discovered rows;
* ``status_log/snap-n`` — ONLY that commit's (url_hash, new_status) facts
  (pending→fetched|missing; a url enters the log at most once ever);
* pending view = (base ∪ deltas) ⋈ status_log (left; log side is
  O(fetched-so-far) and folds into the base when it outgrows
  ``_FrontierState.COMPACT_RATIO`` — Iceberg MERGE's copy-on-write,
  amortized).

The seen set lives in seen_store (bucketed base + deltas, with the bloom
shards as the base's index, rebuilt only when the base is), so per-round
commit bytes scale with the BATCH, not the frontier or the seen set.

One state machine, two drivers. :class:`_CrawlState` owns the state
(frontier chain, seen store, discovered_seq offset) and the only steps
that touch it:

* ``load(manifest)`` — adopt a published snapshot (both resumes);
* ``ingest(cands, r)`` — seen-filter round r's discoveries, assign their
  sequence numbers, append them to the seen store;
* ``schedule()`` — rank the pending view into the next batch;
* ``commit(snap, meta, new_rows, status)`` — the commit policy: the
  first commit writes the frontier base; later ones write deltas +
  status facts, or fold the chain into a fresh base once its trigger
  fires; then advance the chain, stamp the ``frontier`` /
  ``seen_exact`` state and ``seq_offset`` into the manifest meta and
  publish.

:func:`run_crawl` is a loop of ingest → schedule → fetch/parse/outputs →
commit; ``streaming.run_crawl_stream`` calls the same steps from its
``foreachBatch``, splitting each round into an ingest commit and a
round-boundary (status) commit. The loop is resumable: state lives in
the snapshot store, never in driver memory (the reference's scalability
wall, airbnb.py:48,51). Checkpointing every round also truncates
DataFrame lineage, which is what makes a long crawl's plans stay bounded.
"""

from __future__ import annotations

import os
import tempfile
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from frontier_engine import parse as P
from frontier_engine import seen as S
from frontier_engine.canon import with_canon_columns
from frontier_engine.config import EngineConfig
from frontier_engine.fetch import fetch_batch
from frontier_engine.metrics import round_metrics
from frontier_engine.robots import rules_from_pages, split_allowed
from frontier_engine.schedule import assign_discovered_seq_counted, priority_expr, rank_batch
from frontier_engine.seen_store import SeenExactStore
from frontier_engine.snapshots import SnapshotStore

OUTPUT_TABLES = ("search_results", "pdp_rows", "review_rows", "batches", "metrics")


@dataclass
class CrawlResult:
    rounds: int
    store: SnapshotStore
    frontier: DataFrame
    seen_exact: DataFrame
    seen_shards: DataFrame
    outputs: dict[str, DataFrame] = field(default_factory=dict)


class _FrontierState:
    """Merge-on-read frontier over the snapshot store's immutable dirs."""

    # fold status log + deltas into the base once the log outgrows this
    # fraction of the base
    COMPACT_RATIO = 0.25

    def __init__(self, spark: SparkSession, base_paths: list[str], delta_paths: list[str],
                 status_paths: list[str], base_rows: int, status_rows: int):
        self.spark = spark
        self.base_paths = base_paths
        self.delta_paths = delta_paths
        self.status_paths = status_paths
        self.base_rows = base_rows
        self.status_rows = status_rows

    def to_meta(self) -> dict:
        return {
            "base_paths": self.base_paths, "delta_paths": self.delta_paths,
            "status_paths": self.status_paths, "base_rows": self.base_rows,
            "status_rows": self.status_rows,
        }

    @classmethod
    def from_meta(cls, spark: SparkSession, meta: dict) -> "_FrontierState":
        return cls(
            spark, list(meta["base_paths"]), list(meta["delta_paths"]),
            list(meta["status_paths"]), int(meta["base_rows"]), int(meta["status_rows"]),
        )

    def view(self, status: DataFrame | None = None) -> DataFrame:
        """Current frontier: rows ∪ deltas with the status log applied,
        then *status* (a commit's not-yet-written facts) if given. The
        log holds ≤1 row per url_hash (a url is fetched at most once
        ever), so a left join + coalesce is the exact MERGE semantics."""
        fr = self.spark.read.parquet(*(self.base_paths + self.delta_paths))
        logs = [self.spark.read.parquet(*self.status_paths)] if self.status_paths else []
        for slog in logs + ([status] if status is not None else []):
            fr = (
                fr.join(slog, "url_hash", "left")
                .withColumn("status", F.coalesce("new_status", "status"))
                .drop("new_status")
            )
        return fr

    def should_compact(self) -> bool:
        total = self.base_rows or 1
        return self.status_rows > total * self.COMPACT_RATIO or len(self.status_paths) > 16


def _ingest_candidates(
    cands: DataFrame,
    seen: SeenExactStore,
    rules: DataFrame,
    cfg: EngineConfig,
    seq_offset: int,
) -> tuple[DataFrame, DataFrame, DataFrame, int, DataFrame]:
    """candidates (url, parent_url, depth, listing_score) →
    (pending_rows, blocked_rows, unseen, n_unseen, cache_handle).

    ``cache_handle`` is the frame assign_discovered_seq_counted actually
    persisted; the caller MUST unpersist it after the round's commit
    (unpersisting a derived frame is a no-op — ADVICE r2 leak).

    Mirrors simulator.enqueue exactly: within-round dedupe keeps the
    (depth, parent_url, url)-least row per canon url; discovered_seq is
    assigned over unseen candidates in (depth, parent_url, url) order
    (BEFORE the robots split, so blocked urls consume sequence numbers
    and enter the seen set, like a framework dupefilter would).
    """
    cands = with_canon_columns(cands)
    w = Window.partitionBy("canon_url").orderBy("depth", "parent_url", "url")
    deduped = (
        cands.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")
    )
    if cfg.trap_cap is not None:
        # per-round per-(host, url-template) admission budget (traps.py,
        # r5; opt-in — default None keeps reference crawl-order parity).
        # Applied pre-seen-filter so discarded URLs stay unseen and can
        # compete under a later round's budget (IRLbot-style deferral);
        # same (depth, parent_url, url) order as the dedupe above.
        from frontier_engine.traps import cap_per_template

        deduped = cap_per_template(
            deduped, cfg.trap_cap, order_cols=["depth", "parent_url"],
            url_col="canon_url",  # sorted-params form → stabler family keys
        )
    unseen = S.filter_unseen(deduped, seen.bloom(), seen.parts(), *seen.bloom_sizing)
    unseen, n_unseen, cache_handle = assign_discovered_seq_counted(unseen, seq_offset)

    allowed, blocked = split_allowed(unseen, rules, cfg)
    mk = lambda df, status: df.select(
        "url",
        "canon_url",
        "url_hash",
        "host",
        F.col("depth").cast("int").alias("depth"),
        F.col("listing_score").cast("double").alias("listing_score"),
        priority_expr(F.col("depth"), F.col("listing_score")),
        F.col("discovered_seq").cast("long").alias("discovered_seq"),
        F.lit(status).alias("status"),
    )
    return mk(allowed, "pending"), mk(blocked, "robots_blocked"), unseen, n_unseen, cache_handle


class _CrawlState:
    """The crawl's durable state — merge-on-read frontier, seen store
    (with its bloom) and the discovered_seq offset — and the steps both
    drivers run on it: ``ingest`` → ``schedule`` → ``commit``."""

    def __init__(self, spark: SparkSession, store: SnapshotStore, pages: DataFrame,
                 cfg: EngineConfig):
        self.spark, self.store, self.cfg = spark, store, cfg
        self.rules = rules_from_pages(pages, cfg).cache()
        self.rules.count()
        self.seen_root = os.path.join(store.root, "seen_exact_store")
        self.seen = SeenExactStore(
            spark, self.seen_root, n_buckets=cfg.seen_exact_buckets,
            bloom_sizing=(cfg.n_seen_shards, cfg.bloom_bits_per_shard, cfg.bloom_num_hashes),
        )
        self.fstate: _FrontierState | None = None  # set by the first commit
        self.seq = 0

    def load(self, man: dict) -> dict:
        """Adopt the state a published manifest records; returns its meta."""
        meta = man["meta"]
        self.seen = SeenExactStore.from_meta(self.spark, self.seen_root, meta["seen_exact"])
        self.fstate = _FrontierState.from_meta(self.spark, meta["frontier"])
        self.seq = int(meta["seq_offset"])
        return meta

    def ingest(self, cands: DataFrame, rnd: int) -> tuple[DataFrame, DataFrame, DataFrame]:
        """Ingest round *rnd*'s discoveries: seen-filter them, assign their
        discovered_seq and record them in the seen store. Returns
        (new_rows, blocked, cache_handle); the caller passes new_rows to
        ``commit`` and unpersists the handle after."""
        pending, blocked, unseen, n_new, cache_handle = _ingest_candidates(
            cands, self.seen, self.rules, self.cfg, self.seq
        )
        self.seen.append(unseen, rnd, n_new=n_new)
        self.seq += n_new
        return pending.unionByName(blocked), blocked, cache_handle

    def schedule(self) -> tuple[DataFrame, int]:
        """Rank the pending frontier into the next batch (cached; already
        released when it is empty)."""
        pending = self.fstate.view().where(F.col("status") == "pending")
        delay_dim = self.rules.select("host", "crawl_delay_s", "max_concurrency")
        batch = rank_batch(
            pending.join(F.broadcast(delay_dim), "host", "left"), self.cfg
        ).drop("crawl_delay_s", "max_concurrency").cache()
        n_batch = batch.count()
        if n_batch == 0:
            batch.unpersist()
        return batch, n_batch

    def commit(self, snap_id: int, meta: dict, new_rows: DataFrame | None = None,
               status: DataFrame | None = None) -> dict:
        """Commit *new_rows* (frontier rows) and *status* (url_hash →
        new_status facts) as snapshot *snap_id*, folding the frontier
        chain into a fresh base once its trigger fires; then advance it,
        stamp it and the seen store into the manifest meta and publish.
        The first commit writes the frontier base."""
        tables = {}
        if self.fstate is None:
            tables["frontier_base"] = new_rows
        elif new_rows is not None or status is not None:
            if self.fstate.should_compact():
                # fold log + deltas into a fresh base (bounded, amortized
                # rewrite); THIS commit's status facts fold in too
                base = self.fstate.view(status)
                tables["frontier_base"] = base if new_rows is None else base.unionByName(new_rows)
            else:
                if new_rows is not None:
                    tables["frontier_delta"] = new_rows
                if status is not None:
                    tables["status_log"] = status
        entry = self.store.commit(
            snap_id, tables, meta=dict(meta, seq_offset=self.seq), finalize=False
        )
        written = entry["tables"]
        if "frontier_base" in written:
            binfo = written["frontier_base"]
            self.fstate = _FrontierState(self.spark, [binfo["path"]], [], [],
                                         base_rows=binfo["rows"], status_rows=0)
        if "frontier_delta" in written:
            self.fstate.delta_paths.append(written["frontier_delta"]["path"])
            self.fstate.base_rows += int(written["frontier_delta"]["rows"])
        if "status_log" in written:
            self.fstate.status_paths.append(written["status_log"]["path"])
            self.fstate.status_rows += int(written["status_log"]["rows"])
        entry["meta"]["frontier"] = self.fstate.to_meta()
        entry["meta"]["seen_exact"] = self.seen.to_meta()
        self.store.publish(entry)
        return entry


def _seed_candidates(seeds: DataFrame) -> DataFrame:
    return seeds.select(
        F.col("url"),
        F.lit("").alias("parent_url"),
        F.lit(0).alias("depth"),
        F.lit(0.0).alias("listing_score"),
    )


def _fetch_and_parse(batch: DataFrame, pages: DataFrame, args: P.CrawlArgs,
                     cfg: EngineConfig):
    """Fetch and parse a round's batch. Returns (fetched, missing,
    parse_round, status): ``fetched`` and the parse intermediates are
    persisted for the caller to release; ``status`` is the round's
    status transitions — a per-batch FACT table, not a frontier rewrite."""
    fetched, missing = fetch_batch(batch, pages)
    fetched = fetched.cache()
    # one tokenization per page: rows and candidates project from the
    # persisted per-type extraction intermediates (parse.parse_round)
    pround = P.parse_round(fetched, args, cfg)
    status = (
        fetched.select("url_hash").withColumn("new_status", F.lit("fetched"))
        .unionByName(missing.select("url_hash").withColumn("new_status", F.lit("missing")))
    )
    return fetched, missing, pround, status


def _read_outputs(spark: SparkSession, out_dir: str) -> dict[str, DataFrame | None]:
    outputs = {}
    for name in OUTPUT_TABLES:
        path = os.path.join(out_dir, name)
        try:
            # a table whose every round was empty leaves a file-less
            # partitioned dir (nothing to infer a schema from) — treat
            # like a missing table
            outputs[name] = spark.read.parquet(path) if os.path.exists(path) else None
        except Exception:
            outputs[name] = None
    return outputs


def run_crawl(
    spark: SparkSession,
    pages: DataFrame,
    cfg: EngineConfig,
    args: P.CrawlArgs,
    seeds: DataFrame | None = None,
    max_rounds: int = 50,
    snapshot_dir: str | None = None,
    resume: bool = False,
    resume_snap: int | None = None,
) -> CrawlResult:
    """Run the crawl to frontier exhaustion (or *max_rounds*).

    *seeds*: DataFrame with a ``url`` column (depth-0 landing URLs).
    *resume*: continue from the snapshot store's LATEST state — seeds are
    ignored, outputs keep appending (resume == straight-through, verified
    by the resume property test).
    *resume_snap*: time-travel — roll LATEST back to this snapshot id
    first (Iceberg rollback_to_snapshot) and replay from there. Replayed
    rounds are idempotent: state snap dirs overwrite and per-round output
    partitions are dynamically overwritten, so a replay converges to the
    straight-through result (tested).
    """
    snapshot_dir = snapshot_dir or tempfile.mkdtemp(prefix="frontier-snap-")
    store = SnapshotStore(snapshot_dir)
    out_dir = os.path.join(snapshot_dir, "outputs")
    state = _CrawlState(spark, store, pages, cfg)

    if resume:
        if resume_snap is not None:
            store.rollback(resume_snap)
        snap_id = store.latest_id()
        if snap_id is None:
            raise ValueError("resume=True but snapshot store is empty")
        start_round = int(state.load(store.manifest(snap_id))["round"]) + 1
    else:
        if seeds is None:
            raise ValueError("seeds required for a fresh crawl")
        new_rows, _, cache_handle = state.ingest(_seed_candidates(seeds), 0)
        state.commit(0, {"round": 0}, new_rows=new_rows)
        cache_handle.unpersist()
        start_round = 1

    rounds_done = start_round - 1
    for rnd in range(start_round, max_rounds + 1):
        batch, n_batch = state.schedule()
        if n_batch == 0:
            break
        rounds_done = rnd

        append_output(out_dir, "batches", batch.select("host", "url", "rank"), rnd)
        fetched, missing, pround, status = _fetch_and_parse(batch, pages, args, cfg)
        new_rows, new_blocked, cache_handle = state.ingest(pround.candidates, rnd)

        for name, df in pround.parts.items():
            append_output(out_dir, name, df, rnd)
        append_output(
            out_dir, "metrics",
            round_metrics(rnd, batch, fetched, missing, new_blocked, new_rows).drop("round"),
            rnd,
        )
        state.commit(rnd, {"round": rnd}, new_rows=new_rows, status=status)

        batch.unpersist()
        pround.unpersist()
        fetched.unpersist()
        cache_handle.unpersist()  # the ACTUAL persisted frame (not the derived unseen)

    state.rules.unpersist()
    return CrawlResult(
        rounds=rounds_done,
        store=store,
        frontier=state.fstate.view(),
        seen_exact=state.seen.as_df(),
        seen_shards=state.seen.bloom(),
        outputs=_read_outputs(spark, out_dir),
    )


def append_output(out_dir: str, name: str, df: DataFrame, rnd: int):
    """Per-round output commit, partitioned by round with DYNAMIC partition
    overwrite: appending a new round only adds its partition, while
    REPLAYING a round (time-travel resume) replaces exactly that round's
    partition instead of double-appending — idempotent round replay."""
    (
        df.withColumn("round", F.lit(rnd))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("round")
        .parquet(os.path.join(out_dir, name))
    )
