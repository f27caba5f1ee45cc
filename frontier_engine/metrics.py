"""Per-round fetch/parse metrics (SURVEY §2.6 A4, §2.10 ST4).

The reference's stats live in its framework collector + AutoThrottle
latency feedback (settings.py.dist:163-175). The engine records a metrics
row per (round, host): scheduled/fetched/missing/blocked counts and bytes
— the north rule's "fetch/parse metrics", and the input signal for the
adaptive-delay feedback (politeness ST4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _per_host(df: DataFrame, name: str, extra=None) -> DataFrame:
    aggs = [F.count("*").alias(name)]
    if extra is not None:
        aggs.append(extra)
    return df.groupBy("host").agg(*aggs)


def fetch_side_metrics(batch: DataFrame, fetched: DataFrame, missing: DataFrame) -> DataFrame:
    """The half of a round's metrics known at fetch time: per-host
    scheduled/fetched/missing counts + bytes. The streaming face stashes
    this half and completes the row when the round's discoveries are
    actually ingested (next micro-batch) — so the metrics table is
    batch-identical, not shifted by one round (ADVICE r3)."""
    return (
        _per_host(batch, "scheduled")
        .join(
            _per_host(
                fetched, "fetched", F.sum(F.octet_length("html")).alias("bytes_fetched")
            ),
            "host",
            "full",
        )
        .join(_per_host(missing, "missing"), "host", "full")
    )


def ingest_side_metrics(blocked: DataFrame, new_candidates: DataFrame) -> DataFrame:
    """The half of a round's metrics known only at candidate-ingest time:
    per-host robots_blocked / new_candidates counts."""
    return _per_host(blocked, "robots_blocked").join(
        _per_host(new_candidates, "new_candidates"), "host", "full"
    )


def combine_metrics(round_no: int, fetch_side: DataFrame, ingest_side: DataFrame) -> DataFrame:
    """Join the two halves into the final per-(round, host) row set:
    round int, host string, and the long counts scheduled, fetched,
    missing, robots_blocked, bytes_fetched and new_candidates (a host
    absent from one half reads 0 there)."""
    m = fetch_side.join(ingest_side, "host", "full")
    zero = F.lit(0).cast("long")
    return m.select(
        F.lit(round_no).cast("int").alias("round"),
        "host",
        F.coalesce("scheduled", zero).alias("scheduled"),
        F.coalesce("fetched", zero).alias("fetched"),
        F.coalesce("missing", zero).alias("missing"),
        F.coalesce("robots_blocked", zero).alias("robots_blocked"),
        F.coalesce("bytes_fetched", zero).alias("bytes_fetched"),
        F.coalesce("new_candidates", zero).alias("new_candidates"),
    )


def round_metrics(
    round_no: int,
    batch: DataFrame,
    fetched: DataFrame,
    missing: DataFrame,
    blocked: DataFrame,
    new_candidates: DataFrame,
) -> DataFrame:
    """One aggregation job per round over the (small) per-round frames.
    Defined as combine(fetch_side, ingest_side) so the batch driver and
    the streaming face (which computes the halves at different times)
    cannot diverge semantically."""
    return combine_metrics(
        round_no,
        fetch_side_metrics(batch, fetched, missing),
        ingest_side_metrics(blocked, new_candidates),
    )
