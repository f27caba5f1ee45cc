"""Physical-plan regression guards: the 100 TB story's structural
invariants, asserted on executed plans (the pytest twin of
scripts_plan_audit.py — if one of these trips, a scale-killer crept in).
"""

import pytest
from pyspark.sql import functions as F

from frontier_engine.canon import with_canon_columns
from frontier_engine.config import EngineConfig
from frontier_engine.schedule import assign_discovered_seq_counted, rank_batch
from frontier_engine.seen_store import SeenExactStore


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def cand(spark):
    fr = spark.range(20_000).select(
        F.concat(
            F.lit("https://www.h"), (F.col("id") % 50).cast("string"),
            F.lit(".example/p/"), F.col("id"), F.lit("?b=2&a=1"),
        ).alias("url")
    )
    return with_canon_columns(fr)


def test_bucketed_confirm_join_moves_only_probe_side(spark, cand, tmp_path):
    store = SeenExactStore(spark, str(tmp_path / "seen"), n_buckets=8)
    store.append(cand.where(F.col("url_hash") % 2 == 0), "seed")
    base = store.parts()[0]
    j = cand.select("url_hash").join(base.select("url_hash"), "url_hash", "left_semi")
    p = _plan(j)
    # exactly one Exchange: the probe side shuffles to the bucket hash;
    # the bucketed base is scanned in place
    assert p.count("Exchange") == 1, p


def test_assign_discovered_seq_has_no_window_node(cand):
    c = cand.select("url", F.lit(0).alias("depth"), F.lit("").alias("parent_url"))
    out, n, handle = assign_discovered_seq_counted(c, 0)
    p = _plan(out)
    assert n == 20_000
    assert "Window" not in p, p  # range-partition + per-partition offsets
    handle.unpersist()


def test_rank_batch_has_no_single_partition_exchange(cand):
    cfg = EngineConfig(n_seen_shards=8, salt_partitions=4)
    pend = cand.select(
        "url", "host", "url_hash",
        (F.col("url_hash") % 1000).cast("double").alias("priority"),
        F.col("url_hash").alias("discovered_seq"),
        F.lit(10.0).alias("crawl_delay_s"), F.lit(10).alias("max_concurrency"),
    )
    p = _plan(rank_batch(pend, cfg))
    assert "SinglePartition" not in p, p


def test_frontier_ingest_has_no_python_nodes_outside_seen_check(spark, cand):
    """Canon + dedupe window + rank are pure JVM; the only Python surface
    in the schedule path is the bloom membership kernel."""
    p = _plan(cand)
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert node not in p, (node, p)


def test_pages_scan_pushes_filters_and_prunes_columns(spark, tmp_path):
    path = str(tmp_path / "pages")
    spark.range(1000).select(
        F.concat(F.lit("https://www.h"), (F.col("id") % 5).cast("string"),
                 F.lit(".example/p/"), F.col("id")).alias("url"),
        F.lit("x").alias("text"), F.lit(b"h").alias("html"), F.lit("en").alias("lang"),
    ).write.parquet(path)
    q = (
        spark.read.parquet(path)
        .where(F.col("url").startswith("https://www.h1."))
        .select("url", "text")
    )
    p = _plan(q)
    assert "PushedFilters: [" in p and "StartsWith" in p, p
    read_schema = p.split("ReadSchema")[-1]
    assert "html" not in read_schema, read_schema  # binary column pruned


def test_fetch_join_broadcasts_batch_never_shuffles_pages(spark, tmp_path):
    """Round-3 guard: a left-outer join from the batch can never
    broadcast the batch (Spark streams the preserved side), so the old
    shape silently shuffled the whole pages table once it outgrew the
    broadcast threshold. The inner+anti decomposition must show the
    batch on the build side and NO exchange on the pages scan."""
    from frontier_engine.fetch import fetch_batch

    path = str(tmp_path / "pages")
    spark.range(50_000).select(
        F.concat(F.lit("https://www.h"), (F.col("id") % 5).cast("string"),
                 F.lit(".example/p/"), F.col("id")).alias("url"),
        F.current_timestamp().alias("warc_ts"), F.lit(b"h").alias("html"),
        F.lit("x").alias("text"), F.lit("en").alias("lang"),
    ).write.parquet(path)
    pages = spark.read.parquet(path)
    batch = spark.range(200).select(
        F.concat(F.lit("https://www.h1.example/p/"), F.col("id") * 5 + 1).alias("url"),
        F.lit("www.h1.example").alias("host"), F.lit(1).alias("rank"),
    )
    fetched, missing = fetch_batch(batch, pages)
    fetched.write.format("noop").mode("overwrite").save()
    missing.write.format("noop").mode("overwrite").save()
    pf = _plan(fetched)
    assert "BroadcastHashJoin" in pf, pf
    # the pages side must reach the join without any Exchange (scan in place)
    assert "Exchange hashpartitioning" not in pf, pf
    pm = _plan(missing)
    assert "LeftAnti" in pm and "BroadcastHashJoin" in pm, pm


def test_ivf_topk_join_no_cartesian_shuffles_on_list_id_only(spark):
    """r4 guard: batch-query ANN must equi-join on the probed list id —
    no cartesian/nested-loop over queries×corpus, no SinglePartition
    exchange; the per-query window partitions by query_id."""
    import numpy as np
    import pandas as pd

    from frontier_engine.similarity import ivf_topk_join

    rng = np.random.default_rng(11)
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": range(400),
             "embedding": [rng.normal(size=16).astype("float64").tolist() for _ in range(400)]}
        )
    )
    queries = spark.createDataFrame(
        pd.DataFrame(
            {"query_id": range(20),
             "embedding": [rng.normal(size=16).astype("float64").tolist() for _ in range(20)]}
        )
    )
    out = ivf_topk_join(queries, corpus, k=5, n_lists=8, n_probe=2)
    p = _plan(out)
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "SinglePartition" not in p, p


def test_minhash_dedup_join_never_self_joins_corpus(spark, tmp_path):
    """r4 guard: the incremental ingest dedup scans the corpus parquet
    exactly twice — once for its band-bucket side, once for the exact
    verify — never corpus×corpus (and with a precomputed corpus_bands
    table, exactly once; see test_textops)."""
    from frontier_engine.textops import minhash_dedup_join

    path = str(tmp_path / "corpus")
    spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("words of document number "), F.col("id"),
                 F.lit(" padded with shared filler text tokens")).alias("text"),
    ).write.parquet(path)
    corpus = spark.read.parquet(path)
    batch = spark.range(5).select(
        (F.col("id") + 10_000).alias("doc_id"),
        F.concat(F.lit("words of document number "), F.col("id"),
                 F.lit(" padded with shared filler text tokens")).alias("text"),
    )
    out = minhash_dedup_join(batch, corpus)
    # r6 shape: the candidate pairs are checkpointed at build (the band
    # side executed exactly once there), so the returned plan scans the
    # corpus parquet exactly ONCE — the semi-filtered exact verify
    leaves = out._jdf.queryExecution().optimizedPlan().collectLeaves()
    scans = [str(leaves.apply(i)) for i in range(leaves.size())]
    assert sum("parquet" in s for s in scans) == 1, scans
    p = _plan(out)
    assert "CartesianProduct" not in p, p


def test_stratified_sample_has_no_single_partition_window(spark):
    """r4 guard: the salted two-phase sampler must never funnel a group
    into a SinglePartition exchange (the hot-group straggler shape)."""
    from frontier_engine.textops import stratified_sample

    docs = spark.range(50_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 9, "en").otherwise("fr").alias("lang"),
        F.lit("text").alias("text"),
    )
    out = stratified_sample(docs, {"en": 100, "fr": 50}, salt_partitions=16)
    p = _plan(out)
    assert "SinglePartition" not in p, p
    assert p.count("Window") == 2, p  # phase-1 salted + phase-2 exact


def test_repetition_metrics_zero_shuffle_pure_jvm(spark):
    """r6 guard (supersedes the r4 hash-shuffle guard): every repetition
    signal is within-document, so the kernel must be a pure per-row
    JVM projection — NO exchange of any kind (the r4 shape shuffled
    Σ n × grams hash rows through two aggregations), no Python nodes,
    no SinglePartition, and grams still keyed by xxhash64 chains (gram
    TEXT is never materialized)."""
    from frontier_engine.textops import repetition_metrics

    docs = spark.range(5_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta epsilon zeta "), F.col("id").cast("string")).alias("text"),
    )
    p = _plan(repetition_metrics(docs))
    assert "SinglePartition" not in p, p
    assert "Python" not in p and "ArrowEval" not in p, p
    assert "xxhash64" in p, p
    assert "Exchange" not in p, p  # zero shuffles: strictly stronger
    assert "HashAggregate" not in p, p


def test_pii_clean_chain_pure_jvm_no_single_partition(spark):
    """r4 guard: the cleaning chain (PII redact -> C4 line filter ->
    repeated-line dedup) must stay pure-JVM (no Python eval nodes), keep
    line-hash aggregation partial (map-side) and never funnel through a
    SinglePartition exchange."""
    from frontier_engine.textops import (
        c4_line_filter, pii_redact, repeated_line_dedup,
    )

    docs = spark.range(50_000).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("Document body number "), F.col("id"),
            F.lit(" with a mail to u"), F.col("id"),
            F.lit("@example.com here.\nEnable JavaScript now.\nShare.\nAll rights reserved worldwide."),
        ).alias("text"),
    )
    pii = pii_redact(docs)
    c4 = c4_line_filter(pii.select("doc_id", F.col("clean_text").alias("text")))
    out = repeated_line_dedup(
        c4.select("doc_id", F.col("c4_text").alias("text")), min_docs=3
    )
    p = _plan(out)
    assert "SinglePartition" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert "partial_count" in p or "HashAggregate" in p, p
    # redact + filter stages collapse into the scan's projection
    # (no exchange before the posexplode)
    assert p.count("Window") == 0, p


def test_pack_sequences_no_single_partition_window(spark):
    """r4 guard: sequence packing's cumsum must ride the range
    partitioning (window keyed on the physical partition id) — a global
    orderBy window would read Window ... SinglePartition and serialize
    the corpus through one task."""
    from frontier_engine.textops import pack_sequences_counted

    docs = spark.range(100_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("tok "), F.col("id"), F.lit(" tok tok tok")).alias("text"),
    )
    out, handle = pack_sequences_counted(docs, seq_len=2048, n_parts=8)
    p = _plan(out)
    handle.unpersist()
    assert "SinglePartition" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
