"""Crawl-ordering + seen-set parity vs the reference-discipline simulator,
and resume == straight-through (SURVEY §5.4/§5.5 — the north-rule gates).

Uses a small dedicated world so the full loop stays fast.
"""

import os

import pytest

from frontier_engine.config import EngineConfig
from frontier_engine.crawler import run_crawl
from frontier_engine.fixtures import WorldSpec, generate_world
from frontier_engine.parse import CrawlArgs
from frontier_engine.simulator import pages_dict, simulate


@pytest.fixture(scope="module")
def small_spec():
    return WorldSpec(n_hosts=3, listings_total=24, max_reviews=60)


@pytest.fixture(scope="module")
def small_world(small_spec):
    return generate_world(small_spec)


@pytest.fixture(scope="module")
def small_cfg():
    return EngineConfig(n_seen_shards=4, bloom_bits_per_shard=1 << 14, salt_partitions=2)


@pytest.fixture(scope="module")
def crawl(spark, small_spec, small_world, small_cfg, tmp_path_factory):
    args = CrawlArgs(small_spec.checkin, small_spec.checkout, small_spec.price_max)
    pages = spark.createDataFrame(small_world["pages"])
    seeds = spark.createDataFrame(small_world["seeds"][["url"]])
    res = run_crawl(
        spark, pages, small_cfg, args, seeds=seeds, max_rounds=40,
        snapshot_dir=str(tmp_path_factory.mktemp("snap")),
    )
    sim = simulate(small_spec, pages_dict(small_world), small_cfg, args)
    return res, sim


def test_order_parity(crawl):
    res, sim = crawl
    eng = sorted((r["round"], r.host, r.url, r["rank"]) for r in res.outputs["batches"].collect())
    assert eng == sorted(sim.batches)


def test_seen_set_parity(crawl):
    res, sim = crawl
    eng_seen = {r.canon_url for r in res.seen_exact.collect()}
    assert eng_seen == sim.seen


def test_politeness_never_exceeded(crawl, small_cfg):
    res, sim = crawl
    per = {}
    for r in res.outputs["batches"].collect():
        per.setdefault((r["round"], r.host), 0)
        per[(r["round"], r.host)] += 1
    # max budget = min(round/delay, conc) with min fixture delay 5 → 10
    assert max(per.values()) <= small_cfg.concurrent_per_host


def test_robots_blocked_recorded(crawl):
    res, sim = crawl
    from pyspark.sql import functions as F

    blocked = res.frontier.where(F.col("status") == "robots_blocked")
    eng_blocked = {r.url for r in blocked.collect()}
    assert eng_blocked == set(sim.blocked)
    assert all("/api/v3/PdpReviews" in u for u in eng_blocked)


def test_missing_recorded(crawl):
    res, sim = crawl
    from pyspark.sql import functions as F

    eng_missing = {r.url for r in res.frontier.where(F.col("status") == "missing").collect()}
    assert eng_missing == set(sim.missing)


def test_metrics_totals(crawl):
    res, sim = crawl
    from pyspark.sql import functions as F

    m = res.outputs["metrics"].agg(
        F.sum("scheduled").alias("s"), F.sum("fetched").alias("f"), F.sum("missing").alias("mi")
    ).collect()[0]
    assert m.s == len(sim.batches)
    assert m.f == len(sim.fetched)
    assert m.mi == len(sim.missing)


def test_resume_equals_straight_through(spark, small_spec, small_world, small_cfg, tmp_path_factory):
    args = CrawlArgs(small_spec.checkin, small_spec.checkout, small_spec.price_max)
    pages = spark.createDataFrame(small_world["pages"])
    seeds = spark.createDataFrame(small_world["seeds"][["url"]])
    d1 = str(tmp_path_factory.mktemp("full"))
    d2 = str(tmp_path_factory.mktemp("resumed"))
    full = run_crawl(spark, pages, small_cfg, args, seeds=seeds, max_rounds=40, snapshot_dir=d1)
    run_crawl(spark, pages, small_cfg, args, seeds=seeds, max_rounds=2, snapshot_dir=d2)
    cont = run_crawl(spark, pages, small_cfg, args, max_rounds=40, snapshot_dir=d2, resume=True)
    b1 = sorted((r["round"], r.host, r.url, r["rank"]) for r in full.outputs["batches"].collect())
    b2 = sorted((r["round"], r.host, r.url, r["rank"]) for r in cont.outputs["batches"].collect())
    assert b1 == b2
    s1 = {r.canon_url for r in full.seen_exact.collect()}
    s2 = {r.canon_url for r in cont.seen_exact.collect()}
    assert s1 == s2


def test_lineage_manifest(crawl):
    res, _ = crawl
    sid = res.store.latest_id()
    man = res.store.manifest(sid)
    assert man["snapshot_id"] == sid
    assert man["parent_id"] == sid - 1
    # delta-shaped commits: each round writes ONLY its deltas; full
    # frontier/seen tables appear only at compactions, and the bloom is
    # the seen store's base index (no table or meta key of its own)
    assert "seen_shards" not in man["tables"]
    assert "shards" not in man["meta"]
    assert ("frontier_delta" in man["tables"]) or ("frontier_base" in man["tables"])
    for info in man["tables"].values():
        assert info["rows"] == sum(p["rows"] for p in info["partitions"])
        assert all("file" in p and "bytes" in p for p in info["partitions"])
    # merge-on-read state is reconstructible from the manifest meta alone
    fmeta = man["meta"]["frontier"]
    assert fmeta["base_paths"] and isinstance(fmeta["delta_paths"], list)
    smeta = man["meta"]["seen_exact"]
    assert smeta["base_path"] is not None
    assert smeta["bloom_path"] is not None
    assert os.path.isdir(smeta["bloom_path"])
    # commit bytes scale with the batch, not the frontier: a non-compaction
    # round's frontier_delta is strictly smaller than the full frontier
    if "frontier_delta" in man["tables"]:
        total_frontier = res.frontier.count()
        assert man["tables"]["frontier_delta"]["rows"] < total_frontier


def test_time_travel_resume_is_idempotent(spark, small_spec, small_world, small_cfg, tmp_path_factory):
    """Run to completion, roll back to snapshot 2, replay: batches, seen
    set and per-round output row counts must equal straight-through —
    replayed rounds overwrite their own output partitions, never
    double-append."""
    args = CrawlArgs(small_spec.checkin, small_spec.checkout, small_spec.price_max)
    pages = spark.createDataFrame(small_world["pages"])
    seeds = spark.createDataFrame(small_world["seeds"][["url"]])
    d1 = str(tmp_path_factory.mktemp("tt-full"))
    d2 = str(tmp_path_factory.mktemp("tt-replay"))
    full = run_crawl(spark, pages, small_cfg, args, seeds=seeds, max_rounds=40, snapshot_dir=d1)
    run_crawl(spark, pages, small_cfg, args, seeds=seeds, max_rounds=40, snapshot_dir=d2)
    replay = run_crawl(
        spark, pages, small_cfg, args, max_rounds=40, snapshot_dir=d2,
        resume=True, resume_snap=2,
    )
    assert replay.rounds == full.rounds
    b1 = sorted((r["round"], r.host, r.url, r["rank"]) for r in full.outputs["batches"].collect())
    b2 = sorted((r["round"], r.host, r.url, r["rank"]) for r in replay.outputs["batches"].collect())
    assert b1 == b2  # equality implies no duplicated replay rows
    s1 = {r.canon_url for r in full.seen_exact.collect()}
    s2 = {r.canon_url for r in replay.seen_exact.collect()}
    assert s1 == s2
    m1 = full.outputs["metrics"].count()
    m2 = replay.outputs["metrics"].count()
    assert m1 == m2


def test_no_cached_frames_leak_across_rounds(spark, small_spec, small_world, tmp_path_factory):
    """ADVICE r2: assign_discovered_seq_counted persisted a frame the
    crawler's derived-frame unpersist never released — one cached
    round-candidate frame leaked per round (unbounded executor storage on
    a long crawl). Guard: after run_crawl returns, the session holds no
    more persistent RDDs than before it started."""
    cfg = EngineConfig(n_seen_shards=4, bloom_bits_per_shard=1 << 14, salt_partitions=2)
    args = CrawlArgs(small_spec.checkin, small_spec.checkout, small_spec.price_max)
    pages = spark.createDataFrame(small_world["pages"])
    seeds = spark.createDataFrame(small_world["seeds"][["url"]])
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    run_crawl(
        spark, pages, cfg, args, seeds=seeds, max_rounds=40,
        snapshot_dir=str(tmp_path_factory.mktemp("snap-leak")),
    )
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after <= before, f"cached frames leaked: {before} -> {after}"


def test_aggressive_compaction_matches_simulator(spark, small_spec, small_world, tmp_path_factory,
                                                monkeypatch):
    """Both drivers share one fold, so a fold bug would pass the
    stream-vs-batch comparison on both sides: check the folded crawl
    against the reference simulator instead, and that the final
    manifest's chains stay bounded by the fold triggers. The seen store
    folds at every append, so its bloom must cover the whole seen set."""
    from frontier_engine import crawler as C
    from frontier_engine.seen_store import SeenExactStore

    monkeypatch.setattr(C._FrontierState, "COMPACT_RATIO", 0.01)
    monkeypatch.setattr(SeenExactStore, "COMPACT_RATIO", 0.0)
    monkeypatch.setattr(SeenExactStore, "COMPACT_MIN_ROWS", 0)
    cfg = EngineConfig(n_seen_shards=4, bloom_bits_per_shard=1 << 14, salt_partitions=2)
    args = CrawlArgs(small_spec.checkin, small_spec.checkout, small_spec.price_max)
    pages = spark.createDataFrame(small_world["pages"])
    seeds = spark.createDataFrame(small_world["seeds"][["url"]])
    res = run_crawl(
        spark, pages, cfg, args, seeds=seeds, max_rounds=40,
        snapshot_dir=str(tmp_path_factory.mktemp("snap-compact")),
    )
    sim = simulate(small_spec, pages_dict(small_world), cfg, args)
    assert res.rounds > 2
    eng = sorted((r["round"], r.host, r.url, r["rank"]) for r in res.outputs["batches"].collect())
    assert eng == sorted(sim.batches)
    assert {r.canon_url for r in res.seen_exact.collect()} == sim.seen
    # the rebuilt bloom still holds every seen key (a bloom has no false
    # negatives); the exact store alone cannot show a lost bloom build
    from frontier_engine.seen import bloom_positive_hashes

    meta = res.store.manifest(res.store.latest_id())["meta"]
    assert meta["seen_exact"]["delta_rows"] == 0  # every non-empty append folded
    positives = bloom_positive_hashes(res.seen_exact, res.seen_shards, cfg.n_seen_shards,
                                      cfg.bloom_bits_per_shard, cfg.bloom_num_hashes)
    assert positives.count() == res.seen_exact.count()
    assert len(meta["frontier"]["delta_paths"]) + len(meta["frontier"]["status_paths"]) < res.rounds


def test_resume_with_changed_bloom_sizing(spark, crawl, small_spec, small_world, small_cfg,
                                          tmp_path_factory, monkeypatch):
    """The bloom's sizing is part of the seen store's state: a crawl
    resumed under a config with a different sizing keeps probing the
    stored bloom with the sizing it was built with. Seen-store folds are
    forced at every append so the bloom carries every seen key; the
    result must equal the straight-through crawl."""
    from frontier_engine.seen_store import SeenExactStore

    monkeypatch.setattr(SeenExactStore, "COMPACT_RATIO", 0.0)
    monkeypatch.setattr(SeenExactStore, "COMPACT_MIN_ROWS", 0)
    args = CrawlArgs(small_spec.checkin, small_spec.checkout, small_spec.price_max)
    pages = spark.createDataFrame(small_world["pages"])
    seeds = spark.createDataFrame(small_world["seeds"][["url"]])
    resized = EngineConfig(n_seen_shards=8, bloom_bits_per_shard=1 << 16, salt_partitions=2)
    full, _ = crawl
    d2 = str(tmp_path_factory.mktemp("sizing-resumed"))
    run_crawl(spark, pages, small_cfg, args, seeds=seeds, max_rounds=2, snapshot_dir=d2)
    cont = run_crawl(spark, pages, resized, args, max_rounds=40, snapshot_dir=d2, resume=True)
    assert cont.rounds == full.rounds
    b1 = sorted((r["round"], r.host, r.url, r["rank"]) for r in full.outputs["batches"].collect())
    b2 = sorted((r["round"], r.host, r.url, r["rank"]) for r in cont.outputs["batches"].collect())
    assert b1 == b2
    s1 = {r.canon_url for r in full.seen_exact.collect()}
    s2 = {r.canon_url for r in cont.seen_exact.collect()}
    assert s1 == s2
    smeta = cont.store.manifest(cont.store.latest_id())["meta"]["seen_exact"]
    assert smeta["bloom_sizing"] == [small_cfg.n_seen_shards, small_cfg.bloom_bits_per_shard,
                                     small_cfg.bloom_num_hashes]
