"""TTL re-crawl: expired urls become schedulable again; tombstones
survive compaction and re-adds; bloom shards keep stale positives for
expired keys but filter_unseen stays exact through the tombstoned
confirm."""

from pyspark.sql import types as T

from frontier_engine import seen as S
from frontier_engine.config import EngineConfig
from frontier_engine.recrawl import due_for_recrawl
from frontier_engine.seen_store import SeenExactStore

N_SHARDS = 4
CFG = EngineConfig(n_seen_shards=N_SHARDS, bloom_bits_per_shard=1 << 14)

CAND_SCHEMA = T.StructType(
    [
        T.StructField("url_hash", T.LongType()),
        T.StructField("canon_url", T.StringType()),
    ]
)


def _cands(spark, hashes):
    return spark.createDataFrame(
        [(int(h), f"https://h{h % 7}.example/p{h}") for h in hashes], CAND_SCHEMA
    )


def _filter_unseen(cands, shards, store):
    return S.filter_unseen(
        cands, shards, store.parts(), CFG.n_seen_shards, CFG.bloom_bits_per_shard,
        CFG.bloom_num_hashes,
    )


def _update_shards(new, shards):
    return S.update_shards(
        new, shards, CFG.n_seen_shards, CFG.bloom_bits_per_shard, CFG.bloom_num_hashes
    )


def test_expire_makes_url_unseen_again(spark, tmp_path):
    store = SeenExactStore(spark, str(tmp_path / "seen"), n_buckets=4)
    seen_keys = list(range(1, 101))
    cands = _cands(spark, seen_keys)
    shards = _update_shards(cands, S.empty_shards(spark)).cache()
    shards.count()
    store.append(cands, 0)

    # all seen → nothing passes
    assert _filter_unseen(_cands(spark, seen_keys), shards, store).count() == 0

    store.expire(_cands(spark, [3, 7, 11]).select("url_hash"), snap_id=1)

    back = _filter_unseen(_cands(spark, seen_keys), shards, store)
    assert {r.url_hash for r in back.collect()} == {3, 7, 11}

    # bloom shards still report the expired keys as (stale) positives —
    # pruning only; the semantics came from the tombstoned store
    pos = S.bloom_positive_hashes(
        _cands(spark, [3, 7, 11]), shards, N_SHARDS, CFG.bloom_bits_per_shard,
        CFG.bloom_num_hashes,
    )
    assert {r.url_hash for r in pos.collect()} == {3, 7, 11}


def test_readd_after_expire_is_seen_again(spark, tmp_path):
    store = SeenExactStore(spark, str(tmp_path / "seen2"), n_buckets=4)
    cands = _cands(spark, range(1, 51))
    shards = _update_shards(cands, S.empty_shards(spark)).cache()
    shards.count()
    store.append(cands, 0)

    store.expire(_cands(spark, [5]).select("url_hash"), snap_id=1)
    # re-crawl: 5 passes the unseen filter, gets re-added
    readd = _filter_unseen(_cands(spark, [5]), shards, store)
    assert readd.count() == 1
    shards = _update_shards(readd, shards).cache()
    shards.count()
    store.append(readd, 2)

    # now 5 is seen again (tombstone consolidated away on append)
    assert _filter_unseen(_cands(spark, [5]), shards, store).count() == 0
    # and survives a compaction
    store.compact(3)
    assert _filter_unseen(_cands(spark, [5]), shards, store).count() == 0
    assert store.tomb_paths == []


def test_expire_survives_compaction(spark, tmp_path):
    store = SeenExactStore(spark, str(tmp_path / "seen3"), n_buckets=4)
    cands = _cands(spark, range(1, 41))
    shards = _update_shards(cands, S.empty_shards(spark)).cache()
    shards.count()
    store.append(cands, 0)
    store.expire(_cands(spark, [9]).select("url_hash"), snap_id=1)
    store.compact(2)
    assert store.tomb_paths == []
    back = _filter_unseen(_cands(spark, [9]), shards, store)
    assert back.count() == 1  # physically gone from the compacted base


def test_due_for_recrawl_policy(spark):
    rows = [
        # (url_hash, host, last_fetch_ts)
        (1, "a.example", 1000.0),
        (2, "a.example", 9000.0),
        (3, "b.example", 1000.0),
        (4, "c.example", 8000.0),
    ]
    log = spark.createDataFrame(rows, "url_hash long, host string, last_fetch_ts double")
    ttl = spark.createDataFrame([("b.example", 500)], "host string, ttl_s int")
    due = due_for_recrawl(log, now_ts=10000.0, default_ttl_s=5000, host_ttl=ttl)
    got = {(r.url_hash, r.ttl_s) for r in due.collect()}
    # 1: 1000+5000<10000 due; 2: 9000+5000 not due; 3: 1000+500 due (override);
    # 4: 8000+5000 not due
    assert got == {(1, 5000), (3, 500)}


def test_readd_then_compact_has_no_duplicate_rows(spark, tmp_path):
    """ADVICE r2: a re-seen key's dropped tombstone re-exposes its
    ORIGINAL base row next to the fresh delta row; compact must not bake
    the duplicate into the bucketed base (inflating base_rows, seen_exact
    outputs, and compaction-trigger accounting forever)."""
    store = SeenExactStore(spark, str(tmp_path / "seen4"), n_buckets=4)
    cands = _cands(spark, range(1, 31))
    shards = _update_shards(cands, S.empty_shards(spark)).cache()
    shards.count()
    store.append(cands, 0)  # promotes to bucketed base

    store.expire(_cands(spark, [5, 9]).select("url_hash"), snap_id=1)
    readd = _filter_unseen(_cands(spark, [5, 9]), shards, store)
    store.append(readd, 2)  # drops the tombstones -> base rows re-exposed

    store.compact(3)
    df = store.as_df()
    assert df.count() == 30  # not 32
    assert df.select("url_hash").distinct().count() == 30
    assert store._base_rows == 30
    assert not store._needs_dedup
