"""D1/SO2: bloom shards — no false negatives, exactness with confirm
table, merge commutativity (SURVEY §5.5)."""

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from frontier_engine import seen as S

N_SHARDS, N_BITS, K = 4, 1 << 14, 7


def _cand_df(spark, hashes):
    pdf = pd.DataFrame({"url_hash": pd.Series(hashes, dtype="int64")})
    pdf["canon_url"] = pdf["url_hash"].map(lambda h: f"u://{h}")
    return spark.createDataFrame(pdf)


def test_no_false_negatives_and_exactness(spark):
    inserted = [(i * 2654435761) % (1 << 63) - (1 << 62) for i in range(500)]
    others = [i * 7 + 3 for i in range(1, 400)]
    others = [o for o in others if o not in set(inserted)]

    shards = S.empty_shards(spark)
    exact = S.empty_seen_exact(spark)
    shards, exact = S.update_seen(_cand_df(spark, inserted), shards, exact, N_SHARDS, N_BITS, K)
    shards = shards.cache()
    exact = exact.cache()

    # membership over inserted ∪ others
    probe = _cand_df(spark, inserted + others)
    unseen = S.filter_unseen(probe, shards, exact, N_SHARDS, N_BITS, K)
    got = sorted(r.url_hash for r in unseen.collect())
    assert got == sorted(others), "exact semantics: all others new, no inserted leak through"

    positives = S.bloom_positive_hashes(probe, shards, N_SHARDS, N_BITS, K)
    fn = _cand_df(spark, inserted).select("url_hash").join(positives, "url_hash", "left_anti")
    assert fn.count() == 0, "bloom must never report an inserted key as unseen"


def test_merge_commutative(spark):
    a = _cand_df(spark, [1, 2, 3, 1 << 40])
    b = _cand_df(spark, [5, 6, -7])
    empty_s, empty_e = S.empty_shards(spark), S.empty_seen_exact(spark)

    s_ab, _ = S.update_seen(b, *S.update_seen(a, empty_s, empty_e, N_SHARDS, N_BITS, K), N_SHARDS, N_BITS, K)
    s_ba, _ = S.update_seen(a, *S.update_seen(b, empty_s, empty_e, N_SHARDS, N_BITS, K), N_SHARDS, N_BITS, K)
    ab = {r.shard_id: bytes(r.bits) for r in s_ab.collect()}
    ba = {r.shard_id: bytes(r.bits) for r in s_ba.collect()}
    assert ab == ba


@settings(max_examples=20, deadline=None)
@given(st.sets(st.integers(min_value=-(1 << 62), max_value=1 << 62), min_size=1, max_size=50))
def test_bit_positions_in_range(hashes):
    import numpy as np

    from frontier_engine.seen import _bit_positions

    pos = _bit_positions(np.array(sorted(hashes), dtype=np.int64), N_BITS, K)
    assert pos.shape == (len(hashes), K)
    assert (pos < N_BITS).all() and (pos >= 0).all()


def test_growth_past_sizing_stays_exact(spark, tmp_path, monkeypatch):
    """The seen set must grow past its sizing without failing: 4 shards ×
    2^10 bits hold ~400 keys at 10 bits/key. Push ≥ 40× that through
    SeenExactStore.append with a fold forced at every append (each fold
    rebuilds the base's bloom); the saturated bloom only loses precision,
    filter_unseen over inserted ∪ fresh keys still equals the anti-join,
    every base key stays a bloom positive, and keys expired by ``expire``
    leave the bloom at the next compaction."""
    from frontier_engine.seen_store import SeenExactStore

    monkeypatch.setattr(SeenExactStore, "COMPACT_RATIO", 0.0)
    monkeypatch.setattr(SeenExactStore, "COMPACT_MIN_ROWS", 0)
    n_shards, n_bits, k = 4, 1 << 10, 7
    rounds, per_round = 4, 4_500  # 18,000 keys ≈ 45× nominal capacity
    keys = spark.range(rounds * per_round + 3_000).select(
        F.col("id"),
        F.xxhash64(F.concat(F.lit("u://"), F.col("id").cast("string"))).alias("url_hash"),
        F.concat(F.lit("u://"), F.col("id").cast("string")).alias("canon_url"),
    )
    inserted = keys.where(F.col("id") < rounds * per_round)
    store = SeenExactStore(spark, str(tmp_path / "seen"), n_buckets=4,
                           bloom_sizing=(n_shards, n_bits, k))

    def assert_bloom_covers_base():
        base = spark.read.parquet(store.base_path)
        positives = S.bloom_positive_hashes(base, store.bloom(), *store.bloom_sizing)
        assert positives.count() == base.count() == store._base_rows

    for r in range(rounds):
        store.append(inserted.where((F.col("id") / per_round).cast("int") == r), r)
        assert store.delta_paths == [], "every append folds"
        assert_bloom_covers_base()
    assert store.bloom().count() == n_shards

    exact = inserted.select("url_hash", "canon_url")
    unseen = S.filter_unseen(keys, store.bloom(), store.parts(), *store.bloom_sizing)
    want = keys.join(exact.select("url_hash"), "url_hash", "left_anti")
    got = sorted(r.id for r in unseen.select("id").collect())
    assert got == sorted(r.id for r in want.select("id").collect())
    assert got == list(range(rounds * per_round, rounds * per_round + 3_000))

    # expire all but 100 keys: until the fold the saturated bloom still
    # reports them; the fold drops them from the base, and the rebuilt
    # (now sparse) bloom reports only the false positives a bloom of the
    # 100 kept keys has
    expired = inserted.where(F.col("id") >= 100)
    n_expired = expired.count()
    store.expire(expired, rounds)
    stale = lambda: S.bloom_positive_hashes(expired, store.bloom(), *store.bloom_sizing)
    assert stale().count() == n_expired
    store.compact(rounds + 1)
    assert_bloom_covers_base()
    assert store._base_rows == 100
    kept_bloom = S.update_shards(inserted.where(F.col("id") < 100), S.empty_shards(spark),
                                 n_shards, n_bits, k)
    fps = S.bloom_positive_hashes(expired, kept_bloom, n_shards, n_bits, k)
    got = sorted(r.url_hash for r in stale().collect())
    assert got == sorted(r.url_hash for r in fps.collect())
    assert len(got) < n_expired // 1000
