"""D1/SO2: bloom shards — no false negatives, exactness with confirm
table, merge commutativity (SURVEY §5.5)."""

import pandas as pd
import pytest
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


def test_update_shards_dirty_only_emits_touched_shards(spark):
    """Round-3 commit-bytes fix: with dirty_only=True, a round that adds
    keys hitting a subset of shards emits ONLY those shard rows; the
    resolved LSM view (base + deltas, latest wins) must equal the full
    eager merge."""
    from pyspark.sql import functions as F

    from frontier_engine import seen as S

    n_shards, n_bits, k = 16, 1 << 12, 5
    base_keys = spark.range(500).select(F.xxhash64(F.col("id").cast("string")).alias("url_hash"))
    base = S.update_shards(base_keys, S.empty_shards(spark), n_shards, n_bits, k)
    # adds constrained to exactly 3 shards
    adds = (
        spark.range(5000)
        .select(F.xxhash64((F.col("id") + 9999).cast("string")).alias("url_hash"))
        .where(F.pmod(F.col("url_hash"), F.lit(n_shards)).isin(1, 5, 9))
    )
    dirty = S.update_shards(adds, base, n_shards, n_bits, k, dirty_only=True)
    got_ids = sorted(r.shard_id for r in dirty.select("shard_id").collect())
    assert got_ids == [1, 5, 9]

    full = S.update_shards(adds, base, n_shards, n_bits, k)
    resolved = S.resolve_shards(spark, None, [], extra_df=dirty).unionByName(
        base.join(dirty.select("shard_id"), "shard_id", "left_anti")
    )
    want = {r.shard_id: bytes(r.bits) for r in full.collect()}
    got = {r.shard_id: bytes(r.bits) for r in resolved.collect()}
    assert got == want


def test_resolve_shards_latest_version_wins(spark, tmp_path):
    from frontier_engine import seen as S

    b0 = spark.createDataFrame([(0, bytearray(b"old0")), (1, bytearray(b"old1"))], S.SHARD_SCHEMA)
    d1 = spark.createDataFrame([(1, bytearray(b"new1"))], S.SHARD_SCHEMA)
    d2 = spark.createDataFrame([(0, bytearray(b"new0")), (2, bytearray(b"new2"))], S.SHARD_SCHEMA)
    p0, p1, p2 = (str(tmp_path / n) for n in ("b0", "d1", "d2"))
    b0.write.parquet(p0); d1.write.parquet(p1); d2.write.parquet(p2)
    out = {r.shard_id: bytes(r.bits) for r in S.resolve_shards(spark, p0, [p1, p2]).collect()}
    assert out == {0: b"new0", 1: b"new1", 2: b"new2"}


def test_growth_past_sizing_stays_exact(spark, tmp_path):
    """The seen set must grow past its sizing without failing: 4 shards ×
    2^10 bits hold ~400 keys at 10 bits/key. Push ≥ 40× that through the
    crawler's dirty-shard LSM (update_shards(dirty_only) + resolve_shards)
    over several rounds; the saturated bloom only loses precision, and
    filter_unseen over inserted ∪ fresh keys still equals the anti-join."""
    n_shards, n_bits, k = 4, 1 << 10, 7
    rounds, per_round = 4, 4_500  # 18,000 keys ≈ 45× nominal capacity
    keys = spark.range(rounds * per_round + 3_000).select(
        F.col("id"),
        F.xxhash64(F.concat(F.lit("u://"), F.col("id").cast("string"))).alias("url_hash"),
        F.concat(F.lit("u://"), F.col("id").cast("string")).alias("canon_url"),
    )
    inserted = keys.where(F.col("id") < rounds * per_round)

    base, deltas = None, []
    for r in range(rounds):
        shards = S.resolve_shards(spark, base, deltas)
        new = inserted.where((F.col("id") / per_round).cast("int") == r)
        dirty = S.update_shards(new, shards, n_shards, n_bits, k, dirty_only=True)
        path = str(tmp_path / f"shards-{r}")
        dirty.write.parquet(path)
        if base is None:
            base = path
        else:
            deltas.append(path)
    shards = S.resolve_shards(spark, base, deltas)
    assert shards.count() == n_shards

    exact = inserted.select("url_hash", "canon_url")
    unseen = S.filter_unseen(keys, shards, exact, n_shards, n_bits, k)
    want = keys.join(exact.select("url_hash"), "url_hash", "left_anti")
    got = sorted(r.id for r in unseen.select("id").collect())
    assert got == sorted(r.id for r in want.select("id").collect())
    assert got == list(range(rounds * per_round, rounds * per_round + 3_000))
