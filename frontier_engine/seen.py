"""URL-seen set: partitioned bloom shards + exact confirmation table
(SURVEY §2.4 D1/D3, §2.8 SO2 — the core north-rule capability).

The reference keeps an in-memory ``set`` of listing ids
(/root/reference/deepbnb/spiders/airbnb.py:51,169-173) plus the framework's
request-fingerprint dedup — both unbounded driver memory, the scalability
wall (SURVEY §4 X14). The engine's replacement is EXACT at any scale:

* bloom shards — ``(shard_id int, bits binary)``: one bloom bit-array
  per shard, ``shard_id = pmod(url_hash, n_shards)``. Membership and merge
  run as cogrouped ``applyInPandas`` over shard_id, so each shard's bits
  meet exactly the candidate rows that could hit it — no broadcast of the
  full filter, no driver state. At the 10^10 design point: 10^10 keys ×
  10 bits ≈ 12.5 GB of bits across 1024 shards ≈ 12 MB/shard — one Arrow
  batch per task.
* ``seen_exact`` — ``(url_hash long, canon_url string)``: bloom POSITIVES
  (a tiny fraction: true dups + FPR·new) are confirmed against this table
  with an anti-join; bloom NEGATIVES are definitely-new and skip the join
  entirely. Net semantics = exact set membership; the bloom only prunes
  join traffic, so crawl ordering matches the reference's exact dedup.

In the crawl both live in ``seen_store.SeenExactStore``: the bloom is the
index of the store's bucketed base, built whenever a base is written and
served by ``SeenExactStore.bloom()``. ``filter_unseen`` confirms bloom
positives against the base only and anti-joins the small deltas
directly, so there is no per-round bloom write.

Bit indexing uses Kirsch-Mitzenmacher double hashing from the single
64-bit ``xxhash64(canon_url)`` the frontier already carries — no extra
hashing pass.

Bloom shards are the only membership structure and the cogrouped probe
the only probe path. A shard filled past its sizing loses precision, not
correctness: more positives reach the confirm, which stays exact. Expiry
(TTL re-crawl) tombstones ``seen_exact`` rows and the next base rewrite
drops them from the bloom, so a deleting filter (cuckoo) would only save
confirm traffic for expired keys until then.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SHARD_SCHEMA = T.StructType(
    [T.StructField("shard_id", T.IntegerType()), T.StructField("bits", T.BinaryType())]
)

SEEN_EXACT_SCHEMA = T.StructType(
    [T.StructField("url_hash", T.LongType()), T.StructField("canon_url", T.StringType())]
)


def empty_shards(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], SHARD_SCHEMA)


def empty_seen_exact(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], SEEN_EXACT_SCHEMA)


def _bit_positions(hashes: np.ndarray, n_bits: int, k: int) -> np.ndarray:
    """(n, k) bit indices via double hashing h1 + i*h2 (mod n_bits)."""
    u = hashes.astype(np.uint64)
    h1 = u % np.uint64(n_bits)
    h2 = (u >> np.uint64(33)) | np.uint64(1)  # odd → full period
    i = np.arange(k, dtype=np.uint64)
    return (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(n_bits)


def shard_id_col(url_hash, n_shards: int):
    return F.pmod(url_hash, F.lit(n_shards)).cast("int")


def _bloom_hits(bits_blob, hashes: np.ndarray, n_bits: int, k: int) -> np.ndarray:
    """Boolean mask over *hashes*: all k bits set in one shard's blob."""
    bits = np.frombuffer(bits_blob, dtype=np.uint8)
    pos = _bit_positions(hashes, n_bits, k)
    mask = (1 << (pos & 7)).astype(np.uint8)
    return ((bits[(pos >> 3).astype(np.int64)] & mask) == mask).all(axis=1)


def bloom_positive_hashes(
    hashes: DataFrame, shards: DataFrame, n_shards: int, n_bits: int, k: int
) -> DataFrame:
    """url_hash rows that the bloom reports as maybe-seen. Cogrouped per
    shard: each shard's bit blob meets exactly the probe rows that could
    hit it, and only the 8-byte hash column crosses the Arrow boundary —
    candidate payloads never leave the JVM. A missing shard means
    definitely unseen."""
    keyed = hashes.select("url_hash").withColumn(
        "shard_id", shard_id_col(F.col("url_hash"), n_shards)
    )

    def check(key, cdf: pd.DataFrame, sdf: pd.DataFrame) -> pd.DataFrame:
        if cdf.empty or sdf.empty or sdf["bits"].iloc[0] is None:
            return pd.DataFrame({"url_hash": pd.Series([], dtype="int64")})
        h = cdf["url_hash"].to_numpy(np.int64)
        return pd.DataFrame({"url_hash": h[_bloom_hits(sdf["bits"].iloc[0], h, n_bits, k)]})

    return keyed.groupBy("shard_id").cogroup(shards.groupBy("shard_id")).applyInPandas(
        check, T.StructType([T.StructField("url_hash", T.LongType())])
    )


def filter_unseen(
    candidates: DataFrame,
    shards: DataFrame,
    seen_exact: DataFrame | list[DataFrame],
    n_shards: int,
    n_bits: int,
    k: int,
) -> DataFrame:
    """EXACT unseen subset of *candidates* (columns preserved).

    Bloom positives (true dups + FPR·new, from the cogrouped
    ``bloom_positive_hashes``) are confirmed against seen_exact with a
    semi-join; candidates are then anti-joined against the confirmed-dup
    hash set (X1: dedupe strictly before fetch). Shards filled past their
    sizing only raise the positive rate — the confirm keeps the answer
    exact.

    *seen_exact* may be a list of table parts (seen_store.SeenExactStore:
    a bucketBy(url_hash) base + small per-round deltas). Each part gets
    its OWN semi-join so the bucketed base joins exchange-free — a union
    view would erase the bucketing and re-shuffle the 0.9 TB table every
    round (the round-1 scale-killer). The final anti-join's right side is
    bounded by the round's dup count.
    """
    parts = seen_exact if isinstance(seen_exact, list) else [seen_exact]
    if not parts:
        return candidates
    positives = bloom_positive_hashes(candidates, shards, n_shards, n_bits, k)
    # bloom+confirm only against the BIG part (the bucketed base — its
    # semi-join moves just the positives); the remaining parts are
    # O(recent-rounds) deltas, cheap to anti-join directly (AQE broadcasts
    # them) — and the Python bloom scan then runs exactly once
    true_dups = positives.join(parts[0].select("url_hash"), "url_hash", "left_semi")
    out = candidates.join(true_dups, "url_hash", "left_anti")
    for part in parts[1:]:
        out = out.join(part.select("url_hash"), "url_hash", "left_anti")
    return out


def update_shards(
    new_urls: DataFrame,
    shards: DataFrame,
    n_shards: int,
    n_bits: int,
    k: int,
) -> DataFrame:
    """OR the hashes of *new_urls* (url_hash column) into the shard blobs.

    Cogrouped merge — associative + commutative (property-tested).
    ``SeenExactStore`` builds its base's bloom with it from empty shards.
    """
    adds = new_urls.select("url_hash").withColumn(
        "shard_id", shard_id_col(F.col("url_hash"), n_shards)
    )

    def merge(key, adf: pd.DataFrame, sdf: pd.DataFrame) -> pd.DataFrame:
        sid = int(key[0])
        if not sdf.empty and sdf["bits"].iloc[0] is not None:
            bits = np.frombuffer(sdf["bits"].iloc[0], dtype=np.uint8).copy()
        else:
            bits = np.zeros(n_bits // 8, dtype=np.uint8)
        if not adf.empty:
            pos = _bit_positions(adf["url_hash"].to_numpy(np.int64), n_bits, k)
            byte_idx = (pos >> 3).reshape(-1).astype(np.int64)
            masks = (1 << (pos & 7)).reshape(-1).astype(np.uint8)
            np.bitwise_or.at(bits, byte_idx, masks)
        return pd.DataFrame({"shard_id": [sid], "bits": [bits.tobytes()]})

    return adds.groupBy("shard_id").cogroup(shards.groupBy("shard_id")).applyInPandas(
        merge, SHARD_SCHEMA
    )


def update_seen(
    new_urls: DataFrame,
    shards: DataFrame,
    seen_exact: DataFrame,
    n_shards: int,
    n_bits: int,
    k: int,
) -> tuple[DataFrame, DataFrame]:
    """Add (url_hash, canon_url) rows of *new_urls* to both structures.

    One-shot/seeding convenience ONLY — the union+dropDuplicates here
    re-shuffles the whole exact table, so the crawler's per-round path
    uses seen_store.SeenExactStore (bucketed base + O(batch) deltas)
    instead."""
    new_shards = update_shards(new_urls, shards, n_shards, n_bits, k)
    new_exact = seen_exact.unionByName(
        new_urls.select("url_hash", "canon_url")
    ).dropDuplicates(["url_hash"])
    return new_shards, new_exact
