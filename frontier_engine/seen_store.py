"""Bucketed, append-only store for the exact URL-seen table
(SURVEY §2.4 D1/D3 at the 10^10 design point; VERDICT round-1 item #1).

Problem being fixed: round 1 kept ``seen_exact`` as a plain DataFrame and
re-built it every round with ``union + dropDuplicates`` — a full shuffle
of the whole seen table (≈0.9 TB at 10^10 keys) per scheduling round.

The store is LSM-shaped, the same merge-on-read discipline Iceberg gives:

* **base** — an immutable parquet directory written ONCE per compaction
  with ``bucketBy(n_buckets, 'url_hash').sortBy('url_hash')`` and
  registered in the session catalog as an external bucketed table. A
  semi-join of bloom positives against it is then **exchange-free on the
  base side**: Spark shuffles only the (tiny) positives by the bucket
  hash and reads base partitions in place — the big table never moves.
* **deltas** — one plain-parquet immutable directory per round holding
  only that round's newly-seen rows. Appending a round's discoveries is
  an O(batch) write; the base is untouched.
* **confirm** = positives ⋈ base (bucket join) ∪ positives ⋈ deltas
  (deltas are O(recent rounds), AQE broadcasts them).
* **compact** folds deltas into a new base directory when they exceed
  ``COMPACT_RATIO`` of the base row count — amortized O(1) rewrites,
  exactly Iceberg's rewrite_data_files maintenance action.
* **bloom** — the base's index: partitioned bloom shards
  (``seen.update_shards``) built from the base every time a base is
  written, into ``bloom-snap-<n>`` beside it, with its sizing
  ``(n_shards, n_bits, k)`` recorded in the store meta. The probe
  (``seen.filter_unseen``) confirms bloom positives against the base
  only and anti-joins the deltas directly, so delta keys never need
  bloom bits. "Every base key is a bloom positive" is then local to
  this class; a base rewrite rebuilds the bloom from scratch, so keys
  expired or folded away leave it too (the LSM per-run filter).

Crash safety matches snapshots.py: every write lands in a fresh
``snap-<n>`` directory and becomes visible only when the round's manifest
records it — a torn write is simply never referenced.

Catalog notes (sandbox has no Iceberg/Hive jars): the in-memory session
catalog drops table metadata on restart, so ``_register`` (re)creates the
external bucketed-table entry over the existing base directory on every
load — DDL-only, no data move. On a real cluster this module swaps for an
Iceberg table with ``bucket(url_hash)`` partition transform + MERGE.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from frontier_engine import seen as S

SEEN_COLS = "url_hash BIGINT, canon_url STRING"


class SeenExactStore:
    """State = (base_path | None, [delta_path, ...], bloom_path | None);
    all serializable into the snapshot manifest (``to_meta``/``from_meta``).
    A store keeps the bucket count and bloom sizing it was created with."""

    # deltas fold into the base once they exceed this fraction of it
    # (and at least COMPACT_MIN_ROWS rows), or past 16 delta dirs
    COMPACT_RATIO = 0.25
    COMPACT_MIN_ROWS = 1000

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        n_buckets: int = 64,
        bloom_sizing: tuple[int, int, int] = (64, 1 << 20, 7),
        table_name: str | None = None,
    ):
        self.spark = spark
        self.root = root
        self.n_buckets = n_buckets
        # (n_shards, n_bits per shard, k hashes) of the base's bloom
        self.bloom_sizing = tuple(int(x) for x in bloom_sizing)
        # catalog identifiers must be unique per store instance in a session
        self.table_name = table_name or (
            "seen_base_" + hex(abs(hash(os.path.abspath(root))))[2:12]
        )
        self.base_path: str | None = None
        self.bloom_path: str | None = None
        self.delta_paths: list[str] = []
        self.tomb_paths: list[str] = []  # TTL-expired keys (recrawl)
        self._base_rows: int = 0
        self._delta_rows: int = 0
        # set when an append consolidated tombstones: a re-seen key's
        # dropped tombstone re-exposes its ORIGINAL base row while the new
        # delta row also exists — the next compact must dedupe (ADVICE r2)
        self._needs_dedup: bool = False
        os.makedirs(root, exist_ok=True)

    # ---- manifest (de)serialization -------------------------------------
    def to_meta(self) -> dict:
        return {
            "base_path": self.base_path,
            "delta_paths": list(self.delta_paths),
            "tomb_paths": list(self.tomb_paths),
            "base_rows": self._base_rows,
            "delta_rows": self._delta_rows,
            "n_buckets": self.n_buckets,
            "needs_dedup": self._needs_dedup,
            "bloom_path": self.bloom_path,
            "bloom_sizing": list(self.bloom_sizing),
        }

    @classmethod
    def from_meta(cls, spark: SparkSession, root: str, meta: dict) -> "SeenExactStore":
        st = cls(spark, root, n_buckets=int(meta["n_buckets"]),
                 bloom_sizing=meta["bloom_sizing"])
        st.base_path = meta.get("base_path")
        st.bloom_path = meta.get("bloom_path")
        st.delta_paths = list(meta.get("delta_paths", []))
        st.tomb_paths = list(meta.get("tomb_paths", []))
        st._base_rows = int(meta.get("base_rows", 0))
        st._delta_rows = int(meta.get("delta_rows", 0))
        st._needs_dedup = bool(meta.get("needs_dedup", False))
        if st.base_path:
            st._register(st.base_path)
        return st

    # ---- catalog plumbing ------------------------------------------------
    def _register(self, path: str) -> None:
        """(Re)create the external bucketed-table catalog entry over *path*.
        DDL only — the files were written bucketed by this store, so the
        bucket spec in the DDL is authoritative."""
        self.spark.sql(f"DROP TABLE IF EXISTS {self.table_name}")
        self.spark.sql(
            f"CREATE TABLE {self.table_name} ({SEEN_COLS}) USING PARQUET "
            f"CLUSTERED BY (url_hash) SORTED BY (url_hash) INTO {self.n_buckets} BUCKETS "
            f"LOCATION '{os.path.abspath(path)}'"
        )

    # ---- reads -----------------------------------------------------------
    def parts(self) -> list[DataFrame]:
        """The seen table as join-ready parts: [bucketed base?, deltas?].

        TTL tombstones (``expire``) are subtracted from every part with a
        broadcast anti-join — O(expired) per lookup, amortized away at the
        next compaction. The anti-join sits ON TOP of the bucketed base
        scan, so the base side still joins exchange-free."""
        tombs = (
            self.spark.read.parquet(*self.tomb_paths).select("url_hash")
            if self.tomb_paths
            else None
        )
        out: list[DataFrame] = []
        if self.base_path:
            out.append(self.spark.table(self.table_name))
        if self.delta_paths:
            out.append(self.spark.read.parquet(*self.delta_paths))
        if tombs is not None:
            out = [p.join(F.broadcast(tombs), "url_hash", "left_anti") for p in out]
        return out

    def bloom(self) -> DataFrame:
        """The base's bloom shards ``(shard_id, bits)``, sized by
        ``bloom_sizing``; pass both to ``seen.filter_unseen`` with
        ``parts()``. Empty while there is no base."""
        if self.bloom_path is None:
            return S.empty_shards(self.spark)
        return self.spark.read.parquet(self.bloom_path)

    def as_df(self) -> DataFrame:
        """Single-DataFrame view (tests/metrics; joins should use parts())."""
        ps = self.parts()
        if not ps:
            return S.empty_seen_exact(self.spark)
        df = ps[0]
        for p in ps[1:]:
            df = df.unionByName(p)
        return df

    # ---- writes ----------------------------------------------------------
    def _write_base(self, df: DataFrame, snap_id: int | str) -> None:
        path = os.path.join(self.root, f"base-snap-{snap_id}")
        tmp = f"{self.table_name}_w"
        self.spark.sql(f"DROP TABLE IF EXISTS {tmp}")
        (
            df.select("url_hash", "canon_url")
            .write.bucketBy(self.n_buckets, "url_hash")
            .sortBy("url_hash")
            .option("path", os.path.abspath(path))
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(tmp)
        )
        self.spark.sql(f"DROP TABLE IF EXISTS {tmp}")  # keep files, drop entry
        self.base_path = path
        self._register(path)
        base = self.spark.table(self.table_name)
        self._base_rows = base.count()
        # the base's index, rebuilt from the written base alone
        bloom_path = os.path.join(self.root, f"bloom-snap-{snap_id}")
        S.update_shards(base, S.empty_shards(self.spark), *self.bloom_sizing).write.mode(
            "overwrite"
        ).parquet(bloom_path)
        self.bloom_path = bloom_path

    def append(self, new_rows: DataFrame, snap_id: int | str, n_new: int | None = None) -> None:
        """Record a round's newly-seen rows: O(batch) delta write, then
        fold into the base only when deltas outgrow ``COMPACT_RATIO``."""
        path = os.path.join(self.root, f"delta-snap-{snap_id}")
        new_rows.select("url_hash", "canon_url").write.mode("overwrite").parquet(path)
        if self.tomb_paths:
            # LSM ordering: a key expired earlier and re-seen NOW must read
            # as seen again — drop its tombstone. Tombstones are bounded
            # between compactions, so this consolidation is O(tombstones).
            merged = os.path.join(self.root, f"tomb-merge-snap-{snap_id}")
            (
                self.spark.read.parquet(*self.tomb_paths)
                .join(self.spark.read.parquet(path).select("url_hash"), "url_hash", "left_anti")
                .write.mode("overwrite")
                .parquet(merged)
            )
            self.tomb_paths = [merged]
            # a dropped tombstone re-exposes the key's original base row
            # next to its fresh delta row — conservative flag (exact
            # detection would cost a count job); the dedup runs once, at
            # the next compact, and only on TTL-using crawls
            self._needs_dedup = True
        self.delta_paths.append(path)
        if n_new is None:
            n_new = self.spark.read.parquet(path).count()
        self._delta_rows += int(n_new)
        if self.base_path is None:
            # first append: promote straight to a bucketed base
            self.compact(snap_id)
            return
        if self._delta_rows > max(
            self.COMPACT_MIN_ROWS, self._base_rows * self.COMPACT_RATIO
        ) or len(self.delta_paths) > 16:
            self.compact(snap_id)

    def expire(self, expired: DataFrame, snap_id: int | str) -> None:
        """TTL/recrawl expiry: record *expired* url_hash keys as tombstones
        so they read as NOT seen (an O(expired) delta write — the base is
        untouched; Iceberg MERGE-delete analog). Until the next ``compact``
        the bloom still reports them as positives, which the tombstoned
        confirm drops; the compaction folds them out of the base and its
        rebuilt bloom."""
        path = os.path.join(self.root, f"tomb-snap-{snap_id}")
        expired.select("url_hash").write.mode("overwrite").parquet(path)
        self.tomb_paths.append(path)

    def compact(self, snap_id: int | str) -> None:
        """Fold deltas into a fresh bucketed base (Iceberg
        rewrite_data_files analog). Rows are unique on the pure-append
        path — the crawler only appends unseen-filtered rows — so the
        common case skips the dedup pass (a defensive dropDuplicates
        would re-shuffle what bucketBy already shuffles). The EXCEPTION
        is the expire→re-seen path (``_needs_dedup``): a re-seen key
        holds both its re-exposed base row and a fresh delta row, and
        baking both into the new base would inflate it permanently —
        dedupe by url_hash then (any row wins: url_hash = xxhash64 of
        canon_url, so equal hashes carry equal payloads).
        Tombstoned keys fall out here (as_df reads through parts(), which
        subtracts them) and the tombstone list resets; the bloom is
        rebuilt from the new base (``_write_base``)."""
        df = self.as_df()
        if self._needs_dedup:
            df = df.dropDuplicates(["url_hash"])
        self._write_base(df, snap_id)
        self.delta_paths = []
        self.tomb_paths = []
        self._delta_rows = 0
        self._needs_dedup = False
