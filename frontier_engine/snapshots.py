"""Icebergish snapshots: atomic per-round checkpoint + lineage + resume
(SURVEY §2.1 S8 — a new capability; the reference keeps crawl state in
in-memory dicts/sets, airbnb.py:48,51, and loses everything on a crash).

No Iceberg jars ship in this sandbox (SURVEY §7 stack check), so this is
a thin, API-honest stand-in with the same semantics a real catalog gives:

* every round writes each state table to an immutable
  ``<root>/<table>/snap-<n>/`` parquet directory;
* a JSON manifest ``<root>/manifests/<n>.json`` records snapshot id,
  parent id, and per-table/per-partition lineage (file list + row counts
  per Spark partition);
* ``<root>/LATEST`` is flipped by ``os.replace`` (atomic on POSIX) only
  after all writes land — a crash mid-round resumes from the previous
  manifest, never a torn state;
* resume = read LATEST → manifest → load tables.

On a real cluster this module is swapped for Iceberg
(``df.writeTo(...).createOrReplace()`` + snapshot ids) with no engine
code changes — the crawler only calls ``latest_id``/``manifest`` (resume),
``commit`` + ``publish`` (the two-step round commit) and ``rollback``
(time-travel and streaming replay).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "manifests"), exist_ok=True)

    def _latest_path(self) -> str:
        return os.path.join(self.root, "LATEST")

    def latest_id(self) -> int | None:
        try:
            with open(self._latest_path()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def manifest(self, snap_id: int) -> dict:
        with open(os.path.join(self.root, "manifests", f"{snap_id}.json")) as f:
            return json.load(f)

    def commit(
        self,
        snap_id: int,
        tables: dict[str, DataFrame],
        meta: dict | None = None,
        finalize: bool = True,
    ) -> dict:
        """Write all *tables*; publish the manifest atomically.

        With ``finalize=False`` the writes land but nothing becomes
        visible until ``publish(entry)`` — callers that must record
        write-derived state (delta paths, row counts) in the same
        manifest amend ``entry`` between the two calls. A crash in the
        gap leaves only unreferenced files (same guarantee as before).
        """
        parent = self.latest_id()
        entry: dict = {
            "snapshot_id": snap_id,
            "parent_id": parent,
            "meta": meta or {},
            "tables": {},
        }
        for name, df in tables.items():
            path = os.path.join(self.root, name, f"snap-{snap_id}")
            df.write.mode("overwrite").parquet(path)
            # per-partition lineage from parquet footers — driver-side
            # metadata reads, no Spark job
            import pyarrow.parquet as pq

            partitions = []
            for fname in sorted(os.listdir(path)):
                if not fname.endswith(".parquet"):
                    continue
                fpath = os.path.join(path, fname)
                md = pq.ParquetFile(fpath).metadata
                partitions.append(
                    {"file": fname, "rows": md.num_rows, "bytes": os.path.getsize(fpath)}
                )
            entry["tables"][name] = {
                "path": path,
                "files": [p["file"] for p in partitions],
                "partitions": partitions,
                "rows": int(sum(p["rows"] for p in partitions)),
            }
        if finalize:
            self.publish(entry)
        return entry

    def publish(self, entry: dict) -> None:
        """Atomically flip LATEST to *entry* (manifest write + rename)."""
        snap_id = entry["snapshot_id"]
        mpath = os.path.join(self.root, "manifests", f"{snap_id}.json")
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(entry, f, indent=1)
        os.replace(tmp, mpath)
        ltmp = self._latest_path() + ".tmp"
        with open(ltmp, "w") as f:
            f.write(str(snap_id))
        os.replace(ltmp, self._latest_path())

    def rollback(self, snap_id: int) -> None:
        """Point LATEST back at an older snapshot (Iceberg's
        ``rollback_to_snapshot``). Later snapshots' files become
        unreferenced — harmless, and overwritten if their rounds replay.
        Raises if *snap_id* has no manifest."""
        self.manifest(snap_id)  # validate
        ltmp = self._latest_path() + ".tmp"
        with open(ltmp, "w") as f:
            f.write(str(snap_id))
        os.replace(ltmp, self._latest_path())

    def expire(self, keep_last: int = 2) -> dict:
        """Snapshot retention GC (Iceberg's ``expire_snapshots``, r5):
        keep the *keep_last* most recent snapshots ALONG THE PARENT
        CHAIN from LATEST, delete every other manifest and every table
        ``snap-*`` directory no retained manifest references.

        Walking the lineage (not sorting ids) is what makes this safe
        after ``rollback``: snapshots on an abandoned branch are
        unreferenced regardless of their ids and get collected, while
        the live chain — including time-travel to any retained ancestor
        — keeps working. A crash mid-expire only leaves extra
        unreferenced files (deletes happen after the retained set is
        fixed; nothing in the retained set is ever touched).

        Returns {"retained": [...], "removed_snapshots": [...],
        "removed_files": n, "freed_bytes": n}.
        """
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        head = self.latest_id()
        if head is None:
            return {"retained": [], "removed_snapshots": [], "removed_files": 0,
                    "freed_bytes": 0}
        retained: list[int] = []
        cur: int | None = head
        while cur is not None and len(retained) < keep_last:
            # an ancestor expired by a previous, tighter run has no
            # manifest — the chain simply ends there (a re-expire with
            # a larger keep_last must not crash on, or retain, it)
            if not os.path.exists(os.path.join(self.root, "manifests", f"{cur}.json")):
                break
            retained.append(cur)
            cur = self.manifest(cur).get("parent_id")
        keep = set(retained)
        # A retained manifest references data two ways: its own tables,
        # and — for the crawl store — the ``meta`` state blocks
        # (frontier base/delta/status chains, the seen store) that point
        # at EARLIER snapshots' table dirs which the head state still
        # reads (crawler commits each round's delta as that round's
        # table; the live view is the union across rounds). Walk the
        # whole manifest for any string that is a path under the store
        # root, so resume/time-travel to a retained snapshot keeps
        # working no matter how the meta is shaped.
        def _paths_in(obj) -> set[str]:
            if isinstance(obj, str):
                p = os.path.normpath(obj)
                root = os.path.normpath(self.root)
                return {p} if p == root or p.startswith(root + os.sep) else set()
            if isinstance(obj, dict):
                return set().union(*(_paths_in(v) for v in obj.values()), set())
            if isinstance(obj, (list, tuple)):
                return set().union(*(_paths_in(v) for v in obj), set())
            return set()

        referenced = set().union(
            *(_paths_in(self.manifest(sid)) for sid in retained), set()
        )
        removed_snaps, removed_files, freed = [], 0, 0
        mdir = os.path.join(self.root, "manifests")
        for fname in sorted(os.listdir(mdir)):
            if not fname.endswith(".json"):
                continue
            sid = int(fname[: -len(".json")])
            if sid in keep:
                continue
            removed_snaps.append(sid)
            os.remove(os.path.join(mdir, fname))
        for tdir in sorted(os.listdir(self.root)):
            tpath = os.path.join(self.root, tdir)
            if tdir in ("manifests",) or not os.path.isdir(tpath):
                continue
            for snap in sorted(os.listdir(tpath)):
                spath = os.path.normpath(os.path.join(tpath, snap))
                if not snap.startswith("snap-"):
                    continue
                if any(
                    r == spath
                    or r.startswith(spath + os.sep)
                    or spath.startswith(r + os.sep)
                    for r in referenced
                ):
                    continue
                for base, _dirs, files in os.walk(spath, topdown=False):
                    for f in files:
                        fp = os.path.join(base, f)
                        freed += os.path.getsize(fp)
                        os.remove(fp)
                        removed_files += 1
                    os.rmdir(base)
        return {
            "retained": retained,
            "removed_snapshots": sorted(removed_snaps),
            "removed_files": removed_files,
            "freed_bytes": freed,
        }

    def load(self, spark: SparkSession, snap_id: int) -> dict[str, DataFrame]:
        man = self.manifest(snap_id)
        return {
            name: spark.read.parquet(info["path"]) for name, info in man["tables"].items()
        }

    def load_latest(self, spark: SparkSession) -> tuple[int | None, dict[str, DataFrame]]:
        sid = self.latest_id()
        if sid is None:
            return None, {}
        return sid, self.load(spark, sid)
