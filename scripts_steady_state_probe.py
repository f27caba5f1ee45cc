"""Steady-state frontier scheduling probe: N rounds of 1M candidate URLs
against a GROWING bucketed seen store (50% dups per round), measuring
per-round wall time, CPU and COMMIT BYTES — the evidence that round
cost scales with the batch, not the accumulated state (VERDICT r1 items
#1/#6 at multi-round scale; bench.py measures a single round).

The seen set is the crawler's: a ``SeenExactStore`` whose bloom is the
index of its base (``store.bloom()``), so a round writes its delta only
and the bloom is rewritten only when a compaction rewrites the base.

Run: python scripts_steady_state_probe.py [rounds] [urls_per_round]
Prints one JSON line per round + a summary line. A round line's
``cpu_s`` is the CPU seconds the whole process tree (this Python, the JVM,
the Python workers) used since the previous line; the first round's is
counted from the end of set-up (session and store creation).
"""
import json
import os
import shutil
import sys
import tempfile
import time

from pyspark.sql import functions as F

from frontier_engine import seen as S
from frontier_engine.canon import with_canon_columns
from frontier_engine.config import EngineConfig
from frontier_engine.schedule import rank_batch
from frontier_engine.seen_store import SeenExactStore
from frontier_engine.session import get_spark
from perfbench.tracing import tree_cpu_s


def dir_bytes(*paths) -> int:
    total = 0
    for p in paths:
        if p and os.path.isdir(p):
            for f in os.listdir(p):
                total += os.path.getsize(os.path.join(p, f))
    return total


def main():
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 6
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    spark = get_spark(app_name="steady-state", shuffle_partitions=32)
    cfg = EngineConfig(
        n_seen_shards=64, bloom_bits_per_shard=1 << 23, salt_partitions=16,
        round_seconds=1000.0, concurrent_per_host=100,
    )
    root = tempfile.mkdtemp(prefix="steady-")
    store = SeenExactStore(
        spark, os.path.join(root, "seen"), n_buckets=64,
        bloom_sizing=(cfg.n_seen_shards, cfg.bloom_bits_per_shard, cfg.bloom_num_hashes),
    )

    summary = []
    cpu_prev = tree_cpu_s()
    for r in range(rounds + 1):
        # round r's candidates: urls [r*n/2, r*n/2 + n) — 50% seen before.
        # The FINAL extra round is SPARSE (64 new urls): its commit must
        # shrink to that round's delta (no bloom bits are written).
        sparse = r == rounds
        n_r = 64 if sparse else n
        # sparse round uses ids far past every previous round so its
        # candidates are genuinely NEW (otherwise 0 unseen ⇒ an empty
        # delta trivially, demonstrating nothing)
        lo = (n * 100) if sparse else r * (n // 2)
        base = spark.range(lo, lo + n_r)
        host = F.concat(F.lit("www.h"), (F.col("id") % 2000).cast("string"), F.lit(".example"))
        cand_raw = base.select(
            F.concat(F.lit("https://"), host, F.lit("/Page/"), F.col("id"), F.lit("?b=2&a=1")).alias("url"),
            host.alias("host"),
            ((F.col("id") % 4) * 100 + (F.col("id") % 100)).cast("double").alias("priority"),
            F.col("id").alias("discovered_seq"),
            F.lit(10.0).alias("crawl_delay_s"),
            F.lit(10).alias("max_concurrency"),
        )
        in_path = os.path.join(root, f"in-{r}")
        cand_raw.write.mode("overwrite").parquet(in_path)
        cand = with_canon_columns(spark.read.parquet(in_path))

        t0 = time.time()
        unseen = S.filter_unseen(cand, store.bloom(), store.parts(), *store.bloom_sizing)
        batch = rank_batch(unseen, cfg)
        n_batch = batch.count()
        t_sched = time.time() - t0

        # commit: append new keys to the store (a fold rewrites base + bloom)
        t0 = time.time()
        unseen_path = os.path.join(root, f"unseen-{r}")
        unseen.select("url_hash", "canon_url").write.mode("overwrite").parquet(unseen_path)
        new_keys = spark.read.parquet(unseen_path)
        pre_deltas = list(store.delta_paths)
        pre_base = store.base_path
        store.append(new_keys, r, n_new=None)
        compacted = store.base_path != pre_base
        t_commit = time.time() - t0

        new_paths = [p for p in store.delta_paths if p not in pre_deltas]
        if compacted:
            new_paths = [store.base_path, store.bloom_path]
        commit_bytes = dir_bytes(*new_paths)
        cpu_now = tree_cpu_s()
        row = {
            "round": r, "candidates": n_r, "batch": n_batch,
            "seen_total": store._base_rows + store._delta_rows,
            "t_schedule_s": round(t_sched, 2), "t_commit_s": round(t_commit, 2),
            "urls_per_sec": round(n_r / (t_sched + t_commit), 1),
            "cpu_s": round(cpu_now - cpu_prev, 2),
            "commit_mb": round(commit_bytes / 1e6, 1),
            "bloom_mb": round(dir_bytes(store.bloom_path) / 1e6, 1) if compacted else 0.0,
            "compacted": compacted,
            "cached_frames": spark.sparkContext._jsc.getPersistentRDDs().size(),
            "sparse": sparse,
        }
        summary.append(row)
        print(json.dumps(row), flush=True)
        cpu_prev = cpu_now

    steady = [r for r in summary[1:] if not r["compacted"] and not r["sparse"]]
    print(json.dumps({
        "rounds": rounds, "urls_per_round": n,
        "steady_urls_per_sec_median": sorted(r["urls_per_sec"] for r in steady)[len(steady) // 2] if steady else None,
        "steady_commit_mb": [r["commit_mb"] for r in summary],
        "sparse_round_commit_mb": summary[-1]["commit_mb"],
        "bloom_rewrites": sum(r["compacted"] for r in summary),
        "t_schedule_trend": [r["t_schedule_s"] for r in summary],
        "cached_frames_trend": [r["cached_frames"] for r in summary],
    }))
    shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
