#!/usr/bin/env python
"""spark-submit entry point for the crawl engine.

    spark-submit --py-files frontier_engine.zip run_crawl_cli.py \
        --pages /data/pages --seeds /data/seeds --snapshot-dir /data/crawl1 \
        [--resume] [--stream] [--max-rounds 50] [--checkin 2026-09-01 ...]

``--stream`` drives the crawl through the Structured-Streaming face
(streaming.run_crawl_stream — self-feeding candidate micro-batches,
checkpointed; batch-identical output, resumable with --resume).

Local smoke (this sandbox):

    python run_crawl_cli.py --demo-world /tmp/demo --max-rounds 10
    python run_crawl_cli.py --demo-world /tmp/demo2 --max-rounds 10 --stream
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", help="parquet dir of the pages table")
    ap.add_argument("--seeds", help="parquet dir with a url column (depth-0 seeds)")
    ap.add_argument("--snapshot-dir", default=None)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--stream", action="store_true",
                    help="run via the Structured-Streaming face (run_crawl_stream)")
    ap.add_argument("--max-rounds", type=int, default=50)
    ap.add_argument("--checkin", default=None)
    ap.add_argument("--checkout", default=None)
    ap.add_argument("--price-max", type=int, default=None)
    ap.add_argument("--demo-world", help="generate a fixture world here and crawl it")
    args = ap.parse_args()

    if args.checkin and args.checkout and not args.demo_world:
        from datetime import date

        from frontier_engine.dates import split_spec, validate_dates

        # the reference's start-up check (airbnb.py:355-361), on the base
        # dates of any range spec
        try:
            validate_dates(
                split_spec(args.checkin)[0], split_spec(args.checkout)[0], date.today()
            )
        except ValueError as e:
            ap.error(str(e))

    from frontier_engine.config import EngineConfig
    from frontier_engine.crawler import run_crawl
    from frontier_engine.parse import CrawlArgs
    from frontier_engine.session import get_spark

    spark = get_spark(app_name="frontier-crawl")
    cfg = EngineConfig()

    if args.demo_world:
        from frontier_engine.fixtures import WorldSpec, write_world

        spec = WorldSpec()
        write_world(spec, args.demo_world)
        pages = spark.read.parquet(f"{args.demo_world}/pages.parquet")
        seeds = spark.read.parquet(f"{args.demo_world}/seeds.parquet").select("url")
        crawl_args = CrawlArgs(spec.checkin, spec.checkout, spec.price_max)
    else:
        if not args.pages or (not args.seeds and not args.resume):
            ap.error("--pages and --seeds required (or --demo-world / --resume)")
        pages = spark.read.parquet(args.pages)
        seeds = spark.read.parquet(args.seeds).select("url") if args.seeds else None
        crawl_args = CrawlArgs(args.checkin, args.checkout, args.price_max)

    if args.stream:
        from frontier_engine.streaming import run_crawl_stream

        sres = run_crawl_stream(
            spark, pages, cfg, crawl_args, seeds=seeds,
            snapshot_dir=args.snapshot_dir, max_rounds=args.max_rounds,
            resume=args.resume,
        )
        summary = {
            "mode": "stream",
            "rounds": sres["rounds"],
            "frontier_rows": sres["frontier"].count() if sres["frontier"] is not None else 0,
            "seen": sres["seen_exact"].count(),
            "batches": sres["outputs"]["batches"].count()
            if sres["outputs"].get("batches") is not None else 0,
        }
    else:
        res = run_crawl(
            spark, pages, cfg, crawl_args, seeds=seeds,
            max_rounds=args.max_rounds, snapshot_dir=args.snapshot_dir, resume=args.resume,
        )
        summary = {
            "rounds": res.rounds,
            "snapshot_dir": res.store.root,
            "frontier_rows": res.frontier.count(),
            "seen": res.seen_exact.count(),
            "batches": res.outputs["batches"].count() if res.outputs.get("batches") is not None else 0,
        }
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
