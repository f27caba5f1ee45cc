"""Physical-plan audit (BENCH/PLANS.md evidence): print the executed/
analyzed plans for the scale-critical paths and grep them for the
anti-patterns the 100 TB story forbids (unexpected Exchanges, Python
nodes in the frontier path, single-partition windows)."""
import os
import tempfile

from pyspark.sql import functions as F

from frontier_engine import seen as S
from frontier_engine.canon import with_canon_columns
from frontier_engine.config import EngineConfig
from frontier_engine.schedule import assign_discovered_seq_counted, rank_batch
from frontier_engine.seen_store import SeenExactStore
from frontier_engine.session import get_spark


def plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def opt_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def main():
    spark = get_spark(master="local[8]", shuffle_partitions=16)
    cfg = EngineConfig(n_seen_shards=16, bloom_bits_per_shard=1 << 20)
    root = tempfile.mkdtemp(prefix="plan-audit-")

    fr = spark.range(200_000).select(
        F.concat(F.lit("https://www.h"), (F.col("id") % 50).cast("string"),
                 F.lit(".example/p/"), F.col("id"), F.lit("?b=2&a=1")).alias("url"),
    )
    cand = with_canon_columns(fr)

    store = SeenExactStore(
        spark, os.path.join(root, "seen"), n_buckets=16,
        bloom_sizing=(cfg.n_seen_shards, cfg.bloom_bits_per_shard, cfg.bloom_num_hashes),
    )
    store.append(cand.where(F.col("url_hash") % 2 == 0), "seed", n_new=100_000)
    store.append(cand.where(F.col("url_hash") % 10 == 1).limit(100), "r1", n_new=100)

    print("=" * 20, "1. bucketed confirm join (positives SEMI base)")
    positives = cand.select("url_hash")
    base = store.parts()[0]
    j = positives.join(base.select("url_hash"), "url_hash", "left_semi")
    p = plan(j)
    print(p[:4000])
    n_ex = p.count("Exchange")
    print(f"AUDIT exchanges={n_ex} (expect 1: probe side only — base never moves)")

    print("=" * 20, "2. full filter_unseen over the store (its base bloom, cogrouped probe + 2 semi joins)")
    unseen = S.filter_unseen(cand, store.bloom(), store.parts(), *store.bloom_sizing)
    p = plan(unseen)
    print(p[:5000])
    print(f"AUDIT exchanges={p.count('Exchange')} pythonNodes={p.count('ArrowEvalPython') + p.count('MapInPandas') + p.count('FlatMapGroupsInPandas')}")

    print("=" * 20, "3. assign_discovered_seq_counted (no single-partition window)")
    cand3 = cand.select("url", F.lit(0).alias("depth"), F.lit("").alias("parent_url"))
    out, n, _seq_handle = assign_discovered_seq_counted(cand3, 0)
    p = plan(out)
    print(p[:3000])
    has_global_window = "Window" in p and "partitionBy" not in p
    print(f"AUDIT rows={n} windowNodes={p.count('Window')} (expect 0 Window nodes; rangepartitioning={'RangePartitioning' in p or 'rangepartitioning' in p.lower()})")

    print("=" * 20, "4. salted rank over pending (two-phase window, no global sort)")
    pend = cand.select("url", "host", "url_hash",
                       (F.col("url_hash") % 1000).cast("double").alias("priority"),
                       F.col("url_hash").alias("discovered_seq"),
                       F.lit(10.0).alias("crawl_delay_s"), F.lit(10).alias("max_concurrency"))
    rb = rank_batch(pend, cfg)
    p = plan(rb)
    print(p[:3000])
    print(f"AUDIT singlePartitionExchange={'SinglePartition' in p}")

    print("=" * 20, "5. pages scan pruning (filter + column pushdown)")
    pages_path = os.path.join(root, "pages")
    fr.select("url", F.lit("x").alias("text"), F.lit(b"h").alias("html"),
              F.lit("en").alias("lang")).write.parquet(pages_path)
    pg = spark.read.parquet(pages_path)
    q = pg.where(F.col("url").startswith("https://www.h1.")).select("url", "text")
    p = plan(q)
    print(p[:2000])
    print(f"AUDIT pushedFilters={'PushedFilters: [' in p} readSchemaPruned={'html' not in p.split('ReadSchema')[-1] if 'ReadSchema' in p else None}")

    print("=" * 20, "6. fetch join (r3 inner+anti decomposition — batch broadcastable)")
    from frontier_engine.fetch import fetch_batch

    pg2 = pg.select("url", F.current_timestamp().alias("warc_ts"), "html", "text", "lang")
    batch = fr.limit(500).select(
        "url", F.regexp_extract("url", r"^https?://([^/]+)/", 1).alias("host"),
        F.lit(1).alias("rank"),
    )
    fetched, missing = fetch_batch(batch, pg2)
    fetched.write.format("noop").mode("overwrite").save()
    pf = plan(fetched)
    print(pf[:2000])
    print(
        "AUDIT fetchBroadcastsBatch="
        f"{'BroadcastHashJoin' in pf} pagesSideExchangeFree="
        f"{'Exchange hashpartitioning' not in pf}"
    )

    print("=" * 20, "7. parse_round (one tokenization per page: outputs scan the cache)")
    from frontier_engine import parse as P
    from frontier_engine.fixtures import WorldSpec, generate_world

    spec = WorldSpec()
    world_pages = with_canon_columns(spark.createDataFrame(generate_world(spec)["pages"]))
    args = P.CrawlArgs(spec.checkin, spec.checkout, spec.price_max)
    pr = P.parse_round(world_pages, args, EngineConfig())
    for ptype in P.PARSE_TYPES:
        for kind, df in zip(("rows", "cands"), pr.by_type[ptype]):
            pp = plan(df)
            outside = pp.split("InMemoryRelation")[0]
            # struct-field paths over the cached extraction legitimately
            # print schema names (merlin/exploreV3); an actual
            # re-tokenization prints a from_json node outside the cache
            # (the P19 URL-variables parse-back in search.cands is the
            # one expected from_json: ~100-byte input, 1 eval)
            print(
                f"AUDIT parse_round {ptype}.{kind} cachedScan={'InMemoryTableScan' in pp} "
                f"fromJsonOutsideCache={outside.count('from_json')} "
                f"p19EvalsOutsideCache={outside.count('ParseUrlEvaluator')}"
            )
    pr.unpersist()

    spark.stop()


if __name__ == "__main__":
    main()
