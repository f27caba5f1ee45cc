"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 (crawl-frontier ops re-derived over the driver's TPC-H-ish
testdata so DuckDB can oracle them) plus the training-data operators
(dedup / language-ID / quality / tokens / similarity). ``oracle_sql()``
holds the ANSI-SQL twin for every SQL-expressible query; hash-based and
float-accumulation ops are rows-only by design (validated in tests/
against exact recomputation instead).

Column names are aliased identically on both sides (the driver hash
compares by sorted column name).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _spread(df: DataFrame, key_col: str | None = None) -> DataFrame:
    """r6 perf, guide §2.5: the driver's tables are single-row-group
    parquet files, which scan as ONE partition and serialize every
    per-row stage built on them; spread to defaultParallelism before
    heavy per-row work (hash-partitioned on *key_col* when given). No-op
    whenever the scan already has enough partitions."""
    from frontier_engine.textops import spread_small_scan

    return spread_small_scan(df, key_col)


# committed deterministic crawl-world fixture (fixtures.write_world,
# seed 42) — the oracle-readable surface for the parse/assemble/pipeline
# operator family (VERDICT r1 item #3); independent of sf_dir by design
_FIXTURE_PAGES = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "fixtures", "parse_world", "pages.parquet"
)

# committed perceptual-hash fixture (scripts_make_phash_fixture.py): real
# PNG payloads + a golden dHash column computed from the SOURCE pixel
# arrays with an independent loop implementation — the oracle surface for
# the image near-dup family (r4)
_FIXTURE_PHASH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "fixtures", "media_phash.parquet"
)

# committed audio-fingerprint fixture (scripts_make_audio_fixture.py):
# real RIFF/PCM16 WAV payloads + a golden fingerprint column computed
# from the PAYLOAD BYTES by an independent struct-reader + DFT-matrix
# reference — the oracle surface for the audio near-dup family (r4)
_FIXTURE_AUDIO = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "fixtures", "media_audio.parquet"
)

# committed MJPEG-in-MP4 fixture (scripts_make_video_fixture.py, r5):
# real ISO-BMFF containers whose codec samples are real baseline JPEGs
# of dHash-grid-aligned mosaic frames + a golden first-frame dHash
# computed from the SOURCE pixels by an explicit-loop reference — the
# oracle surface for the video near-dup medium
_FIXTURE_LINKS_PAGES = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "fixtures", "link_world", "pages.parquet"
)
# goldens for link_extract: stdlib html.parser + urljoin twin
# (scripts_make_link_fixture.py)
_FIXTURE_LINKS_GOLD = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "fixtures", "link_world", "links_golden.parquet"
)
_FIXTURE_VIDEO = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "fixtures", "media_video.parquet"
)


def _fixture_pages(spark: SparkSession) -> DataFrame:
    from frontier_engine.canon import host_expr

    return spark.read.parquet(_FIXTURE_PAGES).withColumn("host", host_expr(F.col("url")))


# --------------------------------------------------------------------------
# synthetic frontier derived from `orders` — the crawl-shaped view of the
# driver testdata (same derivation written in SQL inside the oracles)
# --------------------------------------------------------------------------

def _frontier(spark, sf_dir) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    host = F.concat(F.lit("www.host"), (F.col("o_custkey") % 20).cast("string"), F.lit(".example"))
    return o.select(
        host.alias("host"),
        F.concat(F.lit("https://"), host, F.lit("/page/"), F.col("o_orderkey")).alias("url"),
        (
            (F.col("o_orderkey") % 4) * 100
            + (F.floor(F.col("o_totalprice")).cast("long") % 100)
        ).cast("long").alias("priority"),
        F.col("o_orderkey").alias("discovered_seq"),
    )


_FRONTIER_SQL = """
    SELECT 'www.host' || CAST(o_custkey % 20 AS VARCHAR) || '.example' AS host,
           'https://www.host' || CAST(o_custkey % 20 AS VARCHAR) || '.example/page/'
               || CAST(o_orderkey AS VARCHAR) AS url,
           CAST((o_orderkey % 4) * 100 + CAST(FLOOR(o_totalprice) AS BIGINT) % 100 AS BIGINT) AS priority,
           o_orderkey AS discovered_seq
    FROM orders
"""

_NORM_SQL = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"


def _norm(c):
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


# ===========================================================================
# crawl-frontier operators (SURVEY §2.4/§2.7/§2.1/§2.3)
# ===========================================================================

def q_frontier_rank(spark, sf_dir):
    """O1/O5: per-host politeness-budget top-k by (priority desc, seq desc),
    via the engine's two-phase salted window (schedule.rank_batch)."""
    from frontier_engine.config import EngineConfig
    from frontier_engine.schedule import rank_batch

    cfg = EngineConfig(round_seconds=100.0, salt_partitions=8)  # budget 10
    pend = _frontier(spark, sf_dir).withColumn("crawl_delay_s", F.lit(10.0)).withColumn(
        "max_concurrency", F.lit(10)
    )
    return rank_batch(pend, cfg).select(
        "host", "url", F.col("priority").cast("long").alias("priority"), F.col("rank").cast("int").alias("rank")
    )


def q_frontier_dedup(spark, sf_dir):
    """CONSOLIDATED dedup row (r5 — see q_text_metrics for why): two
    op-tagged parts. 'first_discovery' = D1 exact semantics, first
    discovery wins per canon url (lineitem rows duplicate their order's
    url; keep min linenumber). 'union_distinct' = SO1/SO2 frontier
    union + dedupe (distinct canon urls per host; absorbed the former
    set_union_dedup row to free a slot for trap_filter under the
    50-row driver cap)."""
    li = _t(spark, sf_dir, "lineitem")
    cand = li.select(
        F.concat(F.lit("https://x.example/page/"), F.col("l_orderkey")).alias("url"),
        F.col("l_linenumber"),
        F.col("l_partkey"),
    )
    w = Window.partitionBy("url").orderBy("l_linenumber", "l_partkey")
    first = (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.lit("first_discovery").alias("op"),
            F.col("url").alias("k"),
            F.col("l_partkey").cast("long").alias("v"),
        )
    )
    fr = _frontier(spark, sf_dir)
    a = fr.where(F.col("discovered_seq") % 2 == 0)
    b = fr.where(F.col("discovered_seq") % 3 == 0)
    union_distinct = (
        a.unionByName(b).select("host", "url").distinct().groupBy("host")
        .agg(F.count("*").cast("long").alias("v"))
        .select(F.lit("union_distinct").alias("op"), F.col("host").alias("k"), "v")
    )
    return first.unionByName(union_distinct)


def q_robots_filter(spark, sf_dir):
    """S5/F11: RFC 9309 (Protego-semantics) robots enforcement, end to
    end — per-host robots.txt TEXT is parsed (UA-group selection: the
    'frontier' group must win over '*' and 'badbot'), rules compile to
    precedence-sorted Java regexes (wildcards, $ anchors, longest-match,
    Allow-beats-Disallow ties), broadcast-joined to the frontier
    (robots.rules_from_pages + split_allowed)."""
    from frontier_engine.config import EngineConfig
    from frontier_engine.robots import rules_from_pages, split_allowed

    # r6 perf: orders scans as ONE partition (guide 2.5) — spread before
    # the per-row URL/path build and the broadcast rule match
    fr = _spread(_frontier(spark, sf_dir), "url").withColumn(
        "path",
        F.when(F.col("discovered_seq") % 3 == 0, F.concat(F.lit("/api/v3/PdpReviews/"), F.col("discovered_seq")))
        .when(F.col("discovered_seq") % 3 == 1, F.concat(F.lit("/api/v3/Pdp/"), F.col("discovered_seq")))
        .otherwise(F.concat(F.lit("/search/"), F.col("discovered_seq"))),
    )
    fr = fr.withColumn("url", F.concat(F.lit("https://"), F.col("host"), F.col("path")))
    restricted = (
        F.substring("host", 9, 99).startswith("0")
        | F.substring(F.col("host"), 9, 2).isin("1.", "2.")
    )
    body = F.concat(
        F.lit("User-agent: badbot\nDisallow: /\n\n"
              "User-agent: *\nDisallow: /api/\n\n"
              "User-agent: frontier\n"),
        F.when(restricted, F.lit("Disallow: /api/v3/Pdp\nAllow: /api/v3/Pdp/\n")).otherwise(F.lit("")),
        F.lit("Disallow: /search/*0$\nDisallow: /search/2\n"
              "Allow: /search/1\nDisallow: /search/1\nCrawl-delay: 7\n"),
    )
    robots_pages = fr.select("host").distinct().select(
        F.concat(F.lit("https://"), F.col("host"), F.lit("/robots.txt")).alias("url"),
        body.alias("text"),
    )
    rules = rules_from_pages(robots_pages, EngineConfig())
    allowed, _ = split_allowed(fr, rules, EngineConfig())
    return allowed.groupBy("host").agg(F.count("*").cast("long").alias("allowed_cnt"))


def q_politeness_budget(spark, sf_dir):
    """O5: host_budget = clamp(1, floor(round/delay), conc) per host."""
    fr = _frontier(spark, sf_dir)
    hosts = fr.groupBy("host").agg(F.count("*").cast("long").alias("n_urls"))
    delay = F.when(F.col("n_urls") % 3 == 0, 5.0).when(F.col("n_urls") % 3 == 1, 10.0).otherwise(20.0)
    budget = F.greatest(F.lit(1).cast("long"), F.least(F.floor(100.0 / delay).cast("long"), F.lit(10).cast("long")))
    return hosts.select("host", "n_urls", budget.alias("host_budget"))


def q_fetch_join_missing(spark, sf_dir):
    """J4/ST3: stored-page fetch join; URLs absent from pages become
    status='missing' rows, counted per host."""
    fr = _frontier(spark, sf_dir)
    pages = fr.where(F.col("discovered_seq") % 97 != 0).select(F.col("url"), F.lit("body").alias("text"))
    joined = fr.join(pages, "url", "left")
    return joined.groupBy("host").agg(
        F.count("*").cast("long").alias("scheduled"),
        F.sum(F.when(F.col("text").isNull(), 1).otherwise(0)).cast("long").alias("missing"),
    )


def q_url_param_parse(spark, sf_dir):
    """P19: parse query params back out of frontier URLs (parse_url)."""
    fr = _frontier(spark, sf_dir)
    urls = fr.select(
        "host",
        F.concat(
            F.lit("https://"), F.col("host"), F.lit("/api?itemsOffset="),
            (F.col("discovered_seq") % 200).cast("string"), F.lit("&q=x"),
        ).alias("url"),
    )
    return urls.select(
        "url",
        F.parse_url(F.col("url"), F.lit("QUERY"), F.lit("itemsOffset")).cast("int").alias("items_offset"),
    ).distinct()


def q_price_parse(spark, sf_dir):
    """P5/P6/P8: '$N' and '$N total' parsing with the reference regexes."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 3 == 0)
    amt = F.floor(F.col("l_extendedprice")).cast("long")
    s_rate = F.concat(F.lit("$"), amt.cast("string"))
    s_total = F.concat(F.lit("$"), amt.cast("string"), F.lit(" total"))
    return li.select(
        F.col("l_orderkey"), F.col("l_linenumber"),
        F.regexp_replace(F.regexp_replace(s_rate, r"^\$+", ""), ",", "").cast("long").alias("price_rate"),
        F.regexp_extract(s_total, r"^\$([\w,]+) total", 1).cast("long").alias("total_price"),
    )


def q_reviews_offsets(spark, sf_dir):
    """S4/O4: offset-pagination expansion range(limit, total, limit) via
    sequence+explode — replaces the reference's blocking loop."""
    o = _t(spark, sf_dir, "orders")
    totals = o.select(F.col("o_orderkey"), (F.col("o_orderkey") % 307).cast("int").alias("reviews_total"))
    expl = totals.where(F.col("reviews_total") > 50).select(
        "o_orderkey", "reviews_total",
        F.explode(F.sequence(F.lit(50), F.col("reviews_total") - 1, F.lit(50))).alias("offset"),
    )
    return expl.select("o_orderkey", F.col("offset").cast("int").alias("offset"))


def q_date_expand(spark, sf_dir):
    """M1/M2/M3: ranged-date cartesian expansion (+A-B / +-N specs)."""
    from frontier_engine.dates import expand_date_ranges

    return expand_date_ranges(spark, "2026-09-10+2-1", "2026-10-05+-2")


def q_trap_filter(spark, sf_dir):
    """Web-scale crawl-trap guard (traps.py, r5): per-(host,
    url-template) admission cap — IRLbot/BUbiNG budget discipline. The
    frontier's organic /page/D family and a planted calendar-trap
    family (/cal?y=&m=&s=, one URL per frontier row) are both shaped by
    url_template and capped at 25 URLs per family in
    (discovered_seq, url) order via the two-phase salted top-k
    (traps.cap_per_template); output joins the admission report
    (n_urls/n_admitted/n_blocked per family) with sum/max admitted seq
    so the hash pins exactly WHICH URLs survived, not just how many."""
    from frontier_engine.traps import cap_per_template, template_report, url_template

    fr = _spread(_frontier(spark, sf_dir), "url")  # guide 2.5 (see robots)
    trap = fr.select(
        "host",
        F.concat(
            F.lit("https://"), F.col("host"), F.lit("/cal?y="),
            (F.col("discovered_seq") % 5 + 2020).cast("string"),
            F.lit("&m="), (F.col("discovered_seq") % 12).cast("string"),
            F.lit("&s="), F.col("discovered_seq").cast("string"),
        ).alias("url"),
        "discovered_seq",
    )
    # r6 perf: cand feeds BOTH the admission cap and the report —
    # checkpoint once instead of re-running the frontier+trap synthesis
    cand = fr.select("host", "url", "discovered_seq").unionByName(trap).localCheckpoint(
        eager=True
    )
    kept = cap_per_template(cand, cap=25, order_cols=["discovered_seq"])
    kept_agg = (
        kept.withColumn("template", url_template(F.col("url")))
        .groupBy("host", "template")
        .agg(
            F.sum("discovered_seq").cast("long").alias("sum_seq_admitted"),
            F.max("discovered_seq").cast("long").alias("max_seq_admitted"),
        )
    )
    rep = template_report(cand, cap=25)
    return rep.join(kept_agg, ["host", "template"]).select(
        "host", "template", "n_urls", "n_admitted", "n_blocked",
        "sum_seq_admitted", "max_seq_admitted",
    )


# ===========================================================================
# relational breadth (J1/J2 analogs, aggregations, top-k)
# ===========================================================================

def q_pricing_summary(spark, sf_dir):
    """A4-class aggregation: pricing summary over lineitem (map-side
    partial agg; one shuffle on the two flag columns)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.count("*").cast("long").alias("count_order"),
        )
    )


def q_cache_join(spark, sf_dir):
    """J1/J2 analog: fact⋈dim equi-joins with a broadcast dim chain."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").cast("long").alias("order_cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def q_topk_per_group(spark, sf_dir):
    """O1-analog relational top-k: top 3 orders per priority class."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
    return (
        o.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("o_orderpriority", "o_orderkey", F.round("o_totalprice", 2).alias("total"), F.col("rank").cast("int").alias("rank"))
    )


# ===========================================================================
# events: streaming-semantics analogs (ST1/ST4)
# ===========================================================================

def q_events_windows(spark, sf_dir):
    """CONSOLIDATED event-window row (r5): two op-tagged parts,
    normalized to (op, k1, k2, n, val). 'tumbling' = ST1 1-hour tumbling
    window aggregation per event_type (k1=window_start, k2=event_type,
    n=count, val=sum). 'moving_avg' = per-user last-5-rows moving
    average (k1=user_id, k2=event_id, val=avg — the ST4 latency-
    smoothing shape). Absorbed the former events_tumbling +
    events_moving_avg rows to free a slot for link_extract under the
    50-row driver cap (the frontier_dedup consolidation discipline)."""
    e = _t(spark, sf_dir, "events")
    tumbling = (
        e.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm").alias("window_start"),
            "event_type",
        )
        .agg(F.count("*").cast("long").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.lit("tumbling").alias("op"),
            F.col("window_start").alias("k1"),
            F.col("event_type").alias("k2"),
            "n",
            F.col("sum_value").alias("val"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    moving = e.select(
        F.lit("moving_avg").alias("op"),
        F.col("user_id").cast("string").alias("k1"),
        F.col("event_id").cast("string").alias("k2"),
        F.count("value").over(w).cast("long").alias("n"),  # window width 1..5
        F.round(F.avg("value").over(w), 6).alias("val"),
    )
    return tumbling.unionByName(moving)


def q_events_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity) — the batch twin of
    applyInPandasWithState-style custom stateful logic, expressed as
    lag + cumulative sum windows (ST2-adjacent; crawl-visit sessions)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch_us = F.unix_micros(F.col("ts").cast("timestamp"))  # integer µs both sides
    gap = epoch_us - F.lag(epoch_us).over(w)
    marked = e.withColumn(
        "new_session", F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    )
    sess = marked.withColumn("session_no", F.sum("new_session").over(w))
    return (
        sess.groupBy("user_id", "session_no")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            (
                F.max(F.unix_micros(F.col("ts").cast("timestamp")))
                - F.min(F.unix_micros(F.col("ts").cast("timestamp")))
            ).alias("duration_us"),
        )
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.sum("n_events").cast("long").alias("n_events"),
            F.max("duration_us").cast("long").alias("max_session_us"),
        )
    )


def q_adaptive_delay(spark, sf_dir):
    """ST4 AutoThrottle analog: next-round delay = clamp(5, 60,
    2·avg_latency) per host (settings.py.dist:163-169 semantics)."""
    e = _t(spark, sf_dir, "events")
    per_host = e.groupBy((F.col("user_id") % 20).cast("long").alias("host_id")).agg(
        F.avg("value").alias("avg_latency")
    )
    return per_host.select(
        "host_id",
        F.round("avg_latency", 4).alias("avg_latency"),
        F.round(F.least(F.lit(60.0), F.greatest(F.lit(5.0), F.col("avg_latency") * 2)), 4).alias("next_delay_s"),
    )


def q_ttl_recrawl(spark, sf_dir):
    """TTL re-crawl policy (recrawl.due_for_recrawl): events model a fetch
    log — url_hash = event_id % 5000, host = url_hash % 20, last fetch =
    max event ts per url (µs). A url is due when last_fetch + ttl(host) <
    now; even-numbered hosts carry a broadcast per-host TTL override.
    Mechanism (store tombstones; bloom shards keep stale positives) is
    pinned by tests/test_recrawl."""
    from frontier_engine.recrawl import due_for_recrawl

    e = _t(spark, sf_dir, "events")
    uh = (F.col("event_id") % 5000).cast("long")
    log = (
        e.select(
            uh.alias("url_hash"),
            F.concat(F.lit("h"), (uh % 20).cast("string"), F.lit(".example")).alias("host"),
            F.unix_micros(F.col("ts").cast("timestamp")).alias("fetch_us"),
        )
        .groupBy("url_hash", "host")
        .agg(F.max("fetch_us").alias("last_fetch_ts"))
    )
    now_us = e.agg(F.max(F.unix_micros(F.col("ts").cast("timestamp")))).first()[0]
    ttl = spark.createDataFrame(
        [(f"h{h}.example", (h + 1) * 600 * 1_000_000) for h in range(0, 20, 2)],
        "host string, ttl_s long",
    )
    due = due_for_recrawl(log, now_ts=now_us, default_ttl_s=5400 * 1_000_000, host_ttl=ttl)
    return due.select(
        "url_hash", "host",
        F.col("last_fetch_ts").cast("long").alias("last_fetch_us"),
        F.col("ttl_s").cast("long").alias("ttl_us"),
    )


# ===========================================================================
# training-data ops: dedup / langid / quality / tokens / similarity
# ===========================================================================

def q_dedup_exact(spark, sf_dir):
    """Exact dedup on normalized text: representative min doc_id + count."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.withColumn("_n", _norm(F.col("text")))
        .groupBy("_n")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").cast("long").alias("dup_count"))
        .select("doc_id", "dup_count")
    )


def q_ngram_jaccard_pairs(spark, sf_dir):
    """N-gram Jaccard near-dup pairs (exact, small id range): word-3-gram
    sets, all pairs with jaccard ≥ 0.5."""
    from frontier_engine.textops import word_shingles

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    sh = d.select("doc_id", word_shingles(F.col("text"), 3).alias("sh"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("uni", F.size(F.array_union("sh_a", "sh_b")))
        .where(F.col("uni") > 0)
        .withColumn("jaccard", F.round(F.col("inter") / F.col("uni"), 6))
        .where(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", "jaccard")
    )


def q_duplicate_spans(spark, sf_dir):
    """CONSOLIDATED span-overlap row (see q_text_metrics for why): two
    operators over the same per-doc grain, joined on doc_id.

    * textops.duplicate_spans: per doc, count of distinct 6-word spans
      shared with another doc + dup ratio — the Lee-et-al.-2022
      span-dedup signal; SQL twin recomputes span sets and frequencies
      from scratch.
    * textops.decontaminate (r4): GPT-3-style test-set decontamination —
      8-gram overlap flags vs a benchmark slice (doc_id % 97 == 0, a
      deterministic stand-in for a held-out eval set); the twin
      recomputes benchmark gram sets and per-doc hit counts."""
    from frontier_engine.textops import decontaminate, duplicate_spans

    d = _spread(_t(spark, sf_dir, "documents"), "doc_id")
    bmk = d.where(F.col("doc_id") % 97 == 0)
    return duplicate_spans(d, n=6).join(decontaminate(d, bmk, n=8), "doc_id")


def q_text_metrics(spark, sf_dir):
    """CONSOLIDATED correctness row covering SIX text-analysis operators
    (lang_id + quality_score + token_counts + doc_fingerprint + the r4
    bigram-LM perplexity scorer + the r4 Gopher repetition-signal
    family), joined on doc_id into one frame.
    Consolidation exists because the driver's correctness sweep records
    at most 50 query rows (r3 checked exactly the first 50 of 53 dict
    entries; the full sweep takes <2 min at sf0.01, so it was a count
    cap, not time) — every operator keeps its own oracle-checked
    columns, just sharing a row. The LM columns self-score the corpus
    (train and score on `documents`) so the whole train+score path —
    bigram counts, add-α smoothing, vocab scalar, per-doc aggregation —
    is pinned by the DuckDB twin."""
    from frontier_engine.textops import (
        _doc_bigrams, bigram_lm, lm_score, repetition_metrics, text_profile,
    )

    # r6 perf: the four per-row operators (lang_id, quality_score,
    # token_counts, doc_fingerprint_md5) collapse into text_profile's
    # single projection — same columns, same values, one normalization
    # pass instead of four and three fewer doc_id joins; the LM's
    # exploded-bigram frame is computed once and shared by training and
    # scoring (it appeared three times in the old plan). 32 Exchanges →
    # ~1/3 of that.
    d = _spread(_t(spark, sf_dir, "documents"), "doc_id")
    bg = _doc_bigrams(d, "text", "doc_id").cache()
    uni, bi, voc = bigram_lm(d, doc_bigrams=bg)
    return (
        text_profile(d)
        .join(lm_score(d, uni, bi, voc, doc_bigrams=bg), "doc_id")
        .join(repetition_metrics(d), "doc_id")
    )


def q_ann_topk(spark, sf_dir):
    """CONSOLIDATED correctness row covering the THREE single-query ANN
    variants (brute-force baseline, multi-probe LSH, IVF-Flat), tagged by
    a `method` column. LSH and IVF both retrieve over the planted
    near-neighbor universe and must equal the exact brute force the
    oracle computes — the union makes each method's equality a separate
    set of hash-checked rows (see q_text_metrics for why consolidated)."""
    from frontier_engine.similarity import brute_force_topk, ivf_topk, lsh_topk

    # r6 perf: build the planted-neighbor universe ONCE (the old shape
    # re-derived it per leg — two first() jobs + the mixture expression
    # tree re-planned by every kmeans iteration's job) and localCheckpoint
    # it, so the ~7 driver actions underneath (kmeans init + iterations,
    # probes, final union) plan against a trivial scan. Same rows, same
    # values — the checkpoint only truncates lineage inside this query.
    # The brute leg reuses the already-collected query vector as a
    # literal (bit-identical cosine: the literal doubles ARE the cast
    # values the broadcast qvec column held, and norm(q) constant-folds)
    # instead of a crossJoin broadcast build.
    uni, _mix, qv = _ann_universe(spark, sf_dir)
    uni = uni.localCheckpoint(eager=True)
    e = _t(spark, sf_dir, "embeddings")
    brute = brute_force_topk(e, qv, k=10).withColumn("method", F.lit("brute"))
    lsh = lsh_topk(uni, qv, k=10, probe_hamming=2).withColumn("method", F.lit("lsh"))
    ivf = ivf_topk(uni, qv, k=10, n_lists=16, n_probe=4).withColumn("method", F.lit("ivf"))
    return brute.unionByName(lsh).unionByName(ivf)


def q_sessionize(spark, sf_dir):
    """CONSOLIDATED correctness row covering gap-sessionization on BOTH
    faces — the batch lag+cumsum twin and the applyInPandasWithState
    streaming operator — tagged by `mode`. Both must equal the same SQL
    oracle, so the union also pins batch/stream parity in the driver's
    hash check (see q_text_metrics for why consolidated)."""
    b = q_events_sessionize(spark, sf_dir).withColumn("mode", F.lit("batch"))
    s = q_stream_sessionize(spark, sf_dir).withColumn("mode", F.lit("stream"))
    return b.unionByName(s)


def q_price_sweep(spark, sf_dir):
    """M5: price-sliced search sweep — (min, max, increment) expands to one
    search slice per price band (sequence+explode; airbnb.py:24-27,365-380
    price_range semantics)."""
    o = _t(spark, sf_dir, "orders")
    bands = o.groupBy("o_orderpriority").agg(
        F.floor(F.min("o_totalprice")).cast("long").alias("pmin"),
        F.floor(F.max("o_totalprice")).cast("long").alias("pmax"),
    )
    return bands.select(
        "o_orderpriority",
        F.explode(F.sequence(F.col("pmin"), F.col("pmax"), F.lit(50000))).alias("price_min"),
    ).withColumn("price_max", F.col("price_min") + 50000)


def q_region_rollup(spark, sf_dir):
    """Hierarchical rollup region→nation (grouping-sets aggregation over
    the broadcast dim chain)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    j = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        j.rollup("r_name", "n_name")
        .agg(
            F.count("*").cast("long").alias("orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .select(
            F.coalesce("r_name", F.lit("(all)")).alias("r_name"),
            F.coalesce("n_name", F.lit("(all)")).alias("n_name"),
            "orders",
            "revenue",
        )
    )


def q_link_extract(spark, sf_dir):
    """r5: HTML anchor extraction + RFC 3986 reference resolution over
    the committed link-world fixture (links.extract_links — pure JVM
    regex chain, let-bound via transform lambdas, no Python stage, no
    shuffle), JOINED with the per-target anchor/endorsement rollup
    (links.anchor_stats — two url-keyed hash aggregations: in-degree,
    referring-host breadth, nofollow share, deterministic top anchor)
    so ONE hash certifies extraction AND aggregation. The oracle's link
    rows come from an INDEPENDENT stdlib implementation — html.parser
    event stream + urllib.parse.urljoin (scripts_make_link_fixture.py);
    its stats leg re-aggregates those golden rows in DuckDB SQL. The
    reference discovers URLs only through its JSON-API spider
    (deepbnb/spiders/airbnb.py:149-175) and has no link signal."""
    from frontier_engine.links import anchor_stats, extract_links

    links = extract_links(spark.read.parquet(_FIXTURE_LINKS_PAGES))
    return links.join(anchor_stats(links), "url").select(
        "src_url", "href_raw", "url", "anchor", "nofollow",
        "n_refs", "n_hosts", "n_nofollow", "top_anchor",
    )


# --- hash/LSH-family ops, made oracle-checkable (VERDICT r1 item #4):
# either the output is SQL-recomputable directly (md5 fingerprint, canon
# strings, exact-set semantics) or the query carries SQL-derivable
# planted duplicates whose expected pair set a brute-force oracle
# recomputes exactly ---

def q_minhash_dedup(spark, sf_dir):
    """MinHash→LSH→exact-verify near-dup pairs at jaccard ≥ 0.8, plus the
    r4 transitive-closure column: ``component`` labels each pair's
    duplicate CLUSTER (large-star/small-star connected components over
    the verified pair graph, components.py — similarity is not
    transitive, so cluster-level survivor policy needs this). The
    exact-Jaccard verify means no false positives; banding recall at the
    corpus's planted-dup similarity (J ≈ 0.97) is 1 − (1−J⁴)⁸ ≈ 1-3e-8,
    so the output equals the exact all-pairs answer the oracle computes
    (closure there: recursive CTE over the same exact pairs)."""
    from frontier_engine.components import connected_components
    from frontier_engine.textops import minhash_dedup_pairs

    d = _spread(_t(spark, sf_dir, "documents"), "doc_id")
    pairs = minhash_dedup_pairs(d, threshold=0.8)
    comp = connected_components(pairs, "id_a", "id_b").withColumnRenamed(
        "id", "id_a"
    )
    return pairs.join(comp, "id_a").select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard"), "component"
    )


def q_minhash_dedup_join(spark, sf_dir):
    """Round-3 incremental ingest dedup (textops.minhash_dedup_join):
    near-dup pairs between a NEW batch (copies of doc_id<60 at +100000 —
    SQL-derivable) and the existing corpus, never corpus×corpus. Driver
    uses 16 bands × 2 rows: at the threshold J=0.8 the per-pair LSH miss
    probability is (1−0.8²)¹⁶ ≈ 8.5e-8, so the 7 genuinely-near
    (0.8 ≤ J < 1) cross pairs in this corpus are caught along with the
    60 exact ones, and the output equals the oracle's exact cross
    Jaccard sweep."""
    from frontier_engine.textops import minhash_dedup_join

    d = _spread(_t(spark, sf_dir, "documents"), "doc_id")
    new = d.where(F.col("doc_id") < 60).withColumn(
        "doc_id", F.col("doc_id") + F.lit(100000)
    )
    return minhash_dedup_join(new, d, num_hashes=32, bands=16, threshold=0.8)


def q_stratified_sample(spark, sf_dir):
    """CONSOLIDATED sampling row (see q_text_metrics for why): two
    data-selection operators union-tagged by `method`.

    * 'quota' — textops.stratified_sample (r3): deterministic
      per-language quota sampling, rank by (md5(doc_id), doc_id) within
      lang, keep rank ≤ quota. md5 hex is engine-identical, so the
      oracle recomputes the exact permutation.
    * 'dsir' — textops.dsir_select (r4): DSIR importance resampling of
      60 docs toward a target domain (source src0/src1), bigram-LM
      importance weights + deterministic md5-seeded Gumbel noise — the
      full train→weigh→resample path is SQL-recomputable, so the twin
      pins both LM trainings, the weight arithmetic, and the Gumbel
      top-k selection."""
    from pyspark.sql import Window

    from frontier_engine.textops import dsir_select, stratified_sample

    d = _t(spark, sf_dir, "documents")
    quota = stratified_sample(
        d, {"en": 40, "de": 25, "fr": 10}, group_col="lang", id_col="doc_id"
    ).select(
        F.lit("quota").alias("method"),
        "doc_id",
        "lang",
        F.col("sample_rank").cast("int").alias("sample_rank"),
        F.lit(0.0).alias("score"),
    )
    sel = dsir_select(d, d.where(F.col("source").isin("src0", "src1")), k=60)
    # rank window is bounded by k=60 post-limit rows — never the corpus
    wnd = Window.orderBy(F.col("dsir_key").desc(), F.col("doc_id"))
    dsir = (
        sel.join(d.select("doc_id", "lang"), "doc_id")
        .select(
            F.lit("dsir").alias("method"),
            "doc_id",
            "lang",
            F.row_number().over(wnd).cast("int").alias("sample_rank"),
            F.col("dsir_key").alias("score"),
        )
    )
    return quota.unionByName(dsir)


def q_simhash_pairs(spark, sf_dir):
    """SimHash banded near-dup detection, checked on SQL-derivable planted
    duplicates: exact copies of doc_id<100 re-id'd at +10000 MUST collide
    (identical tokens ⇒ identical simhash ⇒ hamming 0 ⇒ chunk-band
    collision guaranteed). Full natural-pair mining stays in
    textops.simhash_near_pairs (pytest: planted-perturbation recall)."""
    from frontier_engine.textops import simhash_near_pairs

    d = _spread(_t(spark, sf_dir, "documents"), "doc_id").where(F.col("doc_id") < 2000)
    planted = d.where(F.col("doc_id") < 100).withColumn(
        "doc_id", F.col("doc_id") + F.lit(10000)
    )
    universe = d.unionByName(planted)
    pairs = simhash_near_pairs(universe, max_hamming=3)
    return pairs.where(
        (F.col("id_b") - F.col("id_a") == 10000) & (F.col("id_a") < 100)
    ).select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


def q_url_canonicalize(spark, sf_dir):
    """CONSOLIDATED URL-normalization row (r5): two op-tagged parts over
    (op, url, out_url, n_hops, resolved).

    'canon' = P18 JVM-expression canonicalizer over four messy-URL
    shapes (casing, default/explicit ports, fragments, param order,
    userinfo, empty path); url_hash (xxhash64) is engine-internal —
    byte-exactness of the hash is pinned by the Python-twin test, the
    canon STRING is what the oracle recomputes.

    'redirect' = redirects.resolve_redirects — 3xx-chain folding BEFORE
    the seen-set (pointer doubling: log2(16)=4 hash self-joins, loop-
    safe: cycles surface as resolved=false with the node exactly 16
    steps in). Edge set is derived deterministically from orderkeys:
    descending chains (i%5≠0 → i-1-(i%3)), self-loops (i%10=0), and
    A↔B pairs in a disjoint +1e9 namespace (i%10=5) — chains, both loop
    shapes, and min(dst) conflict resolution all hit the oracle, a
    DuckDB recursive CTE walking the same edges."""
    from frontier_engine.canon import with_canon_columns
    from frontier_engine.redirects import resolve_redirects

    fr = _frontier(spark, sf_dir)
    seq = F.col("discovered_seq")
    messy = fr.select(
        seq.alias("seq"),
        F.when(
            seq % 4 == 0,
            F.concat(F.lit("HTTPS://"), F.upper(F.col("host")), F.lit(":443/Page/"), seq, F.lit("?b=2&a=1#frag")),
        )
        .when(seq % 4 == 1, F.concat(F.lit("http://"), F.col("host"), F.lit(":80")))
        .when(
            seq % 4 == 2,
            F.concat(F.lit("https://"), F.col("host"), F.lit(":8443/x?z=1&y=2&x=3")),
        )
        .otherwise(
            F.concat(F.lit("https://user@"), F.upper(F.col("host")), F.lit("/A/B#f"))
        )
        .alias("url"),
    )
    canon = (
        with_canon_columns(messy)
        .select("url", "canon_url")
        .distinct()
        .select(
            F.lit("canon").alias("op"),
            "url",
            F.col("canon_url").alias("out_url"),
            F.lit(0).cast("long").alias("n_hops"),
            F.lit(True).alias("resolved"),
        )
    )

    i = F.col("o_orderkey")

    def u(c):
        return F.concat(F.lit("https://r.example/u/"), c.cast("string"))

    o = _t(spark, sf_dir, "orders").select("o_orderkey")
    chain = o.where(i % 5 != 0).select(
        u(i).alias("src_url"), u(i - 1 - (i % 3)).alias("dst_url")
    )
    loops = o.where(i % 10 == 0).select(
        u(i).alias("src_url"), u(i).alias("dst_url")
    )
    cyc_a = o.where(i % 10 == 5).select(
        u(i).alias("src_url"), u(i + 1000000000).alias("dst_url")
    )
    cyc_b = o.where(i % 10 == 5).select(
        u(i + 1000000000).alias("src_url"), u(i).alias("dst_url")
    )
    edges = chain.union(loops).union(cyc_a).union(cyc_b)
    red = resolve_redirects(edges).select(
        F.lit("redirect").alias("op"), "url", "out_url", "n_hops", "resolved"
    )
    return canon.unionByName(red)


def q_seen_bloom(spark, sf_dir):
    """D1 exact-set semantics end-to-end: insert half the canon'd URLs
    into bloom shards + exact table, filter_unseen must return precisely
    the other half (bloom has no false negatives; the exact confirm
    removes its false positives)."""
    from frontier_engine import seen as S
    from frontier_engine.canon import with_canon_columns

    fr = _frontier(spark, sf_dir)
    # r6 perf: the canon'd frontier feeds FOUR subtrees (shard build,
    # exact-table build, bloom probe, final anti-join) — checkpoint it
    # once instead of re-running the canonicalizer expression chain in
    # each (same rows, lineage truncation only)
    cand = with_canon_columns(
        _spread(fr.select("url", "discovered_seq"), "url")
    ).localCheckpoint(eager=True)
    first = cand.where(F.col("discovered_seq") % 2 == 0)
    shards, exact = S.update_seen(first, S.empty_shards(spark), S.empty_seen_exact(spark), 16, 1 << 18, 7)
    unseen = S.filter_unseen(cand, shards, exact, 16, 1 << 18, 7)
    return unseen.select("url")


def _ann_universe(spark, sf_dir):
    """Corpus + ten planted near neighbors of v0 (0.95·v0 + 0.05·vi) —
    the SQL-derivable evaluation set shared by lsh_ann / ivf_ann.
    Returns ``(universe, mixtures, qv)`` — the mixtures frame is exposed
    so batch-query consumers can use the planted set DIRECTLY (r6: the
    old ``vec_id >= 100000`` re-filter of the union only equals the
    oracle's planted set while natural ids stay under the offset — a
    latent mismatch at very large generated scale factors)."""
    from frontier_engine.similarity import _as_double

    e = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in e.where(F.col("vec_id") == 0).select("embedding").first()[0]]
    qcol = F.array(*[F.lit(float(x)).cast("double") for x in qv])
    mixtures = (
        e.where((F.col("vec_id") >= 1) & (F.col("vec_id") <= 10))
        .select(
            (F.col("vec_id") + F.lit(100000)).alias("vec_id"),
            F.zip_with(qcol, _as_double(F.col("embedding")), lambda a, b: a * 0.95 + b * 0.05).alias("embedding"),
            F.col("label"),
        )
    )
    uni = e.select("vec_id", _as_double(F.col("embedding")).alias("embedding"), "label").unionByName(mixtures)
    return _spread(uni, "vec_id"), mixtures, qv


def q_ivf_topk_join(spark, sf_dir):
    """Batch-query IVF ANN (similarity.ivf_topk_join, round-3): a TABLE
    of ten planted queries — the SQL-derivable 0.95·v0 + 0.05·vi
    mixtures themselves — retrieves exact-cosine top-5 from the
    corpus+mixtures universe in ONE job (queries explode to their
    n_probe nearest inverted lists, equi-join on list id, windowed
    top-k). Every query's true neighbors (itself, v0, the other
    mixtures, all near-parallel) share the query's probed lists, so the
    result must equal the per-query exact brute force the oracle
    computes."""
    from frontier_engine.similarity import ivf_topk_join

    # r6 perf: localCheckpoint the universe so the kmeans jobs and the
    # probe/join job plan against a trivial scan (see q_ann_topk)
    uni, mixtures, _qv = _ann_universe(spark, sf_dir)
    uni = uni.localCheckpoint(eager=True)
    # r6: the query TABLE is the planted-mixture frame itself — exactly
    # the oracle's qt set at ANY scale factor (the old >= 100000
    # re-filter of the union would also catch natural high ids once the
    # generated corpus outgrows the planted-offset sentinel)
    queries_df = mixtures.select(
        (F.col("vec_id") - 100000).alias("query_id"), F.col("embedding")
    )
    return ivf_topk_join(queries_df, uni, k=5, n_lists=16, n_probe=4).select(
        "query_id", "vec_id", "cos", F.col("rank").cast("int").alias("rank")
    )


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (LSH buckets + exact verify) over
    the corpus plus SQL-derivable planted duplicates (vec_id<40 copied to
    +100000, cosine exactly 1.0): identical vectors share every LSH
    bucket, so each planted pair MUST surface; the brute-force oracle
    recomputes the full ≥0.9 pair set."""
    from frontier_engine.similarity import embedding_near_dup_pairs

    e = _t(spark, sf_dir, "embeddings")
    planted = e.where(F.col("vec_id") < 40).withColumn(
        "vec_id", F.col("vec_id") + F.lit(100000)
    )
    return embedding_near_dup_pairs(_spread(e.unionByName(planted), "vec_id"), threshold=0.9)


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (similarity.semantic_dedup): sign-bit coarse clusters
    (float-exact in SQL), within-cluster cosine ≥0.95 drops, lowest id of
    each chain survives. Corpus = embeddings + exact copies of vec_id<40
    at +100000 (same sign bits by construction, cos exactly 1.0 → every
    planted copy MUST be dropped; the oracle recomputes the full rule)."""
    from frontier_engine.similarity import semantic_dedup

    e = _t(spark, sf_dir, "embeddings")
    planted = e.where(F.col("vec_id") < 40).withColumn(
        "vec_id", F.col("vec_id") + F.lit(100000)
    )
    return semantic_dedup(
        _spread(e.unionByName(planted), "vec_id"), threshold=0.95,
        quantizer="signbits", n_clusters=8,
    )


def q_phash_near_dup(spark, sf_dir):
    """Image near-dup via perceptual hash (multimodal.phash_near_pairs,
    r4): REAL PNG payloads decode → grayscale → 9×8 dHash → the same
    4×16-bit Hamming banding as text simhash — never all-pairs. The
    committed fixture plants re-encoded copies (hamming 0), one-bit
    edits (hamming 1) and half-size resamples; the oracle recomputes the
    full ≤3-Hamming pair set from the fixture's golden_phash column
    (computed from the SOURCE pixels by an independent implementation),
    so a regression anywhere in decode/resize/hash/banding mismatches."""
    from frontier_engine.multimodal import phash_near_pairs

    media = spark.read.parquet(_FIXTURE_PHASH).select("media_id", "mime", "payload")
    return phash_near_pairs(media, max_hamming=3).select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


def q_audio_near_dup(spark, sf_dir):
    """Audio near-dup via perceptual fingerprint (r4): REAL WAV payloads
    decode (frontier_engine.wav, RIFF/PCM) → 8-band × 9-frame
    log-spectrogram → band-energy-delta dHash (Haitsma & Kalker 2002
    shape, gain-invariant) → the SAME 4×16-bit Hamming banding as text
    simhash and image dHash — never all-pairs. The committed fixture
    plants byte-different re-encodes (hamming 0), gain-halved copies
    (≤2) and different signals (far); the oracle recomputes the full
    ≤3-Hamming pair set from the fixture's golden_fp column (computed
    from the payload bytes by an independent struct-reader + DFT-matrix
    implementation), so a regression anywhere in decode / spectrogram /
    hash / banding mismatches."""
    from frontier_engine.multimodal import phash_near_pairs

    media = spark.read.parquet(_FIXTURE_AUDIO).select("media_id", "mime", "payload")
    return phash_near_pairs(media, max_hamming=3).select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


def q_semantic_dedup_join(spark, sf_dir):
    """Incremental semantic dedup (similarity.semantic_dedup_join, r4):
    an incoming batch checked against the EXISTING corpus only — never
    corpus×corpus. Batch = exact copies of vec_id<30 at +200000 (same
    sign-bit cluster by construction, cos exactly 1.0 to their corpus
    parent → MUST be dropped) plus reversed vectors of vec_id 100-149 at
    +300000 (genuinely new content — a reversed random vector is
    near-orthogonal to every corpus vector, so these survive; either
    way the oracle recomputes the exact rule)."""
    from frontier_engine.similarity import semantic_dedup_join

    e = _t(spark, sf_dir, "embeddings")
    copies = e.where(F.col("vec_id") < 30).select(
        (F.col("vec_id") + F.lit(200000)).alias("vec_id"), "embedding"
    )
    fresh = e.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 150)).select(
        (F.col("vec_id") + F.lit(300000)).alias("vec_id"),
        F.reverse("embedding").alias("embedding"),
    )
    return semantic_dedup_join(
        _spread(copies.unionByName(fresh), "vec_id"), _spread(e, "vec_id"),
        threshold=0.95, n_clusters=8, quantizer="signbits",
    )


def q_centroid_topk(spark, sf_dir):
    """Per-label centroid exemplars (cluster top-k)."""
    from frontier_engine.similarity import all_pairs_topk_per_label

    return all_pairs_topk_per_label(_t(spark, sf_dir, "embeddings"), k=3).select(
        "label", "vec_id", "cos", F.col("rank").cast("int").alias("rank")
    )


def q_media_near_dup(spark, sf_dir):
    """CONSOLIDATED correctness row covering perceptual near-dup media
    across ALL THREE mediums (image dHash over real PNG decode, audio
    fingerprint over real WAV decode, r5 video first-frame dHash over
    real MJPEG-in-MP4 demux+decode — the same banded-Hamming engine fed
    by different codecs), tagged by `medium`. Each medium's golden-hash
    oracle equality stays a separate set of hash-checked rows (see
    q_text_metrics for why consolidated)."""
    img = q_phash_near_dup(spark, sf_dir).withColumn("medium", F.lit("image"))
    aud = q_audio_near_dup(spark, sf_dir).withColumn("medium", F.lit("audio"))
    vid = q_video_near_dup(spark, sf_dir).withColumn("medium", F.lit("video"))
    return img.unionByName(aud).unionByName(vid)


def q_video_near_dup(spark, sf_dir):
    """Video near-dup via first-frame perceptual hash (r5): REAL
    MJPEG-in-MP4 payloads — ISO-BMFF sample-table seek (frontier_engine
    .mp4) resolves the first codec sample, baseline-JPEG decode
    (frontier_engine.jpeg) produces REAL pixels, then the same
    grayscale → 9×8 dHash → 4×16-bit Hamming banding as images. The
    committed fixture plants quality-75 re-encodes (hamming 0 — the
    mosaic frames are dHash-grid-aligned so compression noise can't
    flip a comparison), one-cell first-frame edits (hamming exactly 1)
    and distinct videos (far); the oracle recomputes the ≤3-Hamming
    pair set from golden_vhash (computed from SOURCE pixels by an
    independent explicit-loop implementation), so a regression anywhere
    in demux / sample extraction / JPEG decode / hash / banding
    mismatches."""
    from frontier_engine.multimodal import phash_near_pairs

    media = spark.read.parquet(_FIXTURE_VIDEO).select("media_id", "mime", "payload")
    return phash_near_pairs(media, max_hamming=3).select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


def q_semantic_dedup_family(spark, sf_dir):
    """CONSOLIDATED correctness row covering BOTH faces of SemDeDup —
    the one-shot corpus sweep (similarity.semantic_dedup) and the
    incremental batch-vs-corpus ingest join (semantic_dedup_join, never
    corpus x corpus) — tagged by `mode`. Same output schema
    (vec_id, cluster, kept), same planted-copy discipline; each mode's
    oracle equality stays a separate set of hash-checked rows (see
    q_text_metrics for why consolidated)."""
    c = q_semantic_dedup(spark, sf_dir).withColumn("mode", F.lit("corpus"))
    i = q_semantic_dedup_join(spark, sf_dir).withColumn("mode", F.lit("ingest"))
    return c.unionByName(i)


def q_pii_clean(spark, sf_dir):
    """CONSOLIDATED webtext-cleaning row (r4): PII redaction (Dolma /
    BigCode discipline) -> C4 line filtering (Raffel et al. 2020 §2.2) ->
    corpus-level repeated-line dedup (CCNet §3.1 / RefinedWeb §3.4),
    chained in pipeline order over a SQL-reproducibly planted multi-line
    corpus (the synthetic documents carry no newlines or PII, so the
    query plants: a per-doc unique article line, an email+phone contact
    line on doc_id%5, a javascript line on %3, a 1-word line on %2, an
    IP line on %7, a copyright footer on %4). The stages interlock: the
    IP/contact lines become IDENTICAL across docs only AFTER redaction,
    so the line-dedup stage must see the redacted text to drop them —
    the oracle recomputes the full chain.

    Scale shape: redaction + line filter are pure JVM row expressions
    (zero shuffles); line dedup shuffles 8-byte line hashes once with
    map-side partial agg, anti-joins a tiny boilerplate set (AQE
    broadcast), and reassembles with ONE shuffle on doc_id — no window,
    no SinglePartition (plan-guarded in tests/test_plans.py)."""
    from frontier_engine.textops import (
        c4_line_filter, pii_redact, repeated_line_dedup,
    )

    d = _spread(_t(spark, sf_dir, "documents"), "doc_id").select("doc_id", "text")
    did = F.col("doc_id")
    lines = F.array_compact(
        F.array(
            F.concat(F.col("text"), F.lit(" end of article.")),
            F.when(
                did % 5 == 0,
                F.concat(
                    F.lit("Contact user"), did.cast("string"),
                    F.lit("@example.com or call +1-555-0199 right now."),
                ),
            ),
            F.when(did % 3 == 0, F.lit("Enable JavaScript to enjoy this site.")),
            F.when(did % 2 == 0, F.lit("Share.")),
            F.when(
                did % 7 == 0,
                F.concat(
                    F.lit("Served from 10.0."), (did % 200).cast("string"),
                    F.lit(".1 node today."),
                ),
            ),
            F.when(did % 4 == 0, F.lit("All rights reserved worldwide.")),
        )
    )
    planted = d.select("doc_id", F.array_join(lines, "\n").alias("text"))
    pii = pii_redact(planted)
    c4 = c4_line_filter(pii.select("doc_id", F.col("clean_text").alias("text")))
    rl = repeated_line_dedup(
        c4.select("doc_id", F.col("c4_text").alias("text")), min_docs=3
    ).select(
        "doc_id",
        F.col("dedup_text").alias("final_text"),
        F.col("lines_dropped").alias("boiler_dropped"),
    )
    return pii.join(c4, "doc_id").join(rl, "doc_id")


def q_pack_sequences(spark, sf_dir):
    """GPT-style sequence packing (textops.pack_sequences_counted, r4;
    r5 adds the method='bpe' count): the corpus' tokens laid end-to-end in
    doc_id order and cut into 64-token training sequences; output is the
    method-tagged (seq_id, doc_id, tok_start, n_toks) assignment union —
    method='ws' packs whitespace tokens, method='bpe' first TRAINS an
    in-repo byte-pair vocab over the corpus (frontier_engine.bpe:
    distributed word-freq agg + per-round distributed pair counts,
    deterministic (count DESC, pair ASC) argmax, min_count=2 early
    stop) and packs exact BPE token counts (the merges enter the plan
    as a literal JVM replace chain). The oracle recomputes EVERYTHING —
    BPE training unrolled stage by stage, encoding, both prefix-sum
    layouts — in DuckDB SQL; the engine's range-partitioned two-phase
    cumsum (driver sees n_parts totals, never rows; no SinglePartition
    exchange, plan-guarded) must produce identical assignments at any
    parallelism."""
    from frontier_engine.bpe import bpe_token_count_col, bpe_train
    from frontier_engine.textops import pack_sequences_counted

    d = _spread(_t(spark, sf_dir, "documents"), "doc_id").select("doc_id", "text")
    merges = bpe_train(d, num_merges=_BPE_NUM_MERGES, min_count=2)
    # r6 perf: both tokenizations pack over ONE range partitioning (the
    # sampling/persist/totals-collect jobs are paid once); checkpointed
    # so the persisted range layout can be released
    out, handle = pack_sequences_counted(
        d,
        seq_len=64,
        counts={
            "ws": F.size(F.split(F.col("text"), r"\s+")).cast("long"),
            "bpe": bpe_token_count_col(F.col("text"), merges),
        },
    )
    out = out.localCheckpoint(eager=True)
    handle.unpersist()
    return out


_BPE_NUM_MERGES = 16


def _bpe_pack_oracle_sql() -> str:
    """DuckDB twin of q_pack_sequences: unrolls the BPE training loop as
    _BPE_NUM_MERGES chained CTE stages (pair counts → (c DESC, pair ASC)
    argmax with min-count-2 gate → delimiter-framed replace — the same
    string algorithm the engine runs as JVM expressions), then encodes
    every document and lays out both tokenizations' packing windows.
    Stages past the engine's early stop see no >=2-count pair and no-op
    via the chr(2)||chr(2) never-occurs guard pattern."""
    d1, d2, d3 = "chr(1)", "chr(2)", "chr(3)"
    guard = "chr(2)||chr(2)"  # framing never puts two EOTs adjacent
    pre = r"'[A-Za-z0-9]+|[^A-Za-z0-9\s]'"
    clean = f"translate(text, {d1}||{d2}||{d3}, '')"
    # frame(x): every codepoint of x becomes chr(1)<c>chr(2)
    frame = lambda x: f"regexp_replace({x}, '(.)', {d1}||'\\1'||{d2}, 'g')"
    parts = [f"""
        WITH w0 AS MATERIALIZED (
          SELECT {frame('w')} AS tk, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM (SELECT unnest(regexp_extract_all({clean}, {pre})) AS w FROM documents)
          GROUP BY w
        )"""]
    for k in range(_BPE_NUM_MERGES):
        pat = f"(SELECT {d1} || replace(pair, {d3}, {d2}||{d1}) || {d2} FROM b{k})"
        rep = f"(SELECT {d1} || replace(pair, {d3}, '') || {d2} FROM b{k})"
        parts.append(f""",
        p{k} AS MATERIALIZED (
          SELECT pr AS pair, CAST(SUM(cnt) AS BIGINT) AS c
          FROM (SELECT cnt, unnest([l[i] || {d3} || l[i+1] for i in range(1, len(l))]) AS pr
                FROM (SELECT cnt, string_split(substring(tk, 2, length(tk)-2), {d2}||{d1}) AS l
                      FROM w{k} WHERE length(tk) > 0))
          GROUP BY pr
        ),
        b{k} AS MATERIALIZED (SELECT pair FROM p{k} WHERE c >= 2 ORDER BY c DESC, pair LIMIT 1),
        w{k + 1} AS MATERIALIZED (SELECT replace(tk, coalesce({pat}, {guard}), coalesce({rep}, '')) AS tk, cnt FROM w{k}),
        e{k + 1} AS MATERIALIZED (SELECT doc_id, replace(s, coalesce({pat}, {guard}), coalesce({rep}, '')) AS s FROM e{k})""")
    parts.insert(1, f""",
        e0 AS MATERIALIZED (
          SELECT doc_id, array_to_string(list_transform(
                   regexp_extract_all({clean}, {pre}), w -> {frame('w')}), {d3}) AS s
          FROM documents
        )""")
    m = _BPE_NUM_MERGES

    def pack_part(toks_cte: str, method: str) -> str:
        return f"""
          SELECT '{method}' AS method, seq_id::BIGINT AS seq_id, doc_id,
                 GREATEST(0, seq_id*64 - s_off)::BIGINT AS tok_start,
                 (LEAST((seq_id+1)*64, s_off + t) - GREATEST(seq_id*64, s_off))::BIGINT AS n_toks
          FROM (
            SELECT doc_id, s_off, t, (s_off // 64) + i AS seq_id
            FROM (SELECT doc_id, t,
                         (SUM(t) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - t)::BIGINT AS s_off
                  FROM {toks_cte}) c,
                 -- span-count bound DERIVED from the data (a doc of t
                 -- tokens spans at most t//64 + 2 sequences), never a
                 -- hard-coded cap the engine side doesn't share
                 (SELECT unnest(range(0, (SELECT COALESCE(MAX(t), 0) // 64 + 2
                                          FROM {toks_cte}))) AS i)
            WHERE (s_off // 64) + i <= ((s_off + t - 1) // 64)
          )"""

    parts.append(f""",
        ws_toks AS (
          SELECT doc_id, len(regexp_split_to_array(text, '\\s+'))::BIGINT AS t FROM documents
        ),
        bpe_toks AS (
          SELECT doc_id, (length(s) - length(replace(s, {d1}, '')))::BIGINT AS t
          FROM e{m} WHERE length(s) - length(replace(s, {d1}, '')) > 0
        )
        {pack_part('ws_toks', 'ws')}
        UNION ALL
        {pack_part('bpe_toks', 'bpe')}""")
    return "".join(parts)


# ===========================================================================
# parse/assemble/pipeline family over the committed crawl-world fixture
# (P4-P9, P16, F1-F8, J3/A1/A2, S4/O4 — the flagship extraction path,
# oracle-checked via DuckDB JSON functions on the same pages.parquet)
# ===========================================================================

_PARSE_ARGS = ("2026-09-01", "2026-09-29", 9000)  # == fixtures.WorldSpec defaults


def q_page_text_extract(spark, sf_dir):
    """P9: html→plaintext byte parity — the engine recomputes text from the
    raw html bytes via the mapInArrow path (r4: no pandas hop on either
    side of the Arrow boundary; tests/test_html_text.py pins it equal to
    the pandas_udf twin); the oracle returns the generator's golden text
    column. Hash equality IS the byte-identical invariant."""
    from frontier_engine.html_text import html_bytes_to_text_arrow

    pages = _spread(spark.read.parquet(_FIXTURE_PAGES), "url")
    return html_bytes_to_text_arrow(pages, keep=("url",))


def q_pdp_extract(spark, sf_dir):
    """S3/P10-P15/P17: PDP JSON → field projection via the engine's
    parse_pdp (first-match find_section, render_titles with falsy-subtitle
    skip, amenity flatten∘filter, amenity-ID regex, Guest-access group
    lookup, house-rules projection, allows_events flag, listing-URL
    synth, logging-context ratings). The DuckDB twin recomputes every
    field from the same JSON; the three html→text fields are covered
    byte-exactly by page_text_extract and are omitted here (SQL cannot
    express the HTML parser). Arrays are '|'-joined on both sides."""
    from frontier_engine import parse as P
    from frontier_engine.config import EngineConfig

    pages = _fixture_pages(spark)
    rows, _ = P.parse_pdp(pages.where(P.page_type_col() == "pdp"), EngineConfig())
    return rows.select(
        "page_url",
        "listing_id",
        F.coalesce("access", F.lit("")).alias("access"),
        F.coalesce("additional_house_rules", F.lit("")).alias("additional_house_rules"),
        F.coalesce("allows_events", F.lit(False)).alias("allows_events"),
        F.array_join("amenities", "|").alias("amenities"),
        F.array_join(F.transform("amenity_ids", lambda x: x.cast("string")), "|").alias("amenity_ids"),
        F.coalesce(F.array_join("house_rules", "|"), F.lit("")).alias("house_rules"),
        "is_hotel",
        F.coalesce("listing_expectations", F.lit("")).alias("listing_expectations"),
        F.col("rating_accuracy").cast("double").alias("rating_accuracy"),
        F.col("rating_checkin").cast("double").alias("rating_checkin"),
        F.col("rating_cleanliness").cast("double").alias("rating_cleanliness"),
        F.col("rating_communication").cast("double").alias("rating_communication"),
        F.col("rating_location").cast("double").alias("rating_location"),
        F.col("rating_value").cast("double").alias("rating_value"),
        F.col("satisfaction_guest").cast("double").alias("satisfaction_guest"),
        "listing_url",
    )


def q_listings_extract(spark, sf_dir):
    """P4/P5-P8/F8/S2: search-page JSON → per-listing projection incl. the
    reference's price-parse quirks (lstrip-$, '$N total' regex, price-key
    dispatch) and the monthly-price heuristic filter."""
    from frontier_engine import parse as P
    from frontier_engine.config import EngineConfig

    pages = _fixture_pages(spark)
    res, _ = P.parse_search(
        pages.where(P.page_type_col() == "search"), P.CrawlArgs(*_PARSE_ARGS), EngineConfig()
    )
    return res.select(
        "page_url",
        "listing_id",
        "name",
        "city",
        F.col("person_capacity").cast("int").alias("person_capacity"),
        F.col("photo_count").cast("int").alias("photo_count"),
        F.col("review_count").cast("int").alias("review_count"),
        "room_type",
        F.col("star_rating").cast("double").alias("star_rating"),
        F.coalesce(F.col("price_rate").cast("int"), F.lit(-1)).alias("price_rate"),
        "price_rate_type",
        F.coalesce(F.col("total_price").cast("int"), F.lit(-1)).alias("total_price"),
        F.coalesce(F.col("monthly_price_factor").cast("double"), F.lit(-1.0)).alias("monthly_price_factor"),
        F.coalesce(F.col("weekly_price_factor").cast("double"), F.lit(-1.0)).alias("weekly_price_factor"),
    )


def q_export_grid(spark, sf_dir):
    """S6 export grid (sinks.export_frame — reference
    deepbnb/exporter.py:31-70 + settings.py.dist:99-133): the 33-column
    string cell grid over the search-extracted listings. Exercises the
    HYPERLINK name formula (name-or-id label), ','-joined array cells
    (photos), ''-defaults for never-set export fields (amenities,
    review_score, notes, response_rate, ...), null→'' coalescing, and
    the fixed FEED column order. Same grid feeds write_csv and the
    stdlib-OOXML write_xlsx, so this row oracle-checks both sinks'
    cell semantics."""
    from frontier_engine import parse as P
    from frontier_engine.config import EngineConfig
    from frontier_engine.sinks import export_frame

    pages = _fixture_pages(spark)
    res, _ = P.parse_search(
        pages.where(P.page_type_col() == "search"), P.CrawlArgs(*_PARSE_ARGS), EngineConfig()
    )
    listings = res.select(
        F.col("listing_id").alias("id"),
        "name",
        F.concat(F.lit("https://www.airbnb.com/rooms/"), F.col("listing_id")).alias("url"),
        "price_rate", "price_rate_type", "total_price",
        "room_and_property_type", "latitude", "longitude",
        "monthly_price_factor", "weekly_price_factor", "room_type",
        "person_capacity", "review_count", "star_rating",
        "neighborhood_overview", "photos",
    )
    return export_frame(listings)


def q_reviews_assembled(spark, sf_dir):
    """S4/O4/J3/A1/A2: offset-paginated review pages → per-listing
    accumulation (page count, collected rows, total, max offset, rating
    sum) — the reviews-join half of listing assembly."""
    from frontier_engine import parse as P
    from frontier_engine.config import EngineConfig

    pages = _fixture_pages(spark)
    rows, _ = P.parse_reviews(pages.where(P.page_type_col() == "reviews"), EngineConfig())
    rated = rows.withColumn(
        "rating_sum",
        F.aggregate("reviews", F.lit(0).cast("long"), lambda a, v: a + v["rating"]),
    )
    return rated.groupBy("listing_id").agg(
        F.count("*").cast("long").alias("n_pages"),
        F.sum(F.size("reviews")).cast("long").alias("n_reviews"),
        F.max("reviews_total").cast("int").alias("reviews_total"),
        F.max("offset").cast("int").alias("max_offset"),
        F.sum("rating_sum").cast("long").alias("rating_sum"),
    )


def q_pipeline_filters(spark, sf_dir):
    """D2 + F1/F2/F5/F6/F7: the item pipeline over extracted listings —
    skip-list, property-type blacklist, min-photos, CANNOT_HAVE/MUST_HAVE
    with the reference's bytes-repr regex quirk (matched against
    str(field.encode('ASCII','replace')), reproduced by the oracle)."""
    from frontier_engine import parse as P
    from frontier_engine.config import EngineConfig
    from frontier_engine.pipeline import apply_pipeline

    cfg = EngineConfig(
        skip_list=("10000003", "10000017"),
        cannot_have="caf",
        must_have="neighborhood",
        minimum_photos=2,
    )
    pages = _fixture_pages(spark)
    res, _ = P.parse_search(
        pages.where(P.page_type_col() == "search"), P.CrawlArgs(*_PARSE_ARGS), cfg
    )
    listings = res.select(
        F.col("listing_id").alias("id"),
        F.col("page_url").alias("url"),
        "room_and_property_type",
        F.col("photo_count").cast("int").alias("photo_count"),
        "name",
        F.col("neighborhood_overview").alias("description"),
    )
    out = apply_pipeline(listings, cfg)
    return out.select(
        F.col("id").alias("listing_id"), "room_and_property_type", "photo_count"
    )


# ===========================================================================
# ST2 stateful streaming twins (applyInPandasWithState), driven to
# completion with availableNow so the driver can oracle their output
# ===========================================================================

def _write_slice(df, src_dir: str, name: str) -> None:
    """One time-slice = one file, moved into the stream dir AFTER the
    previous slice so arrival order (mtime) is deterministic."""
    import glob
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="slice-")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    shutil.move(part, os.path.join(src_dir, name))
    shutil.rmtree(tmp, ignore_errors=True)


def _state_dir(prefix: str) -> str:
    """A stream query's state root (input slices, checkpoint, output). The
    returned frame still reads its output, so the root is removed at
    interpreter exit rather than when the query returns."""
    import atexit
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def q_stream_sessionize(spark, sf_dir):
    """ST2: gap-sessionization as a CUSTOM STATEFUL streaming operator
    (applyInPandasWithState + event-time timeout), fed as four
    time-ordered micro-batches plus an end-of-stream sentinel; the
    per-user aggregate must equal the batch lag+cumsum twin
    (events_sessionize — same oracle SQL)."""
    import datetime

    from frontier_engine.streaming import run_stream_to_parquet, sessionize_stateful

    e = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.col("ts").cast("timestamp").alias("ts"),
    )
    mn, mx = e.agg(F.min("ts"), F.max("ts")).first()
    root = _state_dir("stream-sess-")
    src = os.path.join(root, "in")
    os.makedirs(src)
    span = (mx - mn).total_seconds() or 1.0
    cuts = [mn + datetime.timedelta(seconds=span * k / 4) for k in range(5)]
    cuts[-1] = mx + datetime.timedelta(seconds=1)
    for i in range(4):
        sl = e.where((F.col("ts") >= F.lit(cuts[i])) & (F.col("ts") < F.lit(cuts[i + 1])))
        _write_slice(sl, src, f"slice-{i}.parquet")
    sentinel = e.select("user_id").distinct().select(
        "user_id",
        F.lit(-1).cast("long").alias("event_id"),
        F.lit(mx + datetime.timedelta(hours=2)).alias("ts"),
    )
    _write_slice(sentinel, src, "slice-9-sentinel.parquet")

    stream = (
        spark.readStream.schema("user_id long, event_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sessions = sessionize_stateful(stream, gap_s=1800)
    run_stream_to_parquet(sessions, os.path.join(root, "out"), os.path.join(root, "ckpt"))
    out = spark.read.parquet(os.path.join(root, "out"))
    return out.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.max("duration_us").cast("long").alias("max_session_us"),
    )


def q_stream_dedup(spark, sf_dir):
    """ST2/D1: first-seen-wins URL dedup as a stateful streaming operator —
    two overlapping frontier batches arrive as separate micro-batches; the
    emitted set must be exactly the distinct union (SQL oracle)."""
    from frontier_engine.streaming import dedup_stateful, run_stream_to_parquet

    fr = _frontier(spark, sf_dir)
    root = _state_dir("stream-dedup-")
    src = os.path.join(root, "in")
    os.makedirs(src)
    a = fr.where(F.col("discovered_seq") % 2 == 0)
    b = fr.where(F.col("discovered_seq") % 3 == 0)
    for i, part in enumerate((a, b)):
        _write_slice(
            part.select("url", F.xxhash64("url").alias("url_hash")), src, f"batch-{i}.parquet"
        )
    stream = (
        spark.readStream.schema("url string, url_hash long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    deduped = dedup_stateful(stream)
    run_stream_to_parquet(deduped, os.path.join(root, "out"), os.path.join(root, "ckpt"))
    return spark.read.parquet(os.path.join(root, "out")).select("url")


def q_landing_extract(spark, sf_dir):
    """P2 (airbnb.py:129-147): landing HTML → data-deferred-state script
    extraction, niobeMinimalClientData[0][0] unwrap with the
    `^StaysSearch:` strip, and the /s/<query>/homes query derivation.
    The candidate URL synthesis on top of this is pinned by the URL
    round-trip pytest (every emitted URL resolves in the fixture world)."""
    from frontier_engine import parse as P
    from frontier_engine.config import EngineConfig

    pages = _fixture_pages(spark)
    out, _ = P.parse_landing(
        pages.where(P.page_type_col() == "landing"), P.CrawlArgs(*_PARSE_ARGS), EngineConfig()
    )
    return out.select(
        "parent_url", "host", "query",
        F.coalesce("deferred_ok", F.lit(False)).alias("deferred_ok"),
    )


def q_geo_enrich(spark, sf_dir):
    """J2 (ExploreSearch.py:91, PdpPlatformSections.py:130): per-PAGE
    geography struct enrichment — city falls back listing→geography,
    country/place_id/state come only from geography. The engine carries
    geography per search page (fixing the reference's single mutable
    dict, a last-write race on multi-host crawls); the oracle recomputes
    from the same JSON."""
    from frontier_engine import parse as P
    from frontier_engine.config import EngineConfig

    pages = _fixture_pages(spark)
    res, _ = P.parse_search(
        pages.where(P.page_type_col() == "search"), P.CrawlArgs(*_PARSE_ARGS), EngineConfig()
    )
    geo = F.col("geography")
    return res.select(
        "listing_id",
        F.coalesce(F.col("city"), geo["city"]).alias("city"),
        geo["city"].alias("geo_city"),
        geo["country"].alias("country"),
        geo["placeId"].alias("place_id"),
        F.coalesce(geo["state"], F.lit("")).alias("state"),
    )


def q_discount_filters(spark, sf_dir):
    """F3/F4 (pipelines.py:73-77): discount minimums incl. the reference's
    F4 BUG kept under strict_parity — the weekly check compares against
    the MONTHLY threshold. Discounts derive from the fixture's price
    factors (floor((1-factor)*100)); the oracle recomputes the same
    derivation and the same buggy comparison."""
    from frontier_engine import parse as P
    from frontier_engine.config import EngineConfig
    from frontier_engine.pipeline import apply_pipeline

    parse_cfg = EngineConfig()
    cfg = EngineConfig(
        minimum_monthly_discount=10, minimum_weekly_discount=3,
        minimum_photos=0, property_type_blacklist=(), strict_parity=True,
    )
    pages = _fixture_pages(spark)
    res, _ = P.parse_search(
        pages.where(P.page_type_col() == "search"), P.CrawlArgs(*_PARSE_ARGS), parse_cfg
    )
    listings = res.select(
        F.col("listing_id").alias("id"),
        F.col("page_url").alias("url"),
        F.floor((F.lit(1.0) - F.col("monthly_price_factor")) * 100).cast("int").alias("monthly_discount"),
        F.floor((F.lit(1.0) - F.col("weekly_price_factor")) * 100).cast("int").alias("weekly_discount"),
    ).where(F.col("monthly_discount").isNotNull() & F.col("weekly_discount").isNotNull())
    out = apply_pipeline(listings, cfg)
    return out.select(
        F.col("id").alias("listing_id"),
        F.col("monthly_discount").cast("int").alias("monthly_discount"),
        F.col("weekly_discount").cast("int").alias("weekly_discount"),
    )


def q_neighborhoods(spark, sf_dir):
    """P20 + A3 (airbnb.py:177-196, behind cfg): explore-tabs metadata →
    neighborhood rows; the <300-listings gate empties small hosts, the id
    is the FIRST neighborhood_ids param (break-on-match quirk)."""
    from frontier_engine import parse as P
    from frontier_engine.config import EngineConfig

    pages = spark.read.parquet(_FIXTURE_PAGES)
    meta = pages.where(F.col("url").contains("/api/v2/explore_tabs"))
    return P.extract_neighborhoods(meta, EngineConfig())


def q_room_type_filter(spark, sf_dir):
    """F9 (settings.py.dist:157): the optional room-type isin filter the
    reference's setting promises (param inert there, ExploreSearch.py:181
    — shipped here as a real filter over extracted listings)."""
    from frontier_engine import parse as P
    from frontier_engine.config import EngineConfig

    cfg = EngineConfig(room_types=("Entire home/apt", "Private room"))
    pages = _fixture_pages(spark)
    res, _ = P.parse_search(
        pages.where(P.page_type_col() == "search"), P.CrawlArgs(*_PARSE_ARGS), cfg
    )
    return res.groupBy("room_type").agg(F.count("*").cast("long").alias("n"))


# ===========================================================================
# driver contract
# ===========================================================================

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: one politeness-bounded scheduling round over a frontier
    derived from sf0.001 orders — dedupe (window), rank (salted priority
    window), budget cut. Returns the fetch batch."""
    return q_frontier_rank(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "frontier_rank": q_frontier_rank,
        "frontier_dedup": q_frontier_dedup,
        "robots_filter": q_robots_filter,
        "politeness_budget": q_politeness_budget,
        "fetch_join_missing": q_fetch_join_missing,
        "url_param_parse": q_url_param_parse,
        "price_parse": q_price_parse,
        "reviews_offsets": q_reviews_offsets,
        "date_expand": q_date_expand,
        "trap_filter": q_trap_filter,
        "pricing_summary": q_pricing_summary,
        "cache_join": q_cache_join,
        "topk_per_group": q_topk_per_group,
        "events_windows": q_events_windows,
        "adaptive_delay": q_adaptive_delay,
        "ttl_recrawl": q_ttl_recrawl,
        "dedup_exact": q_dedup_exact,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "duplicate_spans": q_duplicate_spans,
        # consolidated rows (r4): the driver's sweep caps at 50 query
        # rows, so same-table operator families share one oracle-checked
        # row each — text_metrics = lang_id + quality_score +
        # token_counts + doc_fingerprint; ann_topk = ann_brute_topk +
        # lsh_ann + ivf_ann; sessionize = events_sessionize (batch) +
        # stream_sessionize (stateful streaming). Every constituent
        # operator keeps its own columns/rows inside the merged frame.
        "text_metrics": q_text_metrics,
        "ann_topk": q_ann_topk,
        "sessionize": q_sessionize,
        "price_sweep": q_price_sweep,
        "region_rollup": q_region_rollup,
        "link_extract": q_link_extract,
        # parse/assemble/pipeline family over the committed fixture (r2)
        "page_text_extract": q_page_text_extract,
        "listings_extract": q_listings_extract,
        "pdp_extract": q_pdp_extract,
        "reviews_assembled": q_reviews_assembled,
        "pipeline_filters": q_pipeline_filters,
        "discount_filters": q_discount_filters,
        "geo_enrich": q_geo_enrich,
        "landing_extract": q_landing_extract,
        "neighborhoods": q_neighborhoods,
        "room_type_filter": q_room_type_filter,
        "export_grid": q_export_grid,
        # ST2 stateful streaming twins (r2)
        "stream_dedup": q_stream_dedup,
        "ivf_topk_join": q_ivf_topk_join,
        # hash/LSH ops with planted-dup / SQL-twin oracles (r2)
        "minhash_dedup": q_minhash_dedup,
        "minhash_dedup_join": q_minhash_dedup_join,
        "stratified_sample": q_stratified_sample,
        "simhash_pairs": q_simhash_pairs,
        "url_canonicalize": q_url_canonicalize,
        "seen_bloom": q_seen_bloom,
        "embedding_near_dup": q_embedding_near_dup,
        # consolidated (r4, second wave): semantic_dedup = corpus sweep +
        # ingest join (mode column); media_near_dup = image phash + audio
        # fingerprint (medium column) — frees the two sweep slots the new
        # cleaning/packing rows below occupy
        "semantic_dedup": q_semantic_dedup_family,
        "media_near_dup": q_media_near_dup,
        "centroid_topk": q_centroid_topk,
        # webtext cleaning + packing (r4)
        "pii_clean": q_pii_clean,
        "pack_sequences": q_pack_sequences,
    }


_LANG_MARKERS_SQL = {
    "en": [" the ", " and ", " of ", " to ", " is "],
    "es": [" el ", " la ", " de ", " que ", " los "],
    "fr": [" le ", " la ", " les ", " est ", " une "],
    "de": [" der ", " die ", " und ", " das ", " ist "],
}


def _marker_sum_sql(lang: str) -> str:
    parts = [
        f"(length(padded) - length(replace(padded, '{m}', ''))) / {len(m)}.0"
        for m in _LANG_MARKERS_SQL[lang]
    ]
    return "(" + " + ".join(parts) + ")"


# search-page item expansion over the committed fixture (shared CTE of the
# parse-family oracles): sections filtered by component type, items
# exploded by index — DuckDB JSON, fully independent of the Spark path
_ITEMS_CTE = f"""
    src AS (
      SELECT url, text, json_extract(text, '$.data.dora.exploreV3.sections') AS secs,
             json_extract(text, '$.data.dora.exploreV3.metadata.geography') AS geo
      FROM read_parquet('{_FIXTURE_PAGES}')
      WHERE url LIKE '%/api/v3/ExploreSearch%'
    ),
    sec AS (
      SELECT url, geo, json_extract(secs, '$[' || i || ']') AS sec
      FROM src, (SELECT unnest(range(0, 16)) AS i)
      WHERE i < json_array_length(secs)
        AND json_extract_string(secs, '$[' || i || '].sectionComponentType')
            = 'listings_ListingsGrid_Explore'
    ),
    item AS (
      SELECT url AS page_url, geo, json_extract(sec, '$.items[' || j || ']') AS it
      FROM sec, (SELECT unnest(range(0, 32)) AS j)
      WHERE j < json_array_length(sec, '$.items')
    ),
    fields AS (
      SELECT page_url, geo,
             json_extract_string(it, '$.listing.id') AS listing_id,
             json_extract_string(it, '$.listing.name') AS name,
             json_extract_string(it, '$.listing.city') AS city,
             CAST(json_extract_string(it, '$.listing.personCapacity') AS INT) AS person_capacity,
             CAST(json_extract_string(it, '$.listing.pictureCount') AS INT) AS photo_count,
             CAST(json_extract_string(it, '$.listing.reviewsCount') AS INT) AS review_count,
             json_extract_string(it, '$.listing.roomType') AS room_type,
             json_extract_string(it, '$.listing.roomAndPropertyType') AS room_and_property_type,
             json_extract_string(it, '$.listing.neighborhoodOverview') AS description,
             CAST(json_extract_string(it, '$.listing.starRating') AS DOUBLE) AS star_rating,
             CAST(json_extract_string(it, '$.pricingQuote.monthlyPriceFactor') AS DOUBLE) AS monthly_price_factor,
             CAST(json_extract_string(it, '$.pricingQuote.weeklyPriceFactor') AS DOUBLE) AS weekly_price_factor,
             json_extract_string(it, '$.pricingQuote.structuredStayDisplayPrice.primaryLine.qualifier') AS price_rate_type,
             COALESCE(json_extract_string(it, '$.pricingQuote.structuredStayDisplayPrice.primaryLine.price'),
                      json_extract_string(it, '$.pricingQuote.structuredStayDisplayPrice.primaryLine.discountedPrice')) AS amt,
             json_extract_string(it, '$.pricingQuote.structuredStayDisplayPrice.secondaryLine.price') AS sec_price,
             CAST(json_extract_string(it, '$.pricingQuote.rateWithServiceFee.amount') AS DOUBLE) AS rwsf
      FROM item
    ),
    kept AS (
      -- F8 monthly-price heuristic (price_max 9000 > 1000)
      SELECT * FROM fields
      WHERE price_rate_type IS NULL
         OR NOT (price_rate_type <> 'month' AND COALESCE(rwsf, 0) * 28 > 9000)
    )
"""

# str(field.encode('ASCII','replace')) — the reference's bytes-repr quirk,
# recomputed in SQL (fixture strings carry no quotes/backslashes, so the
# repr is exactly b'<ascii-replaced>')
_REPR = "lower('b''' || regexp_replace({col}, '[^\\x00-\\x7F]', '?', 'g') || '''')"


def oracle_sql() -> dict[str, str]:
    out = _oracle_sql_build()
    # Consolidated rows (r4, see queries()): compose the merged oracles
    # from the constituent operators' SQL so each keeps its exact twin.
    out["text_metrics"] = f"""
        WITH L AS ({out.pop("lang_id")}),
             Q AS ({out.pop("quality_score")}),
             T AS ({out.pop("token_counts")}),
             FP AS ({out.pop("doc_fingerprint")}),
             LM AS ({out.pop("lm_score")}),
             R AS ({out.pop("rep_metrics")})
        SELECT * FROM L
        JOIN Q USING (doc_id) JOIN T USING (doc_id) JOIN FP USING (doc_id)
        JOIN LM USING (doc_id) JOIN R USING (doc_id)
    """
    lsh = out.pop("lsh_ann")  # LSH and IVF must both equal brute force
    out["ann_topk"] = f"""
        SELECT 'brute' AS method, * FROM ({out.pop("ann_brute_topk")})
        UNION ALL SELECT 'lsh' AS method, * FROM ({lsh})
        UNION ALL SELECT 'ivf' AS method, * FROM ({lsh})
    """
    sess = out.pop("events_sessionize")  # stream face must equal batch
    out["sessionize"] = f"""
        SELECT 'batch' AS mode, * FROM ({sess})
        UNION ALL SELECT 'stream' AS mode, * FROM ({sess})
    """
    return out


def _oracle_sql_build() -> dict[str, str]:
    frontier = f"WITH frontier AS ({_FRONTIER_SQL})"
    return {
        "page_text_extract": f"""
            SELECT url, text FROM read_parquet('{_FIXTURE_PAGES}')
        """,
        "landing_extract": f"""
            WITH src AS (
              SELECT url AS parent_url,
                     regexp_extract(url, 'https?://([^/]+)/', 1) AS host,
                     regexp_extract(decode(html),
                                    '<script id="data-deferred-state">(.*?)</script>', 1) AS script
              FROM read_parquet('{_FIXTURE_PAGES}')
              -- page_type_col's 'landing' = the OTHERWISE branch: not one
              -- of the three v3 apis, not robots.txt (api/v2 explore_tabs
              -- classifies as landing too and must be included)
              WHERE url NOT LIKE '%/api/v3/ExploreSearch%'
                AND url NOT LIKE '%/api/v3/PdpPlatformSections%'
                AND url NOT LIKE '%/api/v3/PdpReviews%'
                AND url NOT LIKE '%/robots.txt'
            )
            SELECT parent_url, host,
                   regexp_replace(regexp_replace(
                       regexp_extract(parent_url, '/s/(.+)/homes', 1), '--', ', ', 'g'),
                       '-', ' ', 'g') AS query,
                   COALESCE(regexp_replace(
                       json_extract_string(NULLIF(script, ''), '$.niobeMinimalClientData[0][0]'),
                       '^StaysSearch:', '') LIKE '{{%', FALSE) AS deferred_ok
            FROM src
        """,
        "geo_enrich": f"""
            WITH {_ITEMS_CTE}
            SELECT listing_id,
                   COALESCE(city, json_extract_string(geo, '$.city')) AS city,
                   json_extract_string(geo, '$.city') AS geo_city,
                   json_extract_string(geo, '$.country') AS country,
                   json_extract_string(geo, '$.placeId') AS place_id,
                   COALESCE(json_extract_string(geo, '$.state'), '') AS state
            FROM kept
        """,
        "discount_filters": f"""
            WITH {_ITEMS_CTE},
            disc AS (
              SELECT listing_id AS id, page_url AS url,
                     CAST(FLOOR((1.0 - monthly_price_factor) * 100) AS INT) AS monthly_discount,
                     CAST(FLOOR((1.0 - weekly_price_factor) * 100) AS INT) AS weekly_discount
              FROM kept
              WHERE monthly_price_factor IS NOT NULL AND weekly_price_factor IS NOT NULL
            ),
            dedup AS (
              SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY id ORDER BY url) AS rn FROM disc
              ) WHERE rn = 1
            )
            SELECT id AS listing_id, monthly_discount, weekly_discount
            FROM dedup
            -- F4 reference bug under strict_parity: BOTH checks use the
            -- MONTHLY threshold (10), though weekly minimum is 3
            WHERE monthly_discount >= 10 AND weekly_discount >= 10
        """,
        "pdp_extract": f"""
            WITH src AS (
              SELECT url AS page_url,
                     json_extract(text, '$.data.merlin.pdpSections') AS pdp
              FROM read_parquet('{_FIXTURE_PAGES}')
              WHERE url LIKE '%/api/v3/PdpPlatformSections%'
            ),
            secs AS (
              SELECT page_url,
                     json_extract_string(pdp, '$.sections[' || i || '].sectionId') AS sid,
                     json_extract(pdp, '$.sections[' || i || '].section') AS s
              FROM src, (SELECT unnest(range(0, 16)) AS i)
              WHERE i < CAST(json_array_length(pdp, '$.sections') AS BIGINT)
            ),
            am_items AS (
              SELECT page_url, j, k,
                     json_extract_string(s, '$.seeAllAmenitiesGroups[' || j || '].title') AS gtitle,
                     json_extract_string(s, '$.seeAllAmenitiesGroups[' || j || '].amenities[' || k || '].id') AS aid,
                     json_extract_string(s, '$.seeAllAmenitiesGroups[' || j || '].amenities[' || k || '].title') AS atitle,
                     json_extract_string(s, '$.seeAllAmenitiesGroups[' || j || '].amenities[' || k || '].subtitle') AS asub,
                     CAST(json_extract_string(s, '$.seeAllAmenitiesGroups[' || j || '].amenities[' || k || '].available') AS BOOLEAN) AS avail
              FROM (SELECT page_url, s FROM secs WHERE sid = 'AMENITIES_DEFAULT'),
                   (SELECT unnest(range(0, 8)) AS j), (SELECT unnest(range(0, 32)) AS k)
              WHERE j < CAST(json_array_length(s, '$.seeAllAmenitiesGroups') AS BIGINT)
                AND k < CAST(json_array_length(s, '$.seeAllAmenitiesGroups[' || j || '].amenities') AS BIGINT)
            ),
            amen AS (
              -- group over ALL item rows with FILTER so a page whose
              -- amenities are all unavailable yields '' (== Spark's
              -- array_join of an empty array), not a dropped group
              SELECT page_url,
                     COALESCE(string_agg(CASE WHEN asub IS NOT NULL AND asub <> ''
                                     THEN atitle || ' - ' || asub ELSE atitle END, '|' ORDER BY j, k)
                              FILTER (WHERE avail), '') AS amenities,
                     COALESCE(string_agg(regexp_extract(aid, '^(?:[a-z0-9]+_)+([0-9]+)_', 1), '|' ORDER BY j, k)
                              FILTER (WHERE avail), '') AS amenity_ids
              FROM am_items GROUP BY page_url
            ),
            ga AS (
              SELECT page_url, k, atitle, asub,
                     j, MIN(j) OVER (PARTITION BY page_url) AS mj
              FROM am_items WHERE gtitle = 'Guest access'
            ),
            access AS (
              SELECT page_url,
                     string_agg(CASE WHEN asub IS NOT NULL AND asub <> ''
                                     THEN atitle || ': ' || asub ELSE atitle END, chr(10) ORDER BY k) AS access
              FROM ga WHERE j = mj GROUP BY page_url
            ),
            rules AS (
              SELECT page_url,
                     string_agg(json_extract_string(s, '$.houseRules[' || i || '].title'), '|' ORDER BY i) AS house_rules,
                     MAX(CASE WHEN json_extract_string(s, '$.houseRules[' || i || '].title')
                              = 'No parties or events' THEN 1 ELSE 0 END) = 1 AS allows_events
              FROM (SELECT page_url, s FROM secs WHERE sid = 'POLICIES_DEFAULT'),
                   (SELECT unnest(range(0, 16)) AS i)
              WHERE i < CAST(json_array_length(s, '$.houseRules') AS BIGINT)
              GROUP BY page_url
            ),
            expect AS (
              SELECT page_url,
                     string_agg(CASE WHEN json_extract_string(s, '$.listingExpectations[' || i || '].subtitle') IS NOT NULL
                                      AND json_extract_string(s, '$.listingExpectations[' || i || '].subtitle') <> ''
                                     THEN json_extract_string(s, '$.listingExpectations[' || i || '].title') || ': '
                                          || json_extract_string(s, '$.listingExpectations[' || i || '].subtitle')
                                     ELSE json_extract_string(s, '$.listingExpectations[' || i || '].title') END,
                                chr(10) ORDER BY i) AS listing_expectations
              FROM (SELECT page_url, s FROM secs WHERE sid = 'POLICIES_DEFAULT'),
                   (SELECT unnest(range(0, 16)) AS i)
              WHERE i < CAST(json_array_length(s, '$.listingExpectations') AS BIGINT)
              GROUP BY page_url
            ),
            pol AS (
              SELECT page_url,
                     json_extract_string(s, '$.additionalHouseRules') AS additional_house_rules
              FROM secs WHERE sid = 'POLICIES_DEFAULT'
            )
            SELECT src.page_url,
                   json_extract_string(pdp, '$.id') AS listing_id,
                   COALESCE(access.access, '') AS access,
                   COALESCE(pol.additional_house_rules, '') AS additional_house_rules,
                   COALESCE(rules.allows_events, FALSE) AS allows_events,
                   COALESCE(amen.amenities, '') AS amenities,
                   COALESCE(amen.amenity_ids, '') AS amenity_ids,
                   COALESCE(rules.house_rules, '') AS house_rules,
                   CAST(json_extract_string(pdp, '$.metadata.bookingPrefetchData.isHotelRatePlanEnabled') AS BOOLEAN) AS is_hotel,
                   COALESCE(expect.listing_expectations, '') AS listing_expectations,
                   CAST(json_extract_string(pdp, '$.metadata.loggingContext.eventDataLogging.accuracyRating') AS DOUBLE) AS rating_accuracy,
                   CAST(json_extract_string(pdp, '$.metadata.loggingContext.eventDataLogging.checkinRating') AS DOUBLE) AS rating_checkin,
                   CAST(json_extract_string(pdp, '$.metadata.loggingContext.eventDataLogging.cleanlinessRating') AS DOUBLE) AS rating_cleanliness,
                   CAST(json_extract_string(pdp, '$.metadata.loggingContext.eventDataLogging.communicationRating') AS DOUBLE) AS rating_communication,
                   CAST(json_extract_string(pdp, '$.metadata.loggingContext.eventDataLogging.locationRating') AS DOUBLE) AS rating_location,
                   CAST(json_extract_string(pdp, '$.metadata.loggingContext.eventDataLogging.valueRating') AS DOUBLE) AS rating_value,
                   CAST(json_extract_string(pdp, '$.metadata.loggingContext.eventDataLogging.guestSatisfactionOverall') AS DOUBLE) AS satisfaction_guest,
                   'https://www.airbnb.com/rooms/' || json_extract_string(pdp, '$.id') AS listing_url
            FROM src
            LEFT JOIN amen USING (page_url)
            LEFT JOIN access USING (page_url)
            LEFT JOIN rules USING (page_url)
            LEFT JOIN expect USING (page_url)
            LEFT JOIN pol USING (page_url)
        """,
        "listings_extract": f"""
            WITH {_ITEMS_CTE}
            SELECT page_url, listing_id, name, city, person_capacity, photo_count,
                   review_count, room_type, star_rating,
                   COALESCE(CASE WHEN price_rate_type IS NOT NULL
                        THEN CAST(replace(regexp_replace(amt, '^\\$+', ''), ',', '') AS INT) END, -1) AS price_rate,
                   price_rate_type,
                   COALESCE(CASE WHEN price_rate_type IS NOT NULL THEN
                     TRY_CAST(NULLIF(replace(
                       CASE WHEN sec_price IS NOT NULL
                            THEN regexp_extract(sec_price, '^\\$([0-9a-zA-Z_,]+) total', 1)
                            ELSE regexp_extract(amt, '^\\$([0-9a-zA-Z_,]+)', 1) END,
                       ',', ''), '') AS INT) END, -1) AS total_price,
                   COALESCE(monthly_price_factor, -1.0) AS monthly_price_factor,
                   COALESCE(weekly_price_factor, -1.0) AS weekly_price_factor
            FROM kept
        """,
        "export_grid": f"""
            WITH src AS (
              SELECT url, json_extract(text, '$.data.dora.exploreV3.sections') AS secs
              FROM read_parquet('{_FIXTURE_PAGES}')
              WHERE url LIKE '%/api/v3/ExploreSearch%'
            ),
            sec AS (
              SELECT url, json_extract(secs, '$[' || i || ']') AS sec
              FROM src, (SELECT unnest(range(0, 16)) AS i)
              WHERE i < json_array_length(secs)
                AND json_extract_string(secs, '$[' || i || '].sectionComponentType')
                    = 'listings_ListingsGrid_Explore'
            ),
            item AS (
              SELECT json_extract(sec, '$.items[' || j || ']') AS it
              FROM sec, (SELECT unnest(range(0, 32)) AS j)
              WHERE j < json_array_length(sec, '$.items')
            ),
            f AS (
              SELECT json_extract_string(it, '$.listing.id') AS id,
                     json_extract_string(it, '$.listing.name') AS lname,
                     CAST(json_extract_string(it, '$.listing.lat') AS DOUBLE) AS latitude,
                     CAST(json_extract_string(it, '$.listing.lng') AS DOUBLE) AS longitude,
                     json_extract_string(it, '$.listing.roomAndPropertyType') AS room_and_property_type,
                     json_extract_string(it, '$.listing.roomType') AS room_type,
                     CAST(json_extract_string(it, '$.listing.personCapacity') AS INT) AS person_capacity,
                     CAST(json_extract_string(it, '$.listing.reviewsCount') AS INT) AS review_count,
                     CAST(json_extract_string(it, '$.listing.starRating') AS DOUBLE) AS star_rating,
                     json_extract_string(it, '$.listing.neighborhoodOverview') AS neighborhood_overview,
                     CASE WHEN json_array_length(it, '$.listing.contextualPictures') IS NULL THEN NULL
                          ELSE array_to_string(
                            [json_extract_string(it, '$.listing.contextualPictures[' || k || '].picture')
                             FOR k IN range(0, CAST(json_array_length(it, '$.listing.contextualPictures') AS BIGINT))],
                            ',') END AS photos,
                     CAST(json_extract_string(it, '$.pricingQuote.monthlyPriceFactor') AS DOUBLE) AS monthly_price_factor,
                     CAST(json_extract_string(it, '$.pricingQuote.weeklyPriceFactor') AS DOUBLE) AS weekly_price_factor,
                     json_extract_string(it, '$.pricingQuote.structuredStayDisplayPrice.primaryLine.qualifier') AS price_rate_type,
                     COALESCE(json_extract_string(it, '$.pricingQuote.structuredStayDisplayPrice.primaryLine.price'),
                              json_extract_string(it, '$.pricingQuote.structuredStayDisplayPrice.primaryLine.discountedPrice')) AS amt,
                     json_extract_string(it, '$.pricingQuote.structuredStayDisplayPrice.secondaryLine.price') AS sec_price,
                     CAST(json_extract_string(it, '$.pricingQuote.rateWithServiceFee.amount') AS DOUBLE) AS rwsf
              FROM item
            ),
            kept AS (
              SELECT * FROM f
              WHERE price_rate_type IS NULL
                 OR NOT (price_rate_type <> 'month' AND COALESCE(rwsf, 0) * 28 > 9000)
            )
            SELECT
              '=HYPERLINK("https://www.airbnb.com/rooms/' || id || '", "' || COALESCE(lname, id) || '")' AS name,
              'https://www.airbnb.com/rooms/' || id AS url,
              COALESCE(CAST(CASE WHEN price_rate_type IS NOT NULL
                  THEN CAST(replace(regexp_replace(amt, '^\\$+', ''), ',', '') AS INT) END AS VARCHAR), '') AS price_rate,
              COALESCE(price_rate_type, '') AS price_rate_type,
              COALESCE(CAST(CASE WHEN price_rate_type IS NOT NULL THEN
                  TRY_CAST(NULLIF(replace(
                    CASE WHEN sec_price IS NOT NULL
                         THEN regexp_extract(sec_price, '^\\$([0-9a-zA-Z_,]+) total', 1)
                         ELSE regexp_extract(amt, '^\\$([0-9a-zA-Z_,]+)', 1) END,
                    ',', ''), '') AS INT) END AS VARCHAR), '') AS total_price,
              COALESCE(room_and_property_type, '') AS room_and_property_type,
              COALESCE(CAST(latitude AS VARCHAR), '') AS latitude,
              COALESCE(CAST(longitude AS VARCHAR), '') AS longitude,
              COALESCE(CAST(monthly_price_factor AS VARCHAR), '') AS monthly_price_factor,
              COALESCE(CAST(weekly_price_factor AS VARCHAR), '') AS weekly_price_factor,
              COALESCE(room_type, '') AS room_type,
              COALESCE(CAST(person_capacity AS VARCHAR), '') AS person_capacity,
              '' AS amenities,
              COALESCE(CAST(review_count AS VARCHAR), '') AS review_count,
              '' AS review_score, '' AS rating_accuracy, '' AS rating_checkin,
              '' AS rating_cleanliness, '' AS rating_communication, '' AS rating_location,
              '' AS rating_value,
              COALESCE(CAST(star_rating AS VARCHAR), '') AS star_rating,
              '' AS satisfaction_guest, '' AS description,
              COALESCE(neighborhood_overview, '') AS neighborhood_overview,
              '' AS notes, '' AS additional_house_rules, '' AS interaction, '' AS access,
              '' AS transit, '' AS response_rate, '' AS response_time,
              COALESCE(photos, '') AS photos
            FROM kept
        """,
        "neighborhoods": f"""
            WITH m AS (
              SELECT url AS page_url, text,
                     CAST(json_extract_string(text, '$.explore_tabs[0].home_tab_metadata.listings_count') AS BIGINT) AS cnt,
                     json_extract(text, '$.explore_tabs[0].home_tab_metadata.filters.sections') AS secs
              FROM read_parquet('{_FIXTURE_PAGES}')
              WHERE url LIKE '%/api/v2/explore_tabs%'
            ),
            sec AS (
              SELECT page_url, json_extract(secs, '$[' || i || ']') AS sec
              FROM m, (SELECT unnest(range(0, 8)) AS i)
              WHERE cnt >= 300 AND i < json_array_length(secs)
                AND json_extract_string(secs, '$[' || i || '].filter_section_id') = 'neighborhoods'
            ),
            item AS (
              SELECT page_url, json_extract(sec, '$.items[' || j || ']') AS it
              FROM sec, (SELECT unnest(range(0, 16)) AS j)
              WHERE j < json_array_length(sec, '$.items')
            )
            SELECT page_url,
                   json_extract_string(it, '$.title') AS neighborhood,
                   [json_extract_string(it, '$.params[' || k || '].value')
                    FOR k IN range(0, CAST(json_array_length(it, '$.params') AS BIGINT))
                    IF json_extract_string(it, '$.params[' || k || '].key') = 'neighborhood_ids'][1]
                   AS neighborhood_id
            FROM item
        """,
        "room_type_filter": f"""
            WITH {_ITEMS_CTE}
            SELECT room_type, CAST(COUNT(*) AS BIGINT) AS n
            FROM kept
            WHERE room_type IN ('Entire home/apt', 'Private room')
            GROUP BY room_type
        """,
        "reviews_assembled": f"""
            WITH r AS (
              SELECT regexp_extract(url, 'listingId%22%3A%22([0-9]+)%22', 1) AS listing_id,
                     COALESCE(TRY_CAST(regexp_extract(url, 'offset%22%3A([0-9]+)', 1) AS INT), 0) AS off,
                     CAST(json_extract_string(text, '$.data.merlin.pdpReviews.metadata.reviewsCount') AS INT) AS total,
                     json_array_length(text, '$.data.merlin.pdpReviews.reviews') AS n,
                     COALESCE(list_aggregate(
                       [CAST(json_extract_string(text, '$.data.merlin.pdpReviews.reviews[' || k || '].rating') AS BIGINT)
                        FOR k IN range(0, CAST(json_array_length(text, '$.data.merlin.pdpReviews.reviews') AS BIGINT))],
                       'sum'), 0) AS rsum
              FROM read_parquet('{_FIXTURE_PAGES}')
              WHERE url LIKE '%/api/v3/PdpReviews%'
            )
            SELECT listing_id,
                   CAST(COUNT(*) AS BIGINT) AS n_pages,
                   CAST(SUM(n) AS BIGINT) AS n_reviews,
                   CAST(MAX(total) AS INT) AS reviews_total,
                   CAST(MAX(off) AS INT) AS max_offset,
                   CAST(SUM(rsum) AS BIGINT) AS rating_sum
            FROM r GROUP BY listing_id
        """,
        "pipeline_filters": f"""
            WITH {_ITEMS_CTE}
            SELECT listing_id, room_and_property_type, photo_count
            FROM kept
            WHERE listing_id NOT IN ('10000003', '10000017')
              AND NOT COALESCE(room_and_property_type IN ('Camper/RV', 'Campsite', 'Entire guest suite'), FALSE)
              AND photo_count >= 2
              AND NOT (COALESCE(regexp_matches({_REPR.format(col='name')}, 'caf'), FALSE)
                       OR COALESCE(regexp_matches({_REPR.format(col='description')}, 'caf'), FALSE))
              AND (COALESCE(regexp_matches({_REPR.format(col='name')}, 'neighborhood'), FALSE)
                   OR COALESCE(regexp_matches({_REPR.format(col='description')}, 'neighborhood'), FALSE))
        """,
        "frontier_rank": f"""
            {frontier}
            SELECT host, url, priority, CAST(rank AS INT) AS rank FROM (
              SELECT host, url, priority,
                     row_number() OVER (PARTITION BY host ORDER BY priority DESC, discovered_seq DESC) AS rank
              FROM frontier
            ) WHERE rank <= 10
        """,
        "frontier_dedup": f"""
            {frontier}
            SELECT 'first_discovery' AS op, url AS k, CAST(first_part AS BIGINT) AS v FROM (
              SELECT 'https://x.example/page/' || CAST(l_orderkey AS VARCHAR) AS url,
                     l_partkey AS first_part,
                     row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS rn
              FROM lineitem
            ) WHERE rn = 1
            UNION ALL
            SELECT 'union_distinct' AS op, host AS k, CAST(COUNT(*) AS BIGINT) AS v FROM (
              SELECT DISTINCT host, url FROM (
                SELECT host, url FROM frontier WHERE discovered_seq % 2 = 0
                UNION ALL
                SELECT host, url FROM frontier WHERE discovered_seq % 3 = 0
              )
            ) GROUP BY host
        """,
        "robots_filter": f"""
            {frontier},
            fr AS (
              SELECT host,
                     CASE WHEN discovered_seq % 3 = 0 THEN '/api/v3/PdpReviews/' || CAST(discovered_seq AS VARCHAR)
                          WHEN discovered_seq % 3 = 1 THEN '/api/v3/Pdp/' || CAST(discovered_seq AS VARCHAR)
                          ELSE '/search/' || CAST(discovered_seq AS VARCHAR) END AS path
              FROM frontier
            )
            SELECT host, CAST(COUNT(*) AS BIGINT) AS allowed_cnt
            FROM fr
            WHERE NOT (
              -- Disallow /api/v3/Pdp (11) loses to Allow /api/v3/Pdp/ (12)
              -- on Pdp/ paths, wins alone on PdpReviews (restricted hosts)
              ((substring(host, 9, 1) = '0' OR substring(host, 9, 2) IN ('1.', '2.'))
               AND path LIKE '/api/v3/PdpReviews/%')
              -- Disallow /search/*0$ (len 12) beats the len-9 tie pair
              OR (path LIKE '/search/%' AND path LIKE '%0')
              -- Disallow /search/2 has no Allow twin; the /search/1
              -- equal-length Allow/Disallow tie resolves to Allow
              OR path LIKE '/search/2%'
            )
            GROUP BY host
        """,
        "politeness_budget": f"""
            {frontier},
            hosts AS (SELECT host, CAST(COUNT(*) AS BIGINT) AS n_urls FROM frontier GROUP BY host)
            SELECT host, n_urls,
                   CAST(GREATEST(1, LEAST(FLOOR(100.0 / (CASE WHEN n_urls % 3 = 0 THEN 5.0
                                                              WHEN n_urls % 3 = 1 THEN 10.0
                                                              ELSE 20.0 END)), 10)) AS BIGINT) AS host_budget
            FROM hosts
        """,
        "fetch_join_missing": f"""
            {frontier},
            pages AS (SELECT url, 'body' AS text FROM frontier WHERE discovered_seq % 97 <> 0)
            SELECT f.host, CAST(COUNT(*) AS BIGINT) AS scheduled,
                   CAST(SUM(CASE WHEN p.text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS missing
            FROM frontier f LEFT JOIN pages p ON f.url = p.url
            GROUP BY f.host
        """,
        "url_param_parse": f"""
            {frontier},
            urls AS (
              SELECT DISTINCT 'https://' || host || '/api?itemsOffset='
                     || CAST(discovered_seq % 200 AS VARCHAR) || '&q=x' AS url
              FROM frontier
            )
            SELECT url, CAST(regexp_extract(url, 'itemsOffset=([0-9]+)', 1) AS INT) AS items_offset
            FROM urls
        """,
        "price_parse": """
            SELECT l_orderkey, l_linenumber,
                   CAST(regexp_replace(regexp_replace('$' || CAST(CAST(FLOOR(l_extendedprice) AS BIGINT) AS VARCHAR), '^\\$+', ''), ',', '', 'g') AS BIGINT) AS price_rate,
                   CAST(regexp_extract('$' || CAST(CAST(FLOOR(l_extendedprice) AS BIGINT) AS VARCHAR) || ' total', '^\\$([0-9a-zA-Z_,]+) total', 1) AS BIGINT) AS total_price
            FROM lineitem WHERE l_orderkey % 3 = 0
        """,
        "reviews_offsets": """
            SELECT o_orderkey, CAST(unnest(generate_series(50, reviews_total - 1, 50)) AS INT) AS offset
            FROM (SELECT o_orderkey, CAST(o_orderkey % 307 AS INT) AS reviews_total FROM orders)
            WHERE reviews_total > 50
        """,
        "date_expand": """
            SELECT strftime(ci, '%Y-%m-%d') AS checkin, strftime(co, '%Y-%m-%d') AS checkout
            FROM (SELECT unnest(generate_series(DATE '2026-09-09', DATE '2026-09-12', INTERVAL 1 DAY)) AS ci),
                 (SELECT unnest(generate_series(DATE '2026-10-03', DATE '2026-10-07', INTERVAL 1 DAY)) AS co)
        """,
        "trap_filter": f"""
            {frontier},
            cand AS (
              SELECT host, url, discovered_seq FROM frontier
              UNION ALL
              SELECT host,
                     'https://' || host || '/cal?y=' || CAST(discovered_seq % 5 + 2020 AS VARCHAR)
                       || '&m=' || CAST(discovered_seq % 12 AS VARCHAR)
                       || '&s=' || CAST(discovered_seq AS VARCHAR) AS url,
                     discovered_seq
              FROM frontier
            ),
            shaped AS (
              SELECT host, url, discovered_seq,
                     regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                       url, '^[a-z][a-z0-9+.\\-]*://[^/?#]*', ''),
                       '[0-9a-fA-F]{{8,}}', 'H', 'g'),
                       '[0-9]+', 'D', 'g'),
                       '=[^&#]*', '=V', 'g') AS template
              FROM cand
            ),
            ranked AS (
              SELECT *, row_number() OVER (
                PARTITION BY host, template ORDER BY discovered_seq, url) AS rn
              FROM shaped
            )
            SELECT host, template,
                   CAST(COUNT(*) AS BIGINT) AS n_urls,
                   CAST(LEAST(COUNT(*), 25) AS BIGINT) AS n_admitted,
                   CAST(GREATEST(COUNT(*) - 25, 0) AS BIGINT) AS n_blocked,
                   CAST(SUM(CASE WHEN rn <= 25 THEN discovered_seq END) AS BIGINT) AS sum_seq_admitted,
                   CAST(MAX(CASE WHEN rn <= 25 THEN discovered_seq END) AS BIGINT) AS max_seq_admitted
            FROM ranked GROUP BY host, template
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 2) AS sum_qty,
                   ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   CAST(COUNT(*) AS BIGINT) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "cache_join": """
            SELECT n_name, CAST(COUNT(*) AS BIGINT) AS order_cnt, ROUND(SUM(o_totalprice), 2) AS revenue
            FROM orders JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "topk_per_group": """
            SELECT o_orderpriority, o_orderkey, ROUND(o_totalprice, 2) AS total, CAST(rank AS INT) AS rank FROM (
              SELECT o_orderpriority, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rank
              FROM orders
            ) WHERE rank <= 3
        """,
        "events_windows": """
            SELECT 'tumbling' AS op,
                   strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS k1,
                   event_type AS k2,
                   CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 4) AS val
            FROM events GROUP BY 2, 3
            UNION ALL
            SELECT 'moving_avg' AS op,
                   CAST(user_id AS VARCHAR) AS k1,
                   CAST(event_id AS VARCHAR) AS k2,
                   CAST(COUNT(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT) AS n,
                   ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS val
            FROM events
        """,
        "stream_dedup": f"""
            {frontier}
            SELECT DISTINCT url FROM (
              SELECT url FROM frontier WHERE discovered_seq % 2 = 0
              UNION ALL
              SELECT url FROM frontier WHERE discovered_seq % 3 = 0
            )
        """,
        "events_sessionize": """
            WITH marked AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
                          THEN 1 ELSE 0 END AS new_session
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sess AS (
              SELECT user_id, ts,
                     SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_no
              FROM marked
            ), per_session AS (
              SELECT user_id, session_no,
                     CAST(COUNT(*) AS BIGINT) AS n_events,
                     CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT) AS duration_us
              FROM sess GROUP BY user_id, session_no
            )
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_sessions,
                   CAST(SUM(n_events) AS BIGINT) AS n_events,
                   CAST(MAX(duration_us) AS BIGINT) AS max_session_us
            FROM per_session GROUP BY user_id
        """,
        "adaptive_delay": """
            SELECT CAST(user_id % 20 AS BIGINT) AS host_id,
                   ROUND(AVG(value), 4) AS avg_latency,
                   ROUND(LEAST(60.0, GREATEST(5.0, AVG(value) * 2)), 4) AS next_delay_s
            FROM events GROUP BY 1
        """,
        "ttl_recrawl": """
            WITH log AS (
              SELECT CAST(event_id % 5000 AS BIGINT) AS url_hash,
                     'h' || CAST((event_id % 5000) % 20 AS VARCHAR) || '.example' AS host,
                     MAX(epoch_us(ts)) AS last_fetch_us
              FROM events GROUP BY 1, 2
            ),
            ttl AS (
              SELECT 'h' || CAST(h AS VARCHAR) || '.example' AS host,
                     CAST(h + 1 AS BIGINT) * 600 * 1000000 AS ttl_us
              FROM (SELECT unnest(range(0, 20, 2)) AS h)
            ),
            now AS (SELECT MAX(epoch_us(ts)) AS now_us FROM events)
            SELECT l.url_hash, l.host, l.last_fetch_us,
                   CAST(COALESCE(t.ttl_us, CAST(5400 AS BIGINT) * 1000000) AS BIGINT) AS ttl_us
            FROM log l LEFT JOIN ttl t USING (host), now
            WHERE l.last_fetch_us + COALESCE(t.ttl_us, CAST(5400 AS BIGINT) * 1000000) < now.now_us
        """,
        "dedup_exact": f"""
            SELECT MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS dup_count
            FROM (SELECT doc_id, {_NORM_SQL} AS n FROM documents)
            GROUP BY n
        """,
        "duplicate_spans": f"""
            WITH norm AS (
              SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents
            ),
            sh AS (
              SELECT DISTINCT doc_id, array_to_string(w[i:i+5], ' ') AS g
              FROM norm, (SELECT unnest(range(1, 4096)) AS i)
              WHERE i + 5 <= length(w)
            ),
            cnt AS (SELECT g, COUNT(*) AS nd FROM sh GROUP BY g),
            spans AS (
              SELECT sh.doc_id,
                     CAST(COUNT(*) AS BIGINT) AS n_spans,
                     CAST(SUM(CASE WHEN cnt.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
                     ROUND(SUM(CASE WHEN cnt.nd >= 2 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS dup_ratio
              FROM sh JOIN cnt USING (g)
              GROUP BY sh.doc_id
            ),
            dg AS (
              SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS g
              FROM norm, (SELECT unnest(range(1, 4096)) AS i)
              WHERE i + 7 <= length(w)
            ),
            bmk AS (SELECT DISTINCT g FROM dg WHERE doc_id % 97 = 0),
            hits AS (SELECT doc_id, COUNT(*) AS ch FROM dg JOIN bmk USING (g) GROUP BY 1)
            SELECT spans.*,
                   CAST(COALESCE(ch, 0) AS BIGINT) AS contaminated_ngrams,
                   COALESCE(ch, 0) > 0 AS contaminated
            FROM spans LEFT JOIN hits USING (doc_id)
        """,
        "ngram_jaccard_pairs": f"""
            WITH norm AS (
              SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents WHERE doc_id < 200
            ),
            grams AS (
              SELECT doc_id,
                     CASE WHEN length(w) >= 3 THEN
                       list_distinct([array_to_string(w[i:i+2], ' ') FOR i IN range(1, length(w) - 1)])
                     ELSE [] END AS sh
              FROM norm
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   ROUND(CAST(length(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                         length(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
            FROM grams a, grams b
            WHERE a.doc_id < b.doc_id
              AND length(list_distinct(list_concat(a.sh, b.sh))) > 0
              AND CAST(length(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                  length(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
        """,
        "lang_id": f"""
            WITH s AS (
              SELECT doc_id, ' ' || {_NORM_SQL} || ' ' AS padded FROM documents
            ), sc AS (
              SELECT doc_id,
                     CAST({_marker_sum_sql('de')} AS DOUBLE) AS score_de,
                     CAST({_marker_sum_sql('en')} AS DOUBLE) AS score_en,
                     CAST({_marker_sum_sql('es')} AS DOUBLE) AS score_es,
                     CAST({_marker_sum_sql('fr')} AS DOUBLE) AS score_fr
              FROM s
            )
            SELECT doc_id, score_de, score_en, score_es, score_fr,
                   CASE WHEN score_fr > 0 AND score_fr >= score_es AND score_fr >= score_en AND score_fr >= score_de THEN 'fr'
                        WHEN score_es > 0 AND score_es >= score_en AND score_es >= score_de THEN 'es'
                        WHEN score_en > 0 AND score_en >= score_de THEN 'en'
                        WHEN score_de > 0 THEN 'de'
                        ELSE 'und' END AS pred_lang
            FROM sc
        """,
        "quality_score": f"""
            WITH n AS (
              SELECT doc_id, {_NORM_SQL} AS norm FROM documents
            ), f AS (
              SELECT doc_id, norm,
                     length(norm) AS n_chars,
                     length(string_split(norm, ' ')) AS n_words,
                     ' ' || norm || ' ' AS padded
              FROM n
            )
            SELECT doc_id,
                   CAST(n_chars AS BIGINT) AS n_chars,
                   CAST(n_words AS BIGINT) AS n_words,
                   ROUND((n_chars - (n_words - 1)) / CAST(n_words AS DOUBLE), 4) AS mean_word_len,
                   ROUND(length(regexp_replace(norm, '[^.,;:!?]', '', 'g')) / CAST(GREATEST(n_chars, 1) AS DOUBLE), 6) AS punct_ratio,
                   ROUND(CAST({_marker_sum_sql('en')} AS DOUBLE) / GREATEST(CAST(n_words AS DOUBLE), 1.0), 6) AS stopword_ratio,
                   (n_words >= 5 AND (n_chars - (n_words - 1)) / CAST(n_words AS DOUBLE) >= 2
                    AND (n_chars - (n_words - 1)) / CAST(n_words AS DOUBLE) <= 12) AS passes_quality
            FROM f
        """,
        # Gopher repetition family (textops.repetition_metrics): the twin
        # groups by the gram STRING where the engine groups by
        # xxhash64(gram) — identical results modulo 64-bit collisions.
        "rep_metrics": f"""
            WITH n0 AS (
              SELECT doc_id, {_NORM_SQL} AS norm FROM documents
            ), w AS (
              SELECT doc_id, length(norm) AS n_chars,
                     string_split(norm, ' ') AS ws
              FROM n0
            ), g AS (
              SELECT doc_id, n_chars, 1 AS n, unnest(ws) AS gram FROM w
              UNION ALL SELECT doc_id, n_chars, 2,
                unnest([array_to_string(ws[i:i+1], ' ') FOR i IN range(1, length(ws))]) FROM w
              UNION ALL SELECT doc_id, n_chars, 3,
                unnest([array_to_string(ws[i:i+2], ' ') FOR i IN range(1, length(ws)-1)]) FROM w
              UNION ALL SELECT doc_id, n_chars, 4,
                unnest([array_to_string(ws[i:i+3], ' ') FOR i IN range(1, length(ws)-2)]) FROM w
              UNION ALL SELECT doc_id, n_chars, 5,
                unnest([array_to_string(ws[i:i+4], ' ') FOR i IN range(1, length(ws)-3)]) FROM w
              UNION ALL SELECT doc_id, n_chars, 10,
                unnest([array_to_string(ws[i:i+9], ' ') FOR i IN range(1, length(ws)-8)]) FROM w
            ), c AS (
              SELECT doc_id, n_chars, n, gram,
                     COUNT(*) AS cnt, length(gram) AS len
              FROM g GROUP BY 1, 2, 3, 4
            ), a AS (
              SELECT doc_id, n_chars,
                     SUM(CASE WHEN n = 1 THEN cnt END) AS w_total,
                     COUNT(CASE WHEN n = 1 THEN 1 END) AS w_distinct,
                     MAX(CASE WHEN n = 2 THEN cnt * len END) AS top2,
                     MAX(CASE WHEN n = 3 THEN cnt * len END) AS top3,
                     MAX(CASE WHEN n = 4 THEN cnt * len END) AS top4,
                     SUM(CASE WHEN n = 2 AND cnt > 1 THEN cnt * len END) AS dup2,
                     SUM(CASE WHEN n = 2 THEN cnt * len END) AS tot2,
                     SUM(CASE WHEN n = 3 AND cnt > 1 THEN cnt * len END) AS dup3,
                     SUM(CASE WHEN n = 3 THEN cnt * len END) AS tot3,
                     SUM(CASE WHEN n = 5 AND cnt > 1 THEN cnt * len END) AS dup5,
                     SUM(CASE WHEN n = 5 THEN cnt * len END) AS tot5,
                     SUM(CASE WHEN n = 10 AND cnt > 1 THEN cnt * len END) AS dup10,
                     SUM(CASE WHEN n = 10 THEN cnt * len END) AS tot10
              FROM c GROUP BY 1, 2
            )
            SELECT doc_id,
                   ROUND(1.0 - CAST(w_distinct AS DOUBLE) / CAST(w_total AS DOUBLE), 6) AS word_rep_frac,
                   ROUND(COALESCE(CAST(top2 AS DOUBLE) / CAST(GREATEST(n_chars, 1) AS DOUBLE), 0.0), 6) AS top2gram_char_frac,
                   ROUND(COALESCE(CAST(top3 AS DOUBLE) / CAST(GREATEST(n_chars, 1) AS DOUBLE), 0.0), 6) AS top3gram_char_frac,
                   ROUND(COALESCE(CAST(top4 AS DOUBLE) / CAST(GREATEST(n_chars, 1) AS DOUBLE), 0.0), 6) AS top4gram_char_frac,
                   ROUND(COALESCE(CAST(dup2 AS DOUBLE) / CAST(tot2 AS DOUBLE), 0.0), 6) AS dup2gram_char_frac,
                   ROUND(COALESCE(CAST(dup3 AS DOUBLE) / CAST(tot3 AS DOUBLE), 0.0), 6) AS dup3gram_char_frac,
                   ROUND(COALESCE(CAST(dup5 AS DOUBLE) / CAST(tot5 AS DOUBLE), 0.0), 6) AS dup5gram_char_frac,
                   ROUND(COALESCE(CAST(dup10 AS DOUBLE) / CAST(tot10 AS DOUBLE), 0.0), 6) AS dup10gram_char_frac
            FROM a
        """,
        "lm_score": f"""
            WITH words AS (
              SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ws FROM documents
            ),
            bg0 AS (
              SELECT doc_id,
                     unnest([{{'w1': ws[i], 'w2': ws[i+1]}} FOR i IN range(1, length(ws))]) AS p
              FROM words
            ),
            bg AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM bg0),
            b2 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
            u1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
            v AS (SELECT COUNT(DISTINCT w) AS vocab_size
                  FROM (SELECT unnest(ws) AS w FROM words)),
            sc AS (
              SELECT bg.doc_id, COUNT(*) AS nb,
                     AVG(ln((COALESCE(c12, 0) + 0.5) /
                            (COALESCE(c1, 0) + 0.5 * vocab_size))) AS lp
              FROM bg LEFT JOIN b2 USING (w1, w2) LEFT JOIN u1 USING (w1)
                   CROSS JOIN v
              GROUP BY 1
            )
            SELECT d.doc_id,
                   COALESCE(nb, 0) AS lm_bigrams,
                   ROUND(lp, 6) AS lm_logprob,
                   ROUND(exp(-lp), 6) AS lm_ppl
            FROM documents d LEFT JOIN sc USING (doc_id)
        """,
        "token_counts": """
            SELECT doc_id,
                   CAST(length(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS ws_tokens,
                   CAST(length(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS regex_tokens
            FROM documents
        """,
        "price_sweep": """
            WITH bands AS (
              SELECT o_orderpriority,
                     CAST(FLOOR(MIN(o_totalprice)) AS BIGINT) AS pmin,
                     CAST(FLOOR(MAX(o_totalprice)) AS BIGINT) AS pmax
              FROM orders GROUP BY o_orderpriority
            )
            SELECT o_orderpriority,
                   CAST(unnest(generate_series(pmin, pmax, 50000)) AS BIGINT) AS price_min,
                   CAST(unnest(generate_series(pmin, pmax, 50000)) + 50000 AS BIGINT) AS price_max
            FROM bands
        """,
        "region_rollup": """
            SELECT COALESCE(r_name, '(all)') AS r_name, COALESCE(n_name, '(all)') AS n_name,
                   CAST(COUNT(*) AS BIGINT) AS orders,
                   ROUND(SUM(o_totalprice), 2) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY ROLLUP (r_name, n_name)
        """,
        # goldens from the INDEPENDENT stdlib twin (html.parser event
        # stream + urllib.parse.urljoin — scripts_make_link_fixture.py);
        # hash equality certifies the engine's JVM regex chain end-to-end
        # plus (r5) the anchor_stats rollup, re-aggregated here from the
        # golden rows: in-degree, distinct referring hosts (canon
        # host_expr semantics), nofollow count, and the deterministic
        # top non-empty follow anchor (count desc, anchor desc).
        "link_extract": f"""
            WITH l AS (
              SELECT * FROM read_parquet('{_FIXTURE_LINKS_GOLD}')
            ),
            hosted AS (
              SELECT *,
                     lower(string_split(
                       array_extract(string_split(
                         regexp_extract(trim(src_url),
                           '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
                         '@'), -1),
                       ':')[1]) AS src_host
              FROM l
            ),
            stats AS (
              SELECT url,
                     CAST(COUNT(*) AS BIGINT) AS n_refs,
                     CAST(COUNT(DISTINCT src_host) AS BIGINT) AS n_hosts,
                     CAST(SUM(CAST(nofollow AS BIGINT)) AS BIGINT) AS n_nofollow
              FROM hosted GROUP BY url
            ),
            mode AS (
              SELECT url, anchor AS top_anchor FROM (
                SELECT url, anchor,
                       ROW_NUMBER() OVER (
                         PARTITION BY url
                         ORDER BY COUNT(*) DESC, anchor DESC
                       ) AS rn
                FROM l WHERE NOT nofollow AND anchor <> ''
                GROUP BY url, anchor
              ) WHERE rn = 1
            )
            SELECT l.src_url, l.href_raw, l.url, l.anchor, l.nofollow,
                   s.n_refs, s.n_hosts, s.n_nofollow,
                   COALESCE(m.top_anchor, '') AS top_anchor
            FROM l
            JOIN stats s USING (url)
            LEFT JOIN mode m USING (url)
        """,
        "ann_brute_topk": _BRUTE_TOPK_SQL,
        # LSH top-10 must equal the exact brute-force top-10 over the
        # corpus + planted near neighbors (same mixtures, recomputed here)
        "ivf_topk_join": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
            mix AS (
              SELECT vec_id + 100000 AS vec_id,
                     [qv[i] * 0.95 + (embedding::DOUBLE[])[i] * 0.05 FOR i IN range(1, 65)] AS v
              FROM embeddings, q WHERE vec_id BETWEEN 1 AND 10
            ),
            uni AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
              UNION ALL SELECT vec_id, v FROM mix
            ),
            qt AS (SELECT vec_id - 100000 AS query_id, v AS qv2 FROM mix)
            SELECT query_id, vec_id, cos, CAST(rank AS INT) AS rank FROM (
              SELECT qt.query_id, u.vec_id,
                     ROUND(list_dot_product(u.v, qt.qv2) /
                           (sqrt(list_dot_product(u.v, u.v)) * sqrt(list_dot_product(qt.qv2, qt.qv2))), 6) AS cos,
                     ROW_NUMBER() OVER (
                       PARTITION BY qt.query_id
                       ORDER BY ROUND(list_dot_product(u.v, qt.qv2) /
                                (sqrt(list_dot_product(u.v, u.v)) * sqrt(list_dot_product(qt.qv2, qt.qv2))), 6) DESC,
                                u.vec_id
                     ) AS rank
              FROM uni u, qt
            ) WHERE rank <= 5
        """,
        "lsh_ann": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
            mix AS (
              SELECT vec_id + 100000 AS vec_id,
                     [qv[i] * 0.95 + (embedding::DOUBLE[])[i] * 0.05 FOR i IN range(1, 65)] AS v
              FROM embeddings, q WHERE vec_id BETWEEN 1 AND 10
            ),
            uni AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
              UNION ALL SELECT vec_id, v FROM mix
            )
            SELECT vec_id, cos FROM (
              SELECT vec_id,
                     ROUND(list_dot_product(v, qv) /
                           (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos,
                     list_dot_product(v, qv) /
                           (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS cos_raw
              FROM uni, q
            ) ORDER BY cos_raw DESC, vec_id LIMIT 10
        """,
        "minhash_dedup": f"""
            WITH RECURSIVE norm AS (
              SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents
            ),
            grams AS (
              SELECT doc_id,
                     CASE WHEN length(w) >= 3 THEN
                       list_distinct([array_to_string(w[i:i+2], ' ') FOR i IN range(1, length(w) - 1)])
                     ELSE [] END AS sh
              FROM norm
            ),
            pairs AS (
              SELECT id_a, id_b, jaccard FROM (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       ROUND(CAST(length(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                             length(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard,
                       CAST(length(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                             length(list_distinct(list_concat(a.sh, b.sh))) AS raw
                FROM grams a, grams b
                WHERE a.doc_id < b.doc_id
                  AND length(list_distinct(list_concat(a.sh, b.sh))) > 0
              ) WHERE raw >= 0.8
            ),
            bidir AS (
              SELECT id_a AS u, id_b AS v FROM pairs
              UNION SELECT id_b, id_a FROM pairs
            ),
            reach(src, node) AS (
              SELECT u, u FROM bidir
              UNION
              SELECT reach.src, bidir.v FROM reach JOIN bidir ON reach.node = bidir.u
            ),
            comp AS (
              SELECT src AS id, MIN(node) AS component FROM reach GROUP BY src
            )
            SELECT p.id_a, p.id_b, p.jaccard, c.component
            FROM pairs p JOIN comp c ON p.id_a = c.id
        """,
        "minhash_dedup_join": f"""
            WITH norm AS (
              SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents
            ),
            grams AS (
              SELECT doc_id,
                     CASE WHEN length(w) >= 3 THEN
                       list_distinct([array_to_string(w[i:i+2], ' ') FOR i IN range(1, length(w) - 1)])
                     ELSE [] END AS sh
              FROM norm
            ),
            newb AS (SELECT doc_id + 100000 AS doc_id, sh FROM grams WHERE doc_id < 60)
            SELECT id_a, id_b, jaccard FROM (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     ROUND(CAST(length(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                           length(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard,
                     CAST(length(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                           length(list_distinct(list_concat(a.sh, b.sh))) AS raw
              FROM newb a, grams b
              WHERE length(list_distinct(list_concat(a.sh, b.sh))) > 0
            ) WHERE raw >= 0.8
        """,
        # quota sampling (r3) UNION dsir_select (r4): the dsir half
        # recomputes BOTH bigram-LM trainings (target = src0/src1 docs,
        # raw = all), the importance weight, the md5-seeded Gumbel key
        # and the top-60 selection — engine-exact because every float
        # step mirrors lm_score's 6-dp-rounded arithmetic.
        "stratified_sample": f"""
            WITH q(lang, quota) AS (VALUES ('en', 40), ('de', 25), ('fr', 10)),
            ranked AS (
              SELECT d.doc_id, d.lang, q.quota,
                     ROW_NUMBER() OVER (
                       PARTITION BY d.lang
                       ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id
                     ) AS sample_rank
              FROM documents d JOIN q ON d.lang = q.lang
            ),
            words AS (
              SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ws FROM documents
            ),
            bg0 AS (
              SELECT doc_id,
                     unnest([{{'w1': ws[i], 'w2': ws[i+1]}} FOR i IN range(1, length(ws))]) AS p
              FROM words
            ),
            bg AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM bg0),
            tgt AS (SELECT doc_id FROM documents WHERE source IN ('src0', 'src1')),
            bt2 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg JOIN tgt USING (doc_id) GROUP BY 1, 2),
            ut1 AS (SELECT w1, COUNT(*) AS c1 FROM bg JOIN tgt USING (doc_id) GROUP BY 1),
            vt AS (SELECT COUNT(DISTINCT w) AS vocab_size
                   FROM (SELECT unnest(ws) AS w FROM words JOIN tgt USING (doc_id))),
            br2 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
            ur1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
            vr AS (SELECT COUNT(DISTINCT w) AS vocab_size
                   FROM (SELECT unnest(ws) AS w FROM words)),
            sct AS (
              SELECT bg.doc_id, COUNT(*) AS nb,
                     ROUND(AVG(ln((COALESCE(c12, 0) + 0.5) /
                                  (COALESCE(c1, 0) + 0.5 * vocab_size))), 6) AS lp
              FROM bg LEFT JOIN bt2 USING (w1, w2) LEFT JOIN ut1 USING (w1)
                   CROSS JOIN vt
              GROUP BY 1
            ),
            scr AS (
              SELECT bg.doc_id, COUNT(*) AS nb,
                     ROUND(AVG(ln((COALESCE(c12, 0) + 0.5) /
                                  (COALESCE(c1, 0) + 0.5 * vocab_size))), 6) AS lp
              FROM bg LEFT JOIN br2 USING (w1, w2) LEFT JOIN ur1 USING (w1)
                   CROSS JOIN vr
              GROUP BY 1
            ),
            keyed AS (
              SELECT d.doc_id, d.lang,
                     ROUND(
                       ROUND(COALESCE((sct.lp - scr.lp) * CAST(sct.nb AS DOUBLE), 0.0), 6)
                       + -ln(-ln((('0x' || substr(md5('7:' || CAST(d.doc_id AS VARCHAR)), 1, 13))::BIGINT + 0.5)
                                 / 4503599627370496.0)),
                       6
                     ) AS dsir_key
              FROM documents d
              LEFT JOIN sct ON d.doc_id = sct.doc_id
              LEFT JOIN scr ON d.doc_id = scr.doc_id
            ),
            top AS (
              SELECT doc_id, lang, dsir_key
              FROM keyed ORDER BY dsir_key DESC, doc_id LIMIT 60
            )
            SELECT 'quota' AS method, doc_id, lang,
                   CAST(sample_rank AS INT) AS sample_rank, 0.0 AS score
            FROM ranked WHERE sample_rank <= quota
            UNION ALL
            SELECT 'dsir' AS method, doc_id, lang,
                   CAST(ROW_NUMBER() OVER (ORDER BY dsir_key DESC, doc_id) AS INT) AS sample_rank,
                   dsir_key AS score
            FROM top
        """,
        "simhash_pairs": """
            SELECT doc_id AS id_a, doc_id + 10000 AS id_b, CAST(0 AS INT) AS hamming
            FROM documents WHERE doc_id < 100
        """,
        "doc_fingerprint": f"""
            WITH n AS (SELECT doc_id, {_NORM_SQL} AS norm FROM documents),
            b AS (
              SELECT doc_id,
                     [substr(norm, i*64 + 1, 64)
                      FOR i IN range(0, GREATEST(CAST(ceil(length(norm) / 64.0) AS INT), 1))] AS blocks
              FROM n
            )
            SELECT doc_id,
                   list_reduce(list_prepend('0', blocks), (a, x) -> md5(a || '|' || x)) AS fingerprint
            FROM b
        """,
        "url_canonicalize": f"""
            WITH RECURSIVE fr AS ({_FRONTIER_SQL}),
            canon AS (
              SELECT DISTINCT
                CASE WHEN seq % 4 = 0 THEN 'HTTPS://' || upper(host) || ':443/Page/' || seq || '?b=2&a=1#frag'
                     WHEN seq % 4 = 1 THEN 'http://' || host || ':80'
                     WHEN seq % 4 = 2 THEN 'https://' || host || ':8443/x?z=1&y=2&x=3'
                     ELSE 'https://user@' || upper(host) || '/A/B#f' END AS url,
                CASE WHEN seq % 4 = 0 THEN 'https://' || host || '/Page/' || seq || '?a=1&b=2'
                     WHEN seq % 4 = 1 THEN 'http://' || host || '/'
                     WHEN seq % 4 = 2 THEN 'https://' || host || ':8443/x?x=3&y=2&z=1'
                     ELSE 'https://user@' || host || '/A/B' END AS out_url
              FROM (SELECT host, discovered_seq AS seq FROM fr)
            ),
            ks AS (SELECT o_orderkey AS i FROM orders),
            edges_raw AS (
              SELECT 'https://r.example/u/' || CAST(i AS VARCHAR) AS src,
                     'https://r.example/u/' || CAST(i - 1 - (i % 3) AS VARCHAR) AS dst
              FROM ks WHERE i % 5 <> 0
              UNION ALL
              SELECT 'https://r.example/u/' || CAST(i AS VARCHAR),
                     'https://r.example/u/' || CAST(i AS VARCHAR)
              FROM ks WHERE i % 10 = 0
              UNION ALL
              SELECT 'https://r.example/u/' || CAST(i AS VARCHAR),
                     'https://r.example/u/' || CAST(i + 1000000000 AS VARCHAR)
              FROM ks WHERE i % 10 = 5
              UNION ALL
              SELECT 'https://r.example/u/' || CAST(i + 1000000000 AS VARCHAR),
                     'https://r.example/u/' || CAST(i AS VARCHAR)
              FROM ks WHERE i % 10 = 5
            ),
            edges AS (SELECT src, MIN(dst) AS dst FROM edges_raw GROUP BY src),
            walk AS (
              SELECT src AS url, src AS cur, 0 AS hops FROM edges
              UNION ALL
              SELECT w.url, e.dst, w.hops + 1
              FROM walk w JOIN edges e ON w.cur = e.src
              WHERE w.hops < 16
            ),
            fin AS (
              SELECT url, cur, hops,
                     ROW_NUMBER() OVER (PARTITION BY url ORDER BY hops DESC) AS rn
              FROM walk
            )
            SELECT 'canon' AS op, url, out_url, CAST(0 AS BIGINT) AS n_hops, TRUE AS resolved
            FROM canon
            UNION ALL
            SELECT 'redirect' AS op, f.url, f.cur AS out_url, CAST(f.hops AS BIGINT) AS n_hops,
                   NOT EXISTS (SELECT 1 FROM edges e WHERE e.src = f.cur) AS resolved
            FROM fin f WHERE rn = 1
        """,
        "seen_bloom": f"""
            {frontier}
            SELECT url FROM frontier WHERE discovered_seq % 2 <> 0
        """,
        "embedding_near_dup": """
            WITH uni AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
              UNION ALL
              SELECT vec_id + 100000 AS vec_id, embedding::DOUBLE[] AS v
              FROM embeddings WHERE vec_id < 40
            )
            SELECT id_a, id_b, cos FROM (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     ROUND(list_dot_product(a.v, b.v) /
                           (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
              FROM uni a, uni b WHERE a.vec_id < b.vec_id
            ) WHERE cos >= 0.9
        """,
        # consolidated (r4): one-shot corpus sweep + incremental ingest
        # join, tagged by mode — schemas identical, each mode's rows
        # hash-checked separately inside the union
        "semantic_dedup": """
            SELECT 'corpus' AS mode, * FROM (
            WITH uni AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
              UNION ALL
              SELECT vec_id + 100000 AS vec_id, embedding::DOUBLE[] AS v
              FROM embeddings WHERE vec_id < 40
            ),
            assigned AS (
              SELECT vec_id, v,
                     CAST((v[1] >= 0) AS INT) + 2 * CAST((v[2] >= 0) AS INT)
                       + 4 * CAST((v[3] >= 0) AS INT) AS cluster
              FROM uni
            ),
            dups AS (
              SELECT DISTINCT b.vec_id
              FROM assigned a JOIN assigned b
                ON a.cluster = b.cluster AND a.vec_id < b.vec_id
              WHERE ROUND(list_dot_product(a.v, b.v) /
                          (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
                    >= 0.95
            )
            SELECT s.vec_id, s.cluster,
                   (d.vec_id IS NULL) AS kept
            FROM assigned s LEFT JOIN dups d ON s.vec_id = d.vec_id
            )
            UNION ALL
            SELECT 'ingest' AS mode, * FROM (
            WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            batch AS (
              SELECT vec_id + 200000 AS vec_id, embedding::DOUBLE[] AS v
              FROM embeddings WHERE vec_id < 30
              UNION ALL
              SELECT vec_id + 300000 AS vec_id, list_reverse(embedding::DOUBLE[]) AS v
              FROM embeddings WHERE vec_id >= 100 AND vec_id < 150
            ),
            ca AS (
              SELECT vec_id, v,
                     CAST((v[1] >= 0) AS INT) + 2 * CAST((v[2] >= 0) AS INT)
                       + 4 * CAST((v[3] >= 0) AS INT) AS cluster
              FROM corpus
            ),
            ba AS (
              SELECT vec_id, v,
                     CAST((v[1] >= 0) AS INT) + 2 * CAST((v[2] >= 0) AS INT)
                       + 4 * CAST((v[3] >= 0) AS INT) AS cluster
              FROM batch
            ),
            dups AS (
              SELECT DISTINCT a.vec_id
              FROM ba a JOIN ca b ON a.cluster = b.cluster
              WHERE ROUND(list_dot_product(a.v, b.v) /
                          (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
                    >= 0.95
            )
            SELECT s.vec_id, s.cluster, (d.vec_id IS NULL) AS kept
            FROM ba s LEFT JOIN dups d ON s.vec_id = d.vec_id
            )
        """,
        # consolidated (r4): image + audio perceptual near-dup, tagged by
        # medium — both oracles recompute the full <=3-Hamming pair set
        # from their fixture's independently-computed golden hash column
        "media_near_dup": f"""
            SELECT 'image' AS medium, * FROM (
            WITH g AS (
              SELECT media_id, golden_phash FROM read_parquet('{_FIXTURE_PHASH}')
            )
            SELECT a.media_id AS id_a, b.media_id AS id_b,
                   CAST(bit_count(xor(a.golden_phash, b.golden_phash)) AS BIGINT) AS hamming
            FROM g a JOIN g b ON a.media_id < b.media_id
            WHERE bit_count(xor(a.golden_phash, b.golden_phash)) <= 3
            )
            UNION ALL
            SELECT 'audio' AS medium, * FROM (
            WITH g AS (
              SELECT media_id, golden_fp FROM read_parquet('{_FIXTURE_AUDIO}')
            )
            SELECT a.media_id AS id_a, b.media_id AS id_b,
                   CAST(bit_count(xor(a.golden_fp, b.golden_fp)) AS BIGINT) AS hamming
            FROM g a JOIN g b ON a.media_id < b.media_id
            WHERE bit_count(xor(a.golden_fp, b.golden_fp)) <= 3
            )
            UNION ALL
            SELECT 'video' AS medium, * FROM (
            WITH g AS (
              SELECT media_id, golden_vhash FROM read_parquet('{_FIXTURE_VIDEO}')
            )
            SELECT a.media_id AS id_a, b.media_id AS id_b,
                   CAST(bit_count(xor(a.golden_vhash, b.golden_vhash)) AS BIGINT) AS hamming
            FROM g a JOIN g b ON a.media_id < b.media_id
            WHERE bit_count(xor(a.golden_vhash, b.golden_vhash)) <= 3
            )
        """,
        "centroid_topk": """
            WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
            idx AS (SELECT unnest(range(1, 65)) AS i),
            cent AS (SELECT label, i, AVG(v[i]) AS m FROM e, idx GROUP BY label, i),
            cvec AS (SELECT label, list(m ORDER BY i) AS c FROM cent GROUP BY label),
            scored AS (
              SELECT e.label, e.vec_id,
                     ROUND(list_dot_product(v, c) /
                           (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(c, c))), 6) AS cos
              FROM e JOIN cvec ON e.label = cvec.label
            )
            SELECT label, vec_id, cos, CAST(rank AS INT) AS rank FROM (
              SELECT label, vec_id, cos,
                     row_number() OVER (PARTITION BY label ORDER BY cos DESC, vec_id) AS rank
              FROM scored
            ) WHERE rank <= 3
        """,
        # webtext cleaning chain (r4): plant -> PII redact -> C4 line
        # filter -> corpus repeated-line dedup, the full pipeline
        # recomputed in DuckDB (RE2 regexes chosen for dialect parity
        # with Java regex — see textops.PII_*_RE)
        "pii_clean": r"""
            WITH planted AS (
              SELECT doc_id,
                     array_to_string(list_filter([
                       text || ' end of article.',
                       CASE WHEN doc_id % 5 = 0 THEN 'Contact user' || doc_id || '@example.com or call +1-555-0199 right now.' END,
                       CASE WHEN doc_id % 3 = 0 THEN 'Enable JavaScript to enjoy this site.' END,
                       CASE WHEN doc_id % 2 = 0 THEN 'Share.' END,
                       CASE WHEN doc_id % 7 = 0 THEN 'Served from 10.0.' || (doc_id % 200) || '.1 node today.' END,
                       CASE WHEN doc_id % 4 = 0 THEN 'All rights reserved worldwide.' END
                     ], x -> x IS NOT NULL), chr(10)) AS text
              FROM documents
            ),
            pii AS (
              SELECT doc_id,
                regexp_replace(regexp_replace(regexp_replace(text,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                    '\+\d{1,3}-\d{3}-\d{4}', '<PHONE>', 'g') AS clean_text,
                len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
                len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ips,
                len(regexp_extract_all(text, '\+\d{1,3}-\d{3}-\d{4}'))::BIGINT AS n_phones
              FROM planted
            ),
            c4 AS (
              SELECT doc_id, clean_text, n_emails, n_ips, n_phones,
                array_to_string(kept, chr(10)) AS c4_text,
                len(kept)::BIGINT AS lines_kept,
                len(all_lines)::BIGINT AS lines_total,
                ((NOT (contains(lower(clean_text), 'lorem ipsum') OR contains(lower(clean_text), '{')))
                   AND len(kept) >= 1) AS doc_kept
              FROM (
                SELECT *, string_split(clean_text, chr(10)) AS all_lines,
                  list_filter(string_split(clean_text, chr(10)),
                    x -> regexp_matches(x, '[.!?"]$')
                         AND len(string_split(trim(x), ' ')) >= 3
                         AND NOT contains(lower(x), 'javascript')
                         AND NOT contains(lower(x), 'cookie policy')
                         AND NOT contains(lower(x), 'privacy policy')) AS kept
                FROM pii) t
            ),
            ex AS (
              SELECT doc_id, i AS line_idx, lines[i+1] AS line
              FROM (SELECT doc_id, string_split(c4_text, chr(10)) AS lines FROM c4) t,
                   (SELECT unnest(range(0, 16)) AS i)
              WHERE i < len(lines)
            ),
            boiler AS (SELECT line FROM ex GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 3),
            keptl AS (SELECT * FROM ex WHERE line NOT IN (SELECT line FROM boiler)),
            rl AS (
              SELECT c.doc_id, COALESCE(sa.txt, '') AS final_text,
                     (len(string_split(c.c4_text, chr(10))) - COALESCE(sa.n, 0))::BIGINT AS boiler_dropped
              FROM c4 c LEFT JOIN (
                SELECT doc_id, string_agg(line, chr(10) ORDER BY line_idx) AS txt, COUNT(*) AS n
                FROM keptl GROUP BY doc_id) sa USING (doc_id)
            )
            SELECT p.doc_id, p.clean_text, p.n_emails, p.n_ips, p.n_phones,
                   c.c4_text, c.lines_kept, c.lines_total, c.doc_kept,
                   r.final_text, r.boiler_dropped
            FROM pii p JOIN c4 c USING (doc_id) JOIN rl r USING (doc_id)
        """,
        # sequence packing (r4): the engine's distributed two-phase
        # prefix-sum must equal the single SQL window's global cumsum
        "pack_sequences": _bpe_pack_oracle_sql(),
    }


_BRUTE_TOPK_SQL = """
    WITH q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, cos FROM (
      SELECT vec_id,
             ROUND(list_dot_product(embedding::DOUBLE[], qvec) /
                   (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
                    sqrt(list_dot_product(qvec, qvec))), 6) AS cos,
             list_dot_product(embedding::DOUBLE[], qvec) /
                   (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
                    sqrt(list_dot_product(qvec, qvec))) AS cos_raw
      FROM embeddings, q
    ) ORDER BY cos_raw DESC, vec_id LIMIT 10
"""
