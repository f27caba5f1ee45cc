"""Crawl-trap guards (traps.py): template shaping and the salted
per-family admission cap."""

from pyspark.sql import functions as F

from frontier_engine.traps import (
    cap_per_template,
    template_report,
    url_template,
)


def _tpl(spark, url: str) -> str:
    return (
        spark.range(1)
        .select(url_template(F.lit(url)).alias("t"))
        .collect()[0]["t"]
    )


def test_url_template_shapes(spark):
    # digit runs collapse; query values strip; keys and order survive
    assert _tpl(spark, "https://h.example/cal/2024/11?day=27&tz=utc") == "/cal/D/D?day=V&tz=V"
    # 8+-char hex (session ids, uuid head/tail chunks) -> H before D
    assert _tpl(spark, "https://h.example/s/deadbeef42cafe88/x") == "/s/H/x"
    assert _tpl(spark, "http://h.example/u/550e8400-e29b-41d4-a716-446655440000") == "/u/H-eDb-DdD-aD-H"
    # same family, different ids -> same key; different shape -> different key
    assert _tpl(spark, "https://a.example/p/17?s=9") == _tpl(spark, "https://b.example/p/40271?s=abc")
    assert _tpl(spark, "https://a.example/p/17/x") != _tpl(spark, "https://a.example/p/17")
    # no path at all
    assert _tpl(spark, "https://h.example") == ""


def _families(spark):
    """3 hosts x {two organic families of 5/host, calendar-trap family
    of ~57/host}: ids 0-14 -> /p/D, 15-29 -> /q/D-x, 30-199 -> /cal."""
    n = spark.range(200)
    host = F.concat(F.lit("h"), (F.col("id") % 3).cast("string"), F.lit(".example"))
    url = F.when(
        F.col("id") >= 30,
        F.concat(F.lit("https://"), host, F.lit("/cal?y="), (F.col("id") % 7 + 2000).cast("string"),
                 F.lit("&m="), F.col("id").cast("string")),
    ).when(
        F.col("id") < 15,
        F.concat(F.lit("https://"), host, F.lit("/p/"), F.col("id").cast("string")),
    ).otherwise(
        F.concat(F.lit("https://"), host, F.lit("/q/"), F.col("id").cast("string"), F.lit("-x"))
    )
    return n.select(host.alias("host"), url.alias("url"), F.col("id").alias("seq"))


def test_cap_per_template_keeps_lowest_order(spark):
    cand = _families(spark)
    kept = cap_per_template(cand, cap=10, order_cols=["seq"])
    assert set(kept.columns) == {"host", "url", "seq"}
    # organic families (5/host) untouched; trap family cut to 10/host
    got = (
        kept.withColumn("t", url_template(F.col("url")))
        .groupBy("host", "t").agg(F.count("*").alias("n"), F.max("seq").alias("hi"))
    )
    rows = got.collect()
    assert {r["t"] for r in rows} == {"/p/D", "/q/D-x", "/cal?y=V&m=V"}
    for r in rows:
        if r["t"].startswith("/cal"):
            # lowest-seq 10 of that host's trap rows: ids 30..59
            assert r["n"] == 10 and r["hi"] <= 59
        else:
            assert r["n"] == 5
    assert kept.count() == 30 + 3 * 10


def test_cap_salted_equals_unsalted(spark):
    cand = _families(spark)
    a = cap_per_template(cand, cap=7, order_cols=["seq"], n_salts=8)
    b = cap_per_template(cand, cap=7, order_cols=["seq"], n_salts=1)
    assert sorted(r["url"] for r in a.collect()) == sorted(r["url"] for r in b.collect())


def test_template_report_matches_cap(spark):
    cand = _families(spark)
    rep = template_report(cand, cap=10)
    kept_n = cap_per_template(cand, cap=10, order_cols=["seq"]).count()
    agg = rep.agg(F.sum("n_admitted").alias("a"), F.sum("n_blocked").alias("b"),
                  F.sum("n_urls").alias("u")).collect()[0]
    assert agg["a"] == kept_n and agg["u"] == 200 and agg["b"] == 200 - kept_n


def test_cap_plan_no_single_partition(spark):
    cand = _families(spark)
    plan = (
        cap_per_template(cand, cap=10, order_cols=["seq"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SinglePartition" not in plan
    # both window phases partition on (host, template[, salt]) hashes
    assert plan.count("Window") >= 2


def test_crawler_ingest_applies_trap_cap(spark, tmp_path):
    """cfg.trap_cap budgets candidate admission per (host, template)
    family inside _ingest_candidates (opt-in; None = reference parity)."""
    from frontier_engine.config import EngineConfig
    from frontier_engine.crawler import _ingest_candidates
    from frontier_engine.robots import RULES_SCHEMA
    from frontier_engine.seen_store import SeenExactStore

    cand = _families(spark).select(
        "url", "host",
        F.lit(1).alias("depth"),
        F.concat(F.lit("https://seed/"), F.col("seq")).alias("parent_url"),
        F.lit(0.0).alias("listing_score"),
    )
    rules = spark.createDataFrame([], RULES_SCHEMA)
    base = dict(n_seen_shards=4, bloom_bits_per_shard=1 << 14, salt_partitions=2)

    def admitted(cfg):
        seen = SeenExactStore(spark, str(tmp_path / "seen"))  # empty: nothing seen yet
        pending, blocked, _, n, handle = _ingest_candidates(cand, seen, rules, cfg, 0)
        rows = pending.collect()
        handle.unpersist()
        return rows

    uncapped = admitted(EngineConfig(**base))
    assert len(uncapped) == 200
    capped = admitted(EngineConfig(trap_cap=10, **base))
    per_family = {}
    for r in capped:
        key = (r["host"], _tpl(spark, r["url"]))
        per_family[key] = per_family.get(key, 0) + 1
    assert max(per_family.values()) == 10  # trap family cut to budget
    assert len(capped) == 30 + 3 * 10
