"""Extraction operators P1-P19 (SURVEY §5.1/§5.2): scalar quirks on tiny
frames + candidates-resolve e2e on the fixture world."""

import json

from pyspark.sql import functions as F

from frontier_engine import parse as P


def _pricing_df(spark, rows):
    """rows: list of pricing JSON dicts (or None)."""
    data = [(json.dumps(r) if r is not None else None,) for r in rows]
    df = spark.createDataFrame(data, "pricing_json string")
    return df.withColumn("pricing", F.from_json("pricing_json", P.PRICING_SCHEMA))


def _pq(primary, secondary=None, rwsf=100):
    return {
        "monthlyPriceFactor": 0.9,
        "weeklyPriceFactor": 0.95,
        "rateWithServiceFee": {"amount": rwsf} if rwsf is not None else None,
        "structuredStayDisplayPrice": {"primaryLine": primary, "secondaryLine": secondary},
    }


class TestPricing:
    def test_price_rate_lstrip_and_commas(self, spark):
        # P6: int(price.lstrip('$').replace(',', '')) — airbnb.py:295-301
        df = _pricing_df(
            spark,
            [
                _pq({"price": "$1,234", "qualifier": "night"}),
                _pq({"price": "$$77", "qualifier": "night"}),  # lstrip strips ALL leading $
                _pq({"discountedPrice": "$950", "qualifier": "night"}),  # P5 fallback
                None,
            ],
        )
        out = df.select(P.price_rate_expr(F.col("pricing")).alias("r")).collect()
        assert [r.r for r in out] == [1234, 77, 950, None]

    def test_rate_type(self, spark):
        df = _pricing_df(spark, [_pq({"price": "$1", "qualifier": "month"}), None])
        out = df.select(P.rate_type_expr(F.col("pricing")).alias("t")).collect()
        assert [r.t for r in out] == ["month", None]

    def test_total_price_secondary_then_primary(self, spark):
        # P8: secondaryLine '$X total' regex, else primaryLine — airbnb.py:310-325
        df = _pricing_df(
            spark,
            [
                _pq({"price": "$40", "qualifier": "night"}, {"price": "$1,120 total"}),
                _pq({"price": "$2,800", "qualifier": "month"}),  # no secondary
                _pq({"price": "$30", "qualifier": "night"}, {"price": "no dollars here"}),
                None,  # null pricing + checkin → engine nulls (deviation doc'd)
            ],
        )
        out = df.select(P.total_price_expr(F.col("pricing"), has_checkin=True).alias("t")).collect()
        assert [r.t for r in out] == [1120, 2800, None, None]

    def test_total_price_no_checkin_is_null(self, spark):
        df = _pricing_df(spark, [_pq({"price": "$40", "qualifier": "night"}, {"price": "$99 total"})])
        out = df.select(P.total_price_expr(F.col("pricing"), has_checkin=False).alias("t")).collect()
        assert out[0].t is None


class TestHelpers:
    def test_render_titles_subtitle_falsy_skip(self, spark):
        # P10 — PdpPlatformSections.py:184-192: empty subtitle → title only
        df = spark.createDataFrame(
            [([("A", "sub"), ("B", None), ("C", "")],)],
            "arr array<struct<title:string,subtitle:string>>",
        )
        joined = df.select(P.render_titles(F.col("arr")).alias("s")).collect()[0].s
        assert joined == "A: sub\nB\nC"
        listed = df.select(P.render_titles(F.col("arr"), sep=" - ", join=False).alias("s")).collect()[0].s
        assert listed == ["A - sub", "B", "C"]

    def test_amenity_ids_last_group(self, spark):
        # P11 — multi-underscore ids take the LAST numeric group
        df = spark.createDataFrame(
            [([("pets_allowed_12_full", "t", None, True), ("a2c_5_cool", "t", None, True)],)],
            "arr array<struct<id:string,title:string,subtitle:string,available:boolean>>",
        )
        out = df.select(P.amenity_ids_expr(F.col("arr")).alias("ids")).collect()[0].ids
        assert out == [12, 5]

    def test_find_section_first_vs_component_last(self, spark):
        # sectionId lookup takes FIRST ([0]); component lookup takes LAST (.pop())
        df = spark.createDataFrame(
            [(
                [("X", "a"), ("X", "b"), ("Y", "c")],
            )],
            "secs array<struct<sectionId:string,section:string>>",
        )
        first = df.select(P.find_section(F.col("secs"), "X").alias("s")).collect()[0].s
        assert first == "a"
        df2 = spark.createDataFrame(
            [([("X", "a"), ("X", "b")],)],
            "secs array<struct<sectionComponentType:string,section:string>>",
        )
        last = df2.select(P.find_component_last(F.col("secs"), "X")["section"].alias("s")).collect()[0].s
        assert last == "b"

    def test_missing_section_is_null(self, spark):
        df = spark.createDataFrame([([],)], "secs array<struct<sectionId:string,section:string>>")
        out = df.select(P.find_section(F.col("secs"), "NOPE").alias("s")).collect()[0].s
        assert out is None


class TestUrlParity:
    """Engine URL expressions byte-match the fixture/reference builders."""

    def test_pdp_and_reviews_urls(self, spark, spec):
        from frontier_engine.fixtures import pdp_url, reviews_url

        df = spark.createDataFrame([("www.bnb3.example", "10000042")], "host string, lid string")
        got = df.select(
            P.pdp_url_expr(F.col("host"), F.col("lid")).alias("pdp"),
            P.reviews_url_expr(F.col("host"), F.col("lid"), F.lit(50), F.lit(0)).alias("r0"),
            P.reviews_url_expr(F.col("host"), F.col("lid"), F.lit(50), F.lit(100)).alias("r100"),
        ).collect()[0]
        assert got.pdp == pdp_url(spec, 3, "10000042")
        assert got.r0 == reviews_url(spec, 3, "10000042", 0)  # offset dropped when 0
        assert got.r100 == reviews_url(spec, 3, "10000042", 100)

    def test_all_candidates_resolve(self, spark, pages_df, args, cfg):
        urls = {r.url for r in pages_df.select("url").collect()}
        _, c1 = P.parse_landing(pages_df.where(P.page_type_col() == "landing"), args, cfg)
        _, c2 = P.parse_search(pages_df.where(P.page_type_col() == "search"), args, cfg)
        _, c3 = P.parse_pdp(pages_df.where(P.page_type_col() == "pdp"), cfg)
        _, c4 = P.parse_reviews(pages_df.where(P.page_type_col() == "reviews"), cfg)
        cands = [r.url for df in (c1, c2, c3, c4) for r in df.select("url").collect()]
        assert cands, "no candidates produced"
        missing = [u for u in cands if u not in urls]
        assert missing == []


def test_byte_parity_text(pages_df):
    """The per-url invariant: engine text(html) == stored golden text."""
    from frontier_engine.html_text import html_bytes_to_text_udf

    bad = pages_df.withColumn("t2", html_bytes_to_text_udf(F.col("html"))).where(
        F.col("t2") != F.col("text")
    )
    assert bad.count() == 0


class TestNeighborhoodsF9:
    """P20/A3 (airbnb.py:177-196) and the F9 room-type filter."""

    def test_neighborhood_gate_and_break_on_first(self, spark, spec, cfg):
        from frontier_engine.fixtures import explore_tabs_body, explore_tabs_url
        import pandas as pd

        rows = [
            {"url": explore_tabs_url(spec, i), "text": explore_tabs_body(spec, i)}
            for i in range(spec.n_hosts)
        ]
        df = spark.createDataFrame(pd.DataFrame(rows))
        out = P.extract_neighborhoods(df, cfg).collect()
        # A3 gate: only host 0 (hot host, listings_count = 48*10) clears 300
        hosts = {r.page_url.split("/")[2] for r in out}
        assert hosts == {spec.host(0)}
        assert len(out) == 3  # 3 neighborhoods, decoy section ignored
        # P20 break-on-first: the id is the FIRST neighborhood_ids param
        ids = sorted(r.neighborhood_id for r in out)
        assert ids == ["0", "1", "2"]
        assert all("999" != r.neighborhood_id for r in out)

    def test_room_type_filter_f9(self, spark, pages_df, args, cfg):
        from frontier_engine.config import EngineConfig

        all_res, _ = P.parse_search(pages_df.where(P.page_type_col() == "search"), args, cfg)
        kinds = {r.room_type for r in all_res.select("room_type").distinct().collect()}
        assert len(kinds) > 2
        cfg2 = EngineConfig(room_types=("Private room",))
        res, cands = P.parse_search(pages_df.where(P.page_type_col() == "search"), args, cfg2)
        got = {r.room_type for r in res.select("room_type").distinct().collect()}
        assert got == {"Private room"}
        # filtered listings also get no PDP candidates
        n_pdp = cands.where(F.col("url").contains("PdpPlatformSections")).count()
        assert n_pdp == res.count()
