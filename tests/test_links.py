"""links.py — HTML anchor extraction + RFC 3986 resolution.

Three independent implementations triangulate:
  1. the engine (pure JVM expression chain, links.extract_links),
  2. the pure-Python twin (links.resolve_href_py — same steps over re),
  3. stdlib urllib.parse.urljoin + html.parser (the fixture goldens,
     scripts_make_link_fixture.py — nothing shared with 1 or 2).
"""

import os
import re

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from frontier_engine.links import (
    extract_links,
    resolve_href_expr,
    resolve_href_py,
)

FIX = os.path.join(os.path.dirname(__file__), "..", "fixtures", "link_world")

RESOLVE_CASES = [
    ("https://www.h0.example/a/b.html", "c.html"),
    ("https://www.h0.example/a/b.html", "./c.html"),
    ("https://www.h0.example/a/b.html", "../c.html"),
    ("https://www.h0.example/a/b/c.html", "../../x/y.html"),
    ("https://www.h0.example/a/", ".."),
    ("https://www.h0.example/a/b/", "../.."),
    ("https://www.h0.example/a/b.html", "/root.html"),
    ("https://www.h0.example/a/b.html?q=1", "?page=2"),
    ("https://www.h0.example/a/b.html", "//other.example/z"),
    ("https://www.h0.example/a/b.html", "https://abs.example/p?x=1#f"),
    ("https://www.h0.example/a/b.html", "mailto:x@y.z"),
    ("https://www.h0.example", "c.html"),
    ("https://www.h0.example:8080/a/b", "c"),
    ("https://www.h0.example/a/b.html", "../../../up.html"),
    ("https://www.h0.example/a/b.html", "sub/dir/page"),
    ("https://www.h0.example/a/b.html", "./x/./y"),
    ("https://www.h0.example/a/b.html", "#top"),
    ("https://www.h0.example/a/b.html", ""),
    ("https://www.h0.example/a/b.html", "  c.html  "),
    ("https://www.h0.example/a/./b.html", "c.html"),
    ("https://www.h0.example/a/b.html", "x/./y/../z.html"),
    ("https://www.h0.example/a/b/", "../peer?x=1"),
    ("http://www.h0.example/a", "//cdn.example/lib.js"),
]


def _urljoin_ref(base: str, href: str):
    """urljoin with the module's pre-normalization (trim + defragment;
    empty → None) applied, so the comparison is apples-to-apples."""
    from urllib.parse import urljoin

    h = re.sub(r"#.*$", "", href.strip())
    return None if h == "" else urljoin(base, h)


def test_python_twin_matches_urljoin_on_cases():
    for base, href in RESOLVE_CASES:
        assert resolve_href_py(base, href) == _urljoin_ref(base, href), (base, href)


def test_spark_chain_matches_python_twin(spark):
    df = spark.createDataFrame(
        [(b, h) for b, h in RESOLVE_CASES], ["base", "href"]
    ).withColumn("resolved", resolve_href_expr(F.col("base"), F.col("href")))
    for r in df.collect():
        assert r.resolved == resolve_href_py(r.base, r.href), (r.base, r.href)


# supported subset: http(s) bases with sane paths; hrefs from path
# segments, ./ ../ (nesting ≤ _DOT_PASSES by construction: ≤4 levels),
# root-relative, query, absolute — no lookahead-hostile segments like
# "..." and no fragments-in-the-middle (covered by explicit cases above)
_SEG_ST = st.from_regex(r"[a-z][a-z0-9\-]{0,4}", fullmatch=True)
_BASE_ST = st.builds(
    lambda host, segs, leaf, q: (
        "https://" + host + "/" + "/".join(segs + [leaf]) + q
    ),
    st.sampled_from(["h0.example", "h1.example:8080", "sub.h2.example"]),
    st.lists(_SEG_ST, min_size=0, max_size=3),
    st.sampled_from(["", "index.html"]),  # '' → trailing-slash dir base
    st.sampled_from(["", "?q=1"]),
)
_HREF_ST = st.one_of(
    st.builds(
        lambda ups, segs, q: "/".join(ups + segs) + q,
        st.lists(st.sampled_from(["..", "."]), min_size=0, max_size=4),
        st.lists(_SEG_ST, min_size=1, max_size=3),
        st.sampled_from(["", "?page=2", "#f"]),
    ),
    st.builds(lambda s: "/" + s, _SEG_ST),
    st.builds(lambda s: "//cdn.example/" + s, _SEG_ST),
    st.builds(lambda s: "https://abs.example/" + s, _SEG_ST),
    st.sampled_from(["", "#top", "?only=query", "..", "../..", "./"]),
)


@settings(max_examples=400, deadline=None)
@given(base=_BASE_ST, href=_HREF_ST)
def test_python_twin_matches_urljoin_hypothesis(base, href):
    assert resolve_href_py(base, href) == _urljoin_ref(base, href)


def test_extract_links_matches_golden_fixture(spark):
    got = sorted(
        tuple(r)
        for r in extract_links(
            spark.read.parquet(os.path.join(FIX, "pages.parquet"))
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in spark.read.parquet(os.path.join(FIX, "links_golden.parquet"))
        .select("src_url", "href_raw", "url", "anchor", "nofollow")
        .collect()
    )
    assert len(got) == len(want) and got == want


def test_extract_links_edge_semantics(spark):
    links = extract_links(
        spark.read.parquet(os.path.join(FIX, "pages.parquet"))
    ).where(F.col("src_url").contains("/edge.html"))
    rows = {r.href_raw: r for r in links.collect()}
    # script/style/comment bodies never produce links
    assert not any("trap" in h for h in rows)
    # non-web schemes, fragment-only, empty, href-less are dropped
    for absent in ("mailto:bob@example.com", "javascript:void(0)",
                   "tel:+1-555-0100", "#top", ""):
        assert absent not in rows
    # quote styles + case all extract
    for present in ("plain.html", "single.html", "unquoted.html", "UPPER.html"):
        assert present in rows
    # resolution spot checks (base = /dir/sub/edge.html)
    assert rows["../up.html"].url == "https://www.h0.example/dir/up.html"
    assert rows["../../../../past-root.html"].url == "https://www.h0.example/past-root.html"
    assert rows["?page=2"].url == "https://www.h0.example/dir/sub/edge.html?page=2"
    assert rows["//www.h1.example/proto.html"].url == "https://www.h1.example/proto.html"
    assert rows["x/./y/../z.html"].url == "https://www.h0.example/dir/sub/x/z.html"
    # anchor-text normalization: nested tags → space, ws collapsed
    assert rows["nested.html"].anchor == "has bold and inside"
    assert rows["multi.html"].anchor == "line one line two"
    assert rows["entity.html"].anchor == "Tom &amp; Jerry &#38; co"
    assert rows["unicode.html"].anchor == "Košiče — čaj"
    # rel=nofollow token semantics
    assert rows["nf1.html"].nofollow and rows["nf2.html"].nofollow
    assert rows["nf3.html"].nofollow and rows["nf4.html"].nofollow
    assert not rows["follow.html"].nofollow
    assert not rows["plain.html"].nofollow
    # duplicate anchors keep multiplicity
    dup = links.where(F.col("href_raw") == "dup.html").count()
    assert dup == 2


def test_extract_links_plan_is_jvm_only(spark):
    df = extract_links(spark.read.parquet(os.path.join(FIX, "pages.parquet")))
    plan = df._jdf.queryExecution().executedPlan().toString()
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                "FlatMapsInPandas", "Exchange"):
        assert bad not in plan, f"{bad} leaked into the link-extract plan"
    # the let-binding keeps the tree codegen-sized: a plain inlined chain
    # measured ~45 KB here; regression-guard an order of magnitude lower
    assert len(plan) < 12_000, f"expression blowup: plan is {len(plan)} chars"


def test_anchor_stats_matches_python_recount(spark):
    """anchor_stats vs an independent pure-Python recount (Counter over
    the GOLDEN links parquet — the stdlib-twin-certified link set), so
    the aggregation logic is checked against something that shares no
    code with the engine's two-stage Spark plan."""
    from collections import Counter, defaultdict

    from frontier_engine.links import anchor_stats

    links = extract_links(spark.read.parquet(os.path.join(FIX, "pages.parquet")))
    got = {
        r.url: (r.n_refs, r.n_hosts, r.n_nofollow, r.top_anchor)
        for r in anchor_stats(links).collect()
    }

    gold = spark.read.parquet(os.path.join(FIX, "links_golden.parquet")).collect()
    refs = Counter()
    hosts = defaultdict(set)
    nofollow = Counter()
    anchors = defaultdict(Counter)
    for r in gold:
        refs[r.url] += 1
        m = re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", r.src_url)
        h = m.group(1).rsplit("@", 1)[-1].split(":", 1)[0].lower()
        hosts[r.url].add(h)
        nofollow[r.url] += int(r.nofollow)
        if not r.nofollow and r.anchor:
            anchors[r.url][r.anchor] += 1
    want = {}
    for u in refs:
        top = ""
        if anchors[u]:
            # highest count, ties to the greatest anchor string
            top = max(anchors[u].items(), key=lambda kv: (kv[1], kv[0]))[0]
        want[u] = (refs[u], len(hosts[u]), nofollow[u], top)
    assert got == want
    # fixture must actually exercise every column: some multi-ref
    # target, some multi-host target, some nofollow'd target
    assert any(v[0] > 1 for v in want.values())
    assert any(v[2] > 0 for v in want.values())


def test_anchor_stats_tie_and_empty_anchor_semantics(spark):
    from frontier_engine.links import anchor_stats

    rows = [
        # u1: "b" and "a" tie at 1 follow-ref each → greatest anchor "b"
        ("https://s1.example/p", "x", "https://t.example/u1", "a", False),
        ("https://s2.example/p", "x", "https://t.example/u1", "b", False),
        # u2: only nofollow + empty anchors → top_anchor ''
        ("https://s1.example/p", "x", "https://t.example/u2", "best", True),
        ("https://s1.example/q", "x", "https://t.example/u2", "", False),
        # u3: majority wins over lexicographic
        ("https://s1.example/a", "x", "https://t.example/u3", "zzz", False),
        ("https://s2.example/b", "x", "https://t.example/u3", "win", False),
        ("https://s3.example/c", "x", "https://t.example/u3", "win", False),
    ]
    df = spark.createDataFrame(
        rows, ["src_url", "href_raw", "url", "anchor", "nofollow"]
    )
    got = {r.url: r for r in anchor_stats(df).collect()}
    u1 = got["https://t.example/u1"]
    assert (u1.n_refs, u1.n_hosts, u1.n_nofollow, u1.top_anchor) == (2, 2, 0, "b")
    u2 = got["https://t.example/u2"]
    assert (u2.n_refs, u2.n_hosts, u2.n_nofollow, u2.top_anchor) == (2, 1, 1, "")
    u3 = got["https://t.example/u3"]
    assert (u3.n_refs, u3.n_hosts, u3.n_nofollow, u3.top_anchor) == (3, 3, 0, "win")


def test_anchor_stats_plan_shape(spark):
    """Two url-keyed hash aggregations with partial combine; no window
    over the corpus, no Python stage, no cartesian."""
    from frontier_engine.links import anchor_stats

    links = extract_links(spark.read.parquet(os.path.join(FIX, "pages.parquet")))
    plan = anchor_stats(links)._jdf.queryExecution().executedPlan().toString()
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                "CartesianProduct", "Window"):
        assert bad not in plan, f"{bad} leaked into the anchor-stats plan"
    assert "HashAggregate" in plan
