"""HTML link extraction + reference resolution — pure JVM expressions.

The missing discovery edge for a Common-Crawl-style crawl: the reference
discovers URLs only from JSON API payloads (its spider yields requests
from parsed ExploreSearch responses, /root/reference/deepbnb/api.py +
deepbnb/spiders/airbnb.py:149-175 — it never walks ``<a href>``), but a
generic web frontier is FED by the link graph of fetched pages. This
module turns stored page HTML into resolved link rows and per-target
anchor statistics without a byte of Python in the hot path:

* :func:`anchor_elements` — ``<a ...>...</a>`` elements via one
  ``regexp_extract_all`` after stripping ``<script>``/``<style>``
  blocks and comments (fake anchors inside them must not count).
* :func:`resolve_href_expr` — RFC 3986 reference resolution
  (§5.2.2 merge + §5.2.4 remove_dot_segments) as a ``when``-chain of
  string expressions: absolute / protocol-relative / root-relative /
  query-only / relative-path branches, dot segments removed by a
  BOUNDED regexp_replace cascade on the path part only (depth
  ``_DOT_PASSES``; deeper ``../`` chains than any sane site emits), and
  leading ``..`` clamped at the root per §5.2.4-2A. A pure-Python twin
  (:func:`resolve_href_py`, same steps over ``re``) is
  hypothesis-compared against stdlib ``urllib.parse.urljoin`` on the
  supported subset, and the Spark chain is pinned equal to the twin —
  the ``canon.py`` JVM/Python-twin discipline.
* :func:`extract_links` — pages ``(url, html)`` → one row per anchor
  ``(src_url, href_raw, url, anchor, nofollow)``: resolved, canonical
  http(s) only (``mailto:``/``javascript:``/fragment-only dropped),
  anchor text de-tagged + whitespace-collapsed, ``rel=nofollow``
  flagged (what a polite rank pipeline excludes from endorsement
  edges, Google 2005 rel-nofollow convention).
* :func:`anchor_stats` — per-target in-link rollup (in-degree,
  referring-host breadth, nofollow count, dominant anchor text).

Scale shape: the whole operator is ``explode`` over per-row regex
extraction — narrow, shuffle-free, whole-stage-codegen'd; cost is
O(bytes of html) per page exactly like the html→text stage it rides
next to.

Correctness: the committed fixture's golden rows are produced by an
INDEPENDENT stdlib implementation (``html.parser.HTMLParser`` event
stream + ``urllib.parse.urljoin``, scripts_make_link_fixture.py); the
CORRECTNESS row ``link_extract`` hash-compares this module's output
against those goldens, so a regression anywhere in strip → extract →
resolve → normalize surfaces as a driver-visible mismatch.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "anchor_elements",
    "resolve_href_expr",
    "resolve_href_py",
    "extract_links",
    "anchor_stats",
]

# scheme://authority prefix (host[:port]; stops at /, ?, #)
_AUTH_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*"
# any-scheme absolute reference ("mailto:", "javascript:", "https:" ...)
_SCHEME_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*:"
# one remove-dot-segments pass per level of ../ nesting; bounded (§5.2.4
# is a loop — six levels covers any organic relative link; the fixture
# and the hypothesis strategy stay within the bound by construction)
_DOT_PASSES = 6
# a path segment with at least one non-dot character (so "." and ".."
# never match as a parent segment to collapse)
_SEG = r"[^/]*[^/.][^/]*"

_ANCHOR_EL = r"(?is)<a\s[^>]*>.*?</a>"
_STRIP_BLOCKS = (
    r"(?is)<script\b.*?</script>",
    r"(?is)<style\b.*?</style>",
    r"(?s)<!--.*?-->",
)


def anchor_elements(html: Column) -> Column:
    """array<string> of raw ``<a ...>...</a>`` elements in *html*
    (script/style/comment bodies excluded first — a commented-out
    anchor is not a link)."""
    body = html
    for pat in _STRIP_BLOCKS:
        body = F.regexp_replace(body, pat, " ")
    return F.regexp_extract_all(body, F.lit(_ANCHOR_EL), 0)


def _attr(el: Column, name: str) -> Column:
    """Value of attribute *name* on anchor element *el*: double-quoted,
    single-quoted, then unquoted form (first match wins; '' when
    absent). The leading ``[\\s]`` keeps ``data-href`` from matching
    ``href``."""
    dq = F.regexp_extract(el, r"(?is)\s" + name + r'\s*=\s*"([^"]*)"', 1)
    sq = F.regexp_extract(el, r"(?is)\s" + name + r"\s*=\s*'([^']*)'", 1)
    uq = F.regexp_extract(el, r"(?is)\s" + name + r"""\s*=\s*([^\s"'>][^\s>]*)""", 1)
    return F.when(dq != "", dq).when(sq != "", sq).otherwise(uq)


def _anchor_text(el: Column) -> Column:
    """Inner text: nested tags → one space, whitespace collapsed,
    trimmed (the normalization the golden generator mirrors)."""
    inner = F.regexp_extract(el, r"(?is)^<a\s[^>]*>(.*)</a>$", 1)
    txt = F.regexp_replace(inner, r"(?s)<[^>]*>", " ")
    return F.trim(F.regexp_replace(txt, r"\s+", " "))


def _remove_dot_segments_expr(path: Column) -> Column:
    """§5.2.4 on the PATH ONLY (never hand the full URL here: the
    ``//`` of ``scheme://`` would read as an empty first segment)."""
    p = path
    for _ in range(_DOT_PASSES):
        # "/./" → "/" twice: regexp_replace is non-overlapping
        # left-to-right, so "/././" needs the second sweep
        p = F.regexp_replace(p, r"/\./", "/")
        p = F.regexp_replace(p, r"/\./", "/")
        p = F.regexp_replace(p, r"/\.$", "/")
        p = F.regexp_replace(p, "/" + _SEG + r"/\.\./", "/")
        p = F.regexp_replace(p, "/" + _SEG + r"/\.\.$", "/")
    # §5.2.4-2A: leading ../ beyond the root is dropped
    p = F.regexp_replace(p, r"^(/\.\.)+/", "/")
    p = F.regexp_replace(p, r"^(/\.\.)+$", "/")
    return p


def _remove_dot_segments_py(path: str) -> str:
    p = path
    for _ in range(_DOT_PASSES):
        p = re.sub(r"/\./", "/", p)
        p = re.sub(r"/\./", "/", p)
        p = re.sub(r"/\.$", "/", p)
        p = re.sub("/" + _SEG + r"/\.\./", "/", p)
        p = re.sub("/" + _SEG + r"/\.\.$", "/", p)
    p = re.sub(r"^(/\.\.)+/", "/", p)
    p = re.sub(r"^(/\.\.)+$", "/", p)
    return p


def _let(value: Column, body) -> Column:
    """Let-binding for Catalyst: evaluate *value* ONCE and reference it
    as a lambda variable inside *body*. Plain column reuse is INLINED
    by CollapseProject — a when-chain that mentions an extraction
    subtree 15 times ships 15 copies to codegen (the word_shingles
    lesson, r4) — but a higher-order-function lambda variable is bound,
    not expanded. ``transform(array(v), x -> body)[0]`` is that binding
    as a single JVM expression."""
    return F.transform(F.array(value), body)[0]


def resolve_href_expr(base: Column, href: Column) -> Column:
    """Resolve *href* against *base* (an absolute http(s) URL). NULL for
    empty / fragment-only references. Fragments are stripped (crawl
    identity ignores them; ``canon.canonicalize_expr`` downstream agrees
    — canon.py:59). Intermediates (cleaned href, merged reference) are
    let-bound via :func:`_let` so the expression tree stays codegen-
    sized: every branch references the bound variable instead of
    re-inlining the upstream extraction."""
    scheme = F.regexp_extract(base, r"^([A-Za-z][A-Za-z0-9+.\-]*):", 1)
    auth = F.regexp_extract(base, _AUTH_RE, 0)
    base_nq = F.regexp_replace(base, r"[?#].*$", "")
    base_path = F.substring(base_nq, F.length(auth) + 1, F.lit(1 << 30))
    base_dir = F.when(base_path == "", F.lit("/")).otherwise(
        F.regexp_replace(base_path, r"/[^/]*$", "/")
    )

    def with_clean(h: Column) -> Column:
        raw = (
            F.when(h.rlike(_SCHEME_RE), h)
            .when(h.startswith("//"), F.concat(scheme, F.lit(":"), h))
            .when(h.startswith("/"), F.concat(auth, h))
            .when(h.startswith("?"), F.concat(auth, base_path, h))
            .otherwise(F.concat(auth, base_dir, h))
        )

        def with_raw(r: Column) -> Column:
            r_auth = F.regexp_extract(r, _AUTH_RE, 0)
            r_rest = F.substring(r, F.length(r_auth) + 1, F.lit(1 << 30))
            return F.concat(r_auth, _remove_dot_segments_expr(r_rest))

        return F.when(h == "", F.lit(None).cast("string")).otherwise(
            _let(raw, with_raw)
        )

    return _let(F.regexp_replace(F.trim(href), r"#.*$", ""), with_clean)


def resolve_href_py(base: str, href: str) -> str | None:
    """Pure-Python twin of :func:`resolve_href_expr` (same steps over
    ``re``); the JVM/Python-twin pin lives in tests/test_links.py."""
    h = re.sub(r"#.*$", "", href.strip())
    if h == "":
        return None
    m = re.match(r"^([A-Za-z][A-Za-z0-9+.\-]*):", base)
    scheme = m.group(1) if m else ""
    m = re.match(_AUTH_RE, base)
    auth = m.group(0) if m else ""
    base_nq = re.sub(r"[?#].*$", "", base)
    base_path = base_nq[len(auth):]
    base_dir = "/" if base_path == "" else re.sub(r"/[^/]*$", "/", base_path)
    if re.match(_SCHEME_RE, h):
        raw = h
    elif h.startswith("//"):
        raw = scheme + ":" + h
    elif h.startswith("/"):
        raw = auth + h
    elif h.startswith("?"):
        raw = auth + base_path + h
    else:
        raw = auth + base_dir + h
    m = re.match(_AUTH_RE, raw)
    r_auth = m.group(0) if m else ""
    return r_auth + _remove_dot_segments_py(raw[len(r_auth):])


def extract_links(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """pages → one row per followable anchor:
    ``(src_url, href_raw, url, anchor, nofollow)``. Resolved URL is
    http(s)-absolute; empty / fragment-only / non-web-scheme hrefs are
    dropped. ``nofollow`` marks ``rel`` values containing the nofollow
    token (callers exclude those rows from endorsement counts; the URL
    itself may still be crawled).

    Narrow plan: decode (when the column is binary) → strip/extract →
    one struct per anchor built INSIDE a transform lambda (the element
    and its href are bound variables, so the extraction subtree appears
    once, not once per consumer) → explode → attribute-only filter. No
    Python stage, no shuffle — plan-guarded in tests/test_plans.py.
    """
    html = F.col(html_col)
    if dict(pages.dtypes)[html_col] == "binary":
        html = html.cast("string")  # binary→string is UTF-8 in Spark
    src = F.col(url_col)

    def link_struct(el: Column) -> Column:
        def with_href(h: Column) -> Column:
            return F.struct(
                h.alias("href_raw"),
                resolve_href_expr(src, h).alias("url"),
                _anchor_text(el).alias("anchor"),
                _attr(el, "rel").rlike(r"(?i)(^|\s)nofollow(\s|$)").alias("nofollow"),
            )

        return _let(_attr(el, "href"), with_href)

    out = (
        pages.select(
            src.alias("src_url"),
            F.explode(F.transform(anchor_elements(html), link_struct)).alias("__l"),
        )
        .where(F.col("__l.url").isNotNull() & F.col("__l.url").rlike(r"^https?://"))
        .select("src_url", "__l.href_raw", "__l.url", "__l.anchor", "__l.nofollow")
    )
    return out


def anchor_stats(links: DataFrame, url_col: str = "url") -> DataFrame:
    """Per-target anchor/endorsement aggregation over
    :func:`extract_links` output — the classic link-signal rollup a
    rank pipeline feeds on (in-degree, referring-host breadth, nofollow
    share, dominant anchor text; anchor text is the strongest off-page
    relevance signal in the original PageRank/anchor-file design,
    Brin & Page 1998 §4.1, and the reference has no analogue because
    its Scrapy spider never walks ``<a href>``).

    Returns one row per target url:

    * ``n_refs``     — total in-links (rows in ``links``),
    * ``n_hosts``    — distinct referring hosts (``canon.host_expr`` of
      ``src_url``, the host key the frontier uses),
    * ``n_nofollow`` — in-links carrying rel=nofollow (not endorsements;
      counted here so the share is visible),
    * ``top_anchor`` — the most frequent NON-EMPTY anchor string among
      follow links, ties broken by the lexicographically greatest
      anchor ('' when every follow in-link has empty anchor text) —
      deterministic, so a SQL twin reproduces it exactly.

    Scale shape: two hash aggregations, both keyed by url (+anchor for
    the mode) — partial map-side combine applies, no window over the
    corpus, no driver state. The distinct-host count rides Spark's
    expand-based distinct aggregate inside the same url-keyed shuffle.
    A hot target URL (every page links "/") skews the (url, anchor)
    group far less than the raw url group since the mode key fans out
    by anchor; the final per-url fold only sees one row per distinct
    anchor."""
    from frontier_engine.canon import host_expr

    url = F.col(url_col)
    base = links.select(
        url.alias("__url"),
        host_expr(F.col("src_url")).alias("__src_host"),
        F.col("anchor"),
        F.col("nofollow"),
    )
    stats = base.groupBy(F.col("__url").alias(url_col)).agg(
        F.count(F.lit(1)).alias("n_refs"),
        F.countDistinct("__src_host").alias("n_hosts"),
        F.sum(F.col("nofollow").cast("long")).alias("n_nofollow"),
    )
    # mode of non-empty follow anchors: count per (url, anchor), then
    # max_by over a (count, anchor) struct — highest count wins, ties
    # fall to the greatest anchor string (struct comparison is
    # lexicographic over fields, so this is total and deterministic).
    mode = (
        base.where((~F.col("nofollow")) & (F.col("anchor") != ""))
        .groupBy("__url", "anchor")
        .agg(F.count(F.lit(1)).alias("__n"))
        .groupBy(F.col("__url").alias(url_col))
        .agg(
            F.max_by(
                F.col("anchor"), F.struct(F.col("__n"), F.col("anchor"))
            ).alias("top_anchor")
        )
    )
    return stats.join(mode, url_col, "left").select(
        url_col,
        "n_refs",
        "n_hosts",
        "n_nofollow",
        F.coalesce(F.col("top_anchor"), F.lit("")).alias("top_anchor"),
    )
