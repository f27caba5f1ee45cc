"""Crawl-trap / URL-explosion guards (r5).

A 10^10-URL frontier meets URL families the reference (a single-site,
bounded-API crawler) never sees: calendar traps, session-id explosions,
infinite pagination — one host emitting an unbounded family of URLs
that differ only in a parameter. The web-scale defense used here
(IRLbot's budget-per-branch discipline, Lee et al. 2009 "IRLbot:
Scaling to 6 Billion Pages and Beyond"; BUbiNG's per-host budgets) is
an admission CAP, not a blocklist: a URL family is admitted up to a budget in
priority order, so organic parameterized families (e.g. ``/listing/D``)
pass untouched while a 10^7-URL calendar family is cut at the cap.

Spark-first shapes:

* :func:`url_template` — the family key: scheme+host stripped, long hex
  runs → ``H``, digit runs → ``D``, query values → ``=V``. A chain of
  four JVM ``regexp_replace`` calls (whole-stage codegen, no Python);
  the identical chain is ANSI-SQL-expressible, which is what makes the
  cap oracle-checkable in DuckDB.
* :func:`cap_per_template` — admit at most *cap* URLs per
  (host, template) in a deterministic priority order, two-phase salted
  (``schedule.top_k_per_group``, shared with ``rank_batch``): phase 1
  ranks within (host, template, salt) so a 10^7-URL trap family spreads
  over ``n_salts`` tasks and never lands in one window partition; phase
  2 re-ranks the ≤ n_salts × cap survivors. The admitted set is exactly
  the global per-family top-*cap* (the true top-cap of a family is a
  subset of the union of its per-salt top-caps).
* :func:`template_report` — per-family (n_urls, n_admitted, n_blocked)
  from ONE map-side-combined count agg; the monitoring face (what a
  crawl operator alerts on). Keys are (host, template) strings — the
  template is a short bounded shape key (unlike n-gram text, which
  ships as hashes elsewhere), so fixed-width hashing buys nothing here.

The reference has no analog (cited for the contrast, not ported from:
its frontier is Scrapy's in-process queue, /root/reference/deepbnb/
airbnb.py:149-175, bounded by DEPTH_LIMIT alone).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from frontier_engine.schedule import top_k_per_group

# scheme://authority prefix (what url_template strips before shaping)
_AUTHORITY_RE = r"^[a-z][a-z0-9+.\-]*://[^/?#]*"


def url_template(url: Column) -> Column:
    """Shape key of *url*'s path+query: hex runs (>=8, uuid/session ids)
    -> ``H``, digit runs -> ``D``, query values -> ``=V``. Hex collapses
    before digits so an 8+-char hex run becomes one ``H``, not a D/text
    alternation. Fragments shape like query tails (URLs carrying them
    are already canonicalized away upstream, canon.canonicalize)."""
    pq = F.regexp_replace(url, _AUTHORITY_RE, "")
    t = F.regexp_replace(pq, r"[0-9a-fA-F]{8,}", "H")
    t = F.regexp_replace(t, r"[0-9]+", "D")
    return F.regexp_replace(t, r"=[^&#]*", "=V")


def cap_per_template(
    candidates: DataFrame,
    cap: int,
    order_cols: list[str],
    url_col: str = "url",
    host_col: str = "host",
    n_salts: int = 8,
) -> DataFrame:
    """Admit at most *cap* URLs per (host, url_template) family, keeping
    the lowest (*order_cols*, url) — deterministic; *url_col* breaks
    ties. Returns *candidates* filtered (original columns preserved).

    Skew shape: the whole point is that ONE family may hold 10^7 rows,
    so a naive window over (host, template) is a single-task straggler
    by construction. Phase 1 pre-cuts within (host, template, salt) —
    ``salt = pmod(xxhash64(url), n_salts)`` — bounding every phase-2
    partition at n_salts × cap rows regardless of family size."""
    if cap < 1:
        raise ValueError("cap must be >= 1")
    tpl = "__tpl"
    df = candidates.withColumn(tpl, url_template(F.col(url_col)))
    order = [F.col(c) for c in order_cols] + [F.col(url_col)]
    return top_k_per_group(
        df, [host_col, tpl], order, F.lit(cap), "__rn",
        salt_hash=F.xxhash64(F.col(url_col)), fan_out=n_salts,
    ).drop("__rn", tpl)


def template_report(
    candidates: DataFrame,
    cap: int,
    url_col: str = "url",
    host_col: str = "host",
) -> DataFrame:
    """Per-family admission report: (host, template, n_urls, n_admitted,
    n_blocked). One count agg (map-side combined); what
    :func:`cap_per_template` admits/blocks without running it."""
    return (
        candidates.withColumn("template", url_template(F.col(url_col)))
        .groupBy(host_col, "template")
        .agg(F.count("*").cast("long").alias("n_urls"))
        .select(
            host_col,
            "template",
            "n_urls",
            F.least(F.col("n_urls"), F.lit(cap)).cast("long").alias("n_admitted"),
            F.greatest(F.col("n_urls") - F.lit(cap), F.lit(0)).cast("long").alias("n_blocked"),
        )
    )
