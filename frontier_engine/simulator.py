"""Reference-discipline crawl simulator (SURVEY §5.4 — test oracle only).

A single-threaded, deterministic implementation of the scheduling
discipline the reference configures in its framework: priority queue with
LIFO tie-break (DFO), fingerprint dedup at enqueue, robots filtering, and
per-host politeness budgets (settings.py.dist:45,57-59). Run on a fixture
world's pages, it produces the golden ``expected_order`` (round, host,
url, rank) and ``expected_seen`` sets that the Spark engine's round
batches must equal exactly (north rule: "matching the reference's crawl
ordering and URL-seen set under the same seed list + politeness budget").

Deliberately boring Python: dicts, lists, ``json.loads`` — an independent
execution path from the DataFrame engine. Shared with the engine are only
the *pure definitional* helpers (URL canonicalization, the budget formula,
listing-score hash, robots grammar) — the discipline under test
(ordering, dedup, politeness, fan-out) is implemented twice.

Fan-out topology (SURVEY §3.1): landing → search page 0 → {next page,
PDPs} → PDP → reviews offset 0 → reviews offsets limit..total.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from frontier_engine.canon import canonicalize, host_of
from frontier_engine.config import EngineConfig
from frontier_engine.fixtures import WorldSpec, pdp_url, reviews_url, search_url
from frontier_engine.hashing import listing_score_py
from frontier_engine.parse import CrawlArgs
from frontier_engine.robots import parse_robots_txt


@dataclass
class SimResult:
    batches: list[tuple]  # (round, host, url, rank)
    seen: set[str]  # canon urls ever enqueued
    fetched: list[str]
    missing: list[str]
    blocked: list[str]


def _page_type(url: str) -> str:
    if "/api/v3/ExploreSearch" in url:
        return "search"
    if "/api/v3/PdpPlatformSections" in url:
        return "pdp"
    if "/api/v3/PdpReviews" in url:
        return "reviews"
    if url.endswith("/robots.txt"):
        return "robots"
    return "landing"


def _path(url: str) -> str:
    rest = url.split("://", 1)[-1]
    slash = rest.find("/")
    return rest[slash:] if slash >= 0 else "/"


def _host_index(spec: WorldSpec, host: str) -> int:
    return int(host.replace("www.bnb", "").split(".")[0])


def _parse_candidates(
    spec: WorldSpec, args: CrawlArgs, url: str, body: str
) -> list[tuple[int, str, str, float]]:
    """(depth, parent_url, url, listing_score) fan-out of one fetched page."""
    kind = _page_type(url)
    host = host_of(url)
    hi = _host_index(spec, host)
    out = []
    if kind == "landing":
        if 'id="data-deferred-state"' in body:
            out.append((1, url, search_url(spec, hi), 0.0))
    elif kind == "search":
        data = json.loads(body)
        explore = data["data"]["dora"]["exploreV3"]
        pag = explore["metadata"]["paginationMetadata"]
        if pag["hasNextPage"]:
            out.append((1, url, search_url(spec, hi, pag["itemsOffset"]), 0.0))
        for section in explore["sections"]:
            if section["sectionComponentType"] != "listings_ListingsGrid_Explore":
                continue
            for item in section["items"]:
                pricing = item["pricingQuote"]
                if pricing and args.price_max and args.price_max > 1000:
                    rwsf = pricing["rateWithServiceFee"]
                    amt = rwsf["amount"] if rwsf else 0
                    q = pricing["structuredStayDisplayPrice"]["primaryLine"]["qualifier"]
                    if q != "month" and (amt or 0) * 28 > args.price_max:
                        continue  # F8 heuristic (airbnb.py:259-265)
                lid = item["listing"]["id"]
                out.append((2, url, pdp_url(spec, hi, lid), listing_score_py(lid)))
    elif kind == "pdp":
        data = json.loads(body)
        lid = data["data"]["merlin"]["pdpSections"]["id"]
        out.append((3, url, reviews_url(spec, hi, lid, 0), listing_score_py(lid)))
    elif kind == "reviews":
        data = json.loads(body)
        pr = data["data"]["merlin"]["pdpReviews"]
        total = int(pr["metadata"]["reviewsCount"])
        # offset of THIS page, from its url (variables JSON)
        import urllib.parse as up

        qs = up.parse_qs(up.urlsplit(url).query)
        req = json.loads(qs["variables"][0])["request"]
        offset = req.get("offset", 0)
        limit = req["limit"]
        lid = req["listingId"]
        if offset == 0:
            for off in range(limit, total, limit):
                out.append((3, url, reviews_url(spec, hi, lid, off), listing_score_py(lid)))
    return out


def robots_rules_for_world(pages: dict[str, str], cfg: EngineConfig) -> dict[str, dict]:
    """Per-host robots rules for a {url: body} world, selecting UA
    groups with cfg.user_agent — exactly as the engine's
    robots.rules_from_pages does, so a world with UA-specific groups
    cannot diverge between simulator and engine."""
    rules: dict[str, dict] = {}
    for url, body in pages.items():
        if url.endswith("/robots.txt"):
            rules[host_of(url)] = parse_robots_txt(
                body, cfg.download_delay_s, cfg.concurrent_per_host,
                user_agent=cfg.user_agent,
            )
    return rules


def simulate(
    spec: WorldSpec,
    pages: dict[str, str],
    cfg: EngineConfig = EngineConfig(),
    args: CrawlArgs | None = None,
    max_rounds: int = 100,
) -> SimResult:
    """Run the reference discipline over a {url: text_or_html} world."""
    args = args or CrawlArgs(spec.checkin, spec.checkout, spec.price_max)

    # robots rules per host (framework pre-fetch)
    rules = robots_rules_for_world(pages, cfg)

    def allowed(url: str) -> bool:
        if not cfg.robots_obey:
            return True
        r = rules.get(host_of(url))
        if not r:
            return True
        from frontier_engine.robots import match_path

        return match_path([(d["pattern"], d["allow"]) for d in r["rules"]], _path(url))

    seen: set[str] = set()
    pending: list[dict] = []  # {url, host, depth, score, seq, priority}
    seq = 0
    blocked: list[str] = []

    def enqueue(cands: list[tuple[int, str, str, float]]):
        nonlocal seq
        # within-round dedupe: keep first by (depth, parent_url, url)
        best: dict[str, tuple] = {}
        for depth, parent, url, score in cands:
            key = canonicalize(url)
            if key not in best or (depth, parent, url) < best[key][:3]:
                best[key] = (depth, parent, url, score)
        new = sorted(best.values())  # (depth, parent_url, url) order → seq
        for depth, parent, url, score in new:
            key = canonicalize(url)
            if key in seen:
                continue
            seen.add(key)
            seq += 1
            if not allowed(url):
                blocked.append(url)
                continue
            pending.append(
                {
                    "url": url,
                    "host": host_of(url),
                    "depth": depth,
                    "score": score,
                    "seq": seq,
                    "priority": depth * 100.0 + score,
                }
            )

    enqueue([(0, "", u, 0.0) for u in (r for r in _seed_urls(spec))])

    batches: list[tuple] = []
    fetched: list[str] = []
    missing: list[str] = []

    for rnd in range(1, max_rounds + 1):
        if not pending:
            break
        # per-host budget rank: (priority desc, seq desc)
        by_host: dict[str, list[dict]] = {}
        for row in pending:
            by_host.setdefault(row["host"], []).append(row)
        batch: list[dict] = []
        for host, rows in by_host.items():
            r = rules.get(host)
            budget = cfg.host_budget(
                r["crawl_delay_s"] if r else None, r["max_concurrency"] if r else None
            )
            rows.sort(key=lambda x: (-x["priority"], -x["seq"]))
            take = rows[:budget]
            for rank, row in enumerate(take, start=1):
                batches.append((rnd, host, row["url"], rank))
            batch.extend(take)
        taken_urls = {b["url"] for b in batch}
        pending = [p for p in pending if p["url"] not in taken_urls]

        round_cands: list[tuple] = []
        for row in batch:
            body = pages.get(row["url"])
            if body is None:
                missing.append(row["url"])
                continue
            fetched.append(row["url"])
            round_cands.extend(_parse_candidates(spec, args, row["url"], body))
        enqueue(round_cands)

    return SimResult(batches=batches, seen=seen, fetched=fetched, missing=missing, blocked=blocked)


def _seed_urls(spec: WorldSpec) -> list[str]:
    from frontier_engine.fixtures import landing_url

    return [landing_url(spec, i) for i in range(spec.n_hosts)]


def pages_dict(world: dict) -> dict[str, str]:
    """{url: body} view of a generated world — text for API pages, raw html
    for landing pages (the simulator reads the script tag from html)."""
    out = {}
    for _, row in world["pages"].iterrows():
        if _page_type(row["url"]) == "landing":
            out[row["url"]] = row["html"].decode("utf-8")
        else:
            out[row["url"]] = row["text"]
    return out
