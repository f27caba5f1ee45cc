"""Deterministic synthetic crawl world (FIXTURES.md §1-§3).

Generates a Common-Crawl-style ``pages`` table (url, warc_ts, html binary,
text, lang — the BASELINE.json input_hint shape), a ``seeds`` list, and a
``robots`` rules table for a miniature universe of Airbnb-like hosts whose
page bodies carry JSON in exactly the response shapes the reference
parses:

* search API pages — ``data.dora.exploreV3`` with ``paginationMetadata``
  and ``listings_ListingsGrid_Explore`` sections
  (/root/reference/deepbnb/spiders/airbnb.py:149-175,241-270)
* landing pages — ``<script id="data-deferred-state">`` JSON with the
  ``StaysSearch:`` prefix quirk (airbnb.py:129-147)
* PDP pages — ``data.merlin.pdpSections`` with the five section ids
  (/root/reference/deepbnb/api/PdpPlatformSections.py:94-114)
* review pages — ``data.merlin.pdpReviews`` offset-paginated at limit 50,
  offset param omitted when 0 (/root/reference/deepbnb/api/PdpReviews.py:44-73)
* robots.txt per host (ROBOTSTXT_OBEY, settings.py.dist:45)

Everything derives from ``blake2b(seed, key)`` — no wall clock, no
global RNG — so regeneration is byte-stable. The ``text`` column is
``html_to_text(html)`` (the golden for the per-url byte-parity invariant).

Edge rows cover (FIXTURES.md §4): discountedPrice fallback, ``$X,XXX
total`` secondaryLine, null pricingQuote, null rateWithServiceFee,
monthly-price-heuristic drops, missing htmlDescription, multi-underscore
amenity ids, blacklisted property types, photo_count<2, non-ASCII names
(the bytes-repr regex quirk), robots-disallowed paths, hot-host skew, and
~1% fetch-miss URLs.
"""

from __future__ import annotations

import html as html_mod
import json
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from hashlib import blake2b
from urllib.parse import urlencode, urlunparse

import pandas as pd

from frontier_engine.html_text import html_to_text

EPOCH = datetime(2023, 1, 1, tzinfo=timezone.utc)

AMENITY_POOL = [
    # (raw id string, title, subtitle or None)  — id shape exercises the
    # `^([a-z0-9]+_)+([0-9]+)_` last-group regex (PdpPlatformSections.py:36-37)
    ("wifi_4_row", "Wifi", None),
    ("kitchen_8_row", "Kitchen", "Private kitchen"),
    ("washer_33_row", "Washer", None),
    ("dryer_34_row", "Dryer", "In building"),
    ("tv_58_row", "TV", "HDTV with Netflix"),
    ("pets_allowed_12_full", "Pets allowed", None),
    ("free_street_parking_55_x", "Free street parking", None),
    ("a2c_5_cool", "Air conditioning", "Central air"),
    ("hot_tub_25_spa", "Hot tub", None),
    ("ev_charger_97_lvl2", "EV charger", "Level 2"),
]

HOUSE_RULE_POOL = [
    "No smoking",
    "No parties or events",
    "No pets",
    "Check-in: After 3:00 PM",
    "Quiet hours",
]

PROPERTY_TYPES = [
    "Entire rental unit",
    "Entire home",
    "Private room in home",
    "Camper/RV",          # blacklisted (settings.py.dist:159)
    "Entire guest suite", # blacklisted
    "Boutique hotel room",
]

ROOM_TYPES = ["Entire home/apt", "Private room", "Hotel room"]
ROOM_TYPE_CATEGORIES = ["entire_home", "private_room", "hotel_room"]

REVIEW_LANGS = ["en", "en", "en", "es", "fr", "de"]
COMMENT_POOL = [
    "Great place, would stay again!",
    "Lovely host & cozy room — 10/10.",
    "Die Wohnung war sehr sauber.",
    "Un séjour magnifique près du centre.",
    "Too noisy at night, but clean.",
    "Perfect for business travel.",
]


def _h(seed: int, *key) -> int:
    """Stable 64-bit hash of (seed, key...)."""
    d = blake2b(repr((seed,) + key).encode(), digest_size=8).digest()
    return int.from_bytes(d, "big")


@dataclass(frozen=True)
class WorldSpec:
    """Parameters of a synthetic crawl world. All defaults are test-sized."""

    seed: int = 42
    n_hosts: int = 6
    listings_total: int = 120
    hot_host_frac: float = 0.4      # share of listings on host 0 (skew, X13)
    items_per_grid: int = 20        # ExploreSearch.py:175
    reviews_limit: int = 50         # PdpPlatformSections.py:161
    max_reviews: int = 120
    checkin: str | None = "2026-09-01"
    checkout: str | None = "2026-09-29"
    price_max: int | None = 9000    # >1000 → monthly heuristic active (airbnb.py:262); drops ~25% of nightly listings
    miss_every: int = 97            # ~1% of PDP urls absent from pages (fetch-miss)
    restricted_hosts: int = 2       # hosts whose robots disallow /api/v3/PdpReviews

    def host(self, i: int) -> str:
        return f"www.bnb{i}.example"

    def query(self, i: int) -> str:
        return f"City{i}, ST"

    def listings_of_host(self, i: int) -> list[str]:
        """Deterministic listing-id partition across hosts; host 0 is hot."""
        n_hot = int(self.listings_total * self.hot_host_frac)
        rest = self.listings_total - n_hot
        per = rest // (self.n_hosts - 1) if self.n_hosts > 1 else 0
        extra = rest - per * (self.n_hosts - 1)
        if i == 0:
            start, count = 0, n_hot
        else:
            start = n_hot + (i - 1) * per + min(i - 1, extra)
            count = per + (1 if (i - 1) < extra else 0)
        return [str(10_000_000 + k) for k in range(start, start + count)]


# --------------------------------------------------------------------------
# URL builders (shape from ApiBase.build_airbnb_url, ApiBase.py:20-25;
# compact JSON params from _put_json_param_strings, ApiBase.py:31-35 —
# here canonicalized with sort_keys for cross-side determinism)
# --------------------------------------------------------------------------

def build_url(host: str, path: str, query: dict | None = None) -> str:
    q = urlencode(query) if query is not None else None
    return urlunparse(["https", host, path, None, q, None])


def _jdump(obj) -> str:
    return json.dumps(obj, separators=(",", ":"), sort_keys=True)


def landing_url(spec: WorldSpec, i: int) -> str:
    # 's/City--ST/homes' path (airbnb.py:114-117)
    path = "s/" + spec.query(i).replace(", ", "--").replace(" ", "-") + "/homes"
    return build_url(spec.host(i), "/" + path)


def search_request_vars(spec: WorldSpec, i: int, items_offset: int | None) -> dict:
    req = {"itemsPerGrid": spec.items_per_grid, "query": spec.query(i)}
    if spec.checkin:
        req["checkin"] = spec.checkin
        req["checkout"] = spec.checkout
    if spec.price_max is not None:
        req["priceMax"] = spec.price_max
    if items_offset:
        req["itemsOffset"] = items_offset
    return req


def search_url(spec: WorldSpec, i: int, items_offset: int | None = None) -> str:
    query = {
        "operationName": "ExploreSearch",
        "locale": "en",
        "currency": "USD",
        "variables": _jdump({"request": search_request_vars(spec, i, items_offset)}),
    }
    return build_url(spec.host(i), "/api/v3/ExploreSearch", query)


def pdp_url(spec: WorldSpec, host_i: int, listing_id: str) -> str:
    query = {
        "operationName": "PdpPlatformSections",
        "locale": "en",
        "currency": "USD",
        "variables": _jdump({"request": {"id": listing_id}}),
    }
    return build_url(spec.host(host_i), "/api/v3/PdpPlatformSections", query)


def reviews_url(spec: WorldSpec, host_i: int, listing_id: str, offset: int = 0) -> str:
    req = {"limit": spec.reviews_limit, "listingId": listing_id}
    if offset:  # offset omitted when falsy — PdpReviews.py:68-69 quirk
        req["offset"] = offset
    query = {
        "operationName": "PdpReviews",
        "locale": "en",
        "currency": "USD",
        "variables": _jdump({"request": req}),
    }
    return build_url(spec.host(host_i), "/api/v3/PdpReviews", query)


def robots_url(spec: WorldSpec, i: int) -> str:
    return build_url(spec.host(i), "/robots.txt")


# --------------------------------------------------------------------------
# Listing synthesis — search-phase JSON (shape: airbnb.py:198-233,241-270)
# --------------------------------------------------------------------------

def listing_score(spec: WorldSpec, listing_id: str) -> float:
    """Deterministic [0,100) priority input (FIXTURES.md §2)."""
    return (_h(spec.seed, "score", listing_id) % 10_000) / 100.0


def _mk_listing(spec: WorldSpec, host_i: int, idx: int, lid: str) -> dict:
    s = spec.seed
    name = f"Listing {lid} in {spec.query(host_i)}"
    if idx % 10 == 6:
        name = f"Café stay — listing {lid} ☕"  # non-ASCII (F6/F7 quirk)
    pic_count = 1 if idx % 17 == 9 else 2 + _h(s, "pic", lid) % 10
    n_reviews = _h(s, "nrev", lid) % (spec.max_reviews + 1)
    return {
        "id": lid,
        "avgRating": round(3.0 + (_h(s, "avg", lid) % 200) / 100.0, 2),
        "bathrooms": (_h(s, "bath", lid) % 6) / 2.0 + 0.5,
        "bedrooms": _h(s, "bed", lid) % 5,
        "beds": 1 + _h(s, "beds", lid) % 6,
        "isBusinessTravelReady": _h(s, "btr", lid) % 4 == 0,
        "city": f"City{host_i}",
        "user": {"id": 5_000_000 + _h(s, "host", lid) % 100_000},
        "lat": round(30.0 + (_h(s, "lat", lid) % 100_000) / 10_000.0, 4),
        "lng": round(-120.0 + (_h(s, "lng", lid) % 100_000) / 10_000.0, 4),
        "name": name,
        "neighborhoodOverview": (
            None if idx % 8 == 5 else f"A quiet neighborhood near the center of City{host_i}."
        ),
        "personCapacity": 1 + _h(s, "cap", lid) % 8,
        "pictureCount": pic_count,
        "contextualPictures": [
            {"picture": f"https://pics.example/{lid}/{k}.jpg"} for k in range(min(pic_count, 3))
        ],
        "reviewsCount": n_reviews,
        "roomAndPropertyType": PROPERTY_TYPES[_h(s, "pt", lid) % len(PROPERTY_TYPES)],
        "roomType": ROOM_TYPES[_h(s, "rt", lid) % len(ROOM_TYPES)],
        "roomTypeCategory": ROOM_TYPE_CATEGORIES[_h(s, "rt", lid) % len(ROOM_TYPES)],
        "starRating": (_h(s, "star", lid) % 11) / 2.0,
    }


def _mk_pricing(spec: WorldSpec, idx: int, lid: str) -> dict | None:
    """pricingQuote in the shapes of airbnb.py:250-265,291-325."""
    s = spec.seed
    if idx % 11 == 7:
        return None  # null pricingQuote (airbnb.py:202 `or {}` path)
    nightly = 40 + _h(s, "rate", lid) % 400
    qualifier = "month" if idx % 6 == 1 else "night"
    amount = nightly * 28 if qualifier == "month" else nightly
    price_str = f"${amount:,}"
    primary = {"qualifier": qualifier}
    if idx % 7 == 3:
        primary["discountedPrice"] = price_str  # P5 fallback (airbnb.py:291-293)
    else:
        primary["price"] = price_str
    total = amount if qualifier == "month" else nightly * 28
    secondary = {"price": f"${total:,} total"} if idx % 5 == 2 else None
    rwsf = None if idx % 13 == 5 else {"amount": amount}  # airbnb.py:253-255
    return {
        "monthlyPriceFactor": round(0.7 + (_h(s, "mpf", lid) % 30) / 100.0, 2),
        "weeklyPriceFactor": round(0.8 + (_h(s, "wpf", lid) % 20) / 100.0, 2),
        "rateWithServiceFee": rwsf,
        "structuredStayDisplayPrice": {"primaryLine": primary, "secondaryLine": secondary},
    }


def geography(spec: WorldSpec, host_i: int) -> dict:
    return {
        "city": f"City{host_i}",
        "state": "ST",
        "province": None,
        "country": "United States",
        "placeId": f"place-{host_i:04d}",
    }


def search_response_body(spec: WorldSpec, host_i: int, page: int) -> str:
    lids = spec.listings_of_host(host_i)
    per = spec.items_per_grid
    page_ids = lids[page * per : (page + 1) * per]
    items = []
    for j, lid in enumerate(page_ids):
        idx = page * per + j
        items.append(
            {"listing": _mk_listing(spec, host_i, idx, lid), "pricingQuote": _mk_pricing(spec, idx, lid)}
        )
    has_next = (page + 1) * per < len(lids)
    body = {
        "data": {
            "dora": {
                "exploreV3": {
                    "metadata": {
                        "paginationMetadata": {
                            "hasNextPage": has_next,
                            "itemsOffset": (page + 1) * per,
                            "searchSessionId": f"sess-{host_i}-{page}",
                        },
                        "geography": geography(spec, host_i),
                    },
                    "sections": [
                        {"sectionComponentType": "listings_ListingsGrid_Explore", "items": items}
                    ],
                }
            }
        }
    }
    return _jdump(body)


# --------------------------------------------------------------------------
# PDP synthesis (shape: PdpPlatformSections.py:94-177)
# --------------------------------------------------------------------------

def _amenity_groups(spec: WorldSpec, idx: int, lid: str) -> list[dict]:
    s = spec.seed
    n = 3 + _h(s, "nam", lid) % (len(AMENITY_POOL) - 3)
    chosen = [AMENITY_POOL[(_h(s, "am", lid, k)) % len(AMENITY_POOL)] for k in range(n)]
    # dedupe preserving order
    seen, pool = set(), []
    for a in chosen:
        if a[0] not in seen:
            seen.add(a[0])
            pool.append(a)
    half = max(1, len(pool) // 2)
    groups = [
        {
            "title": "Basics",
            "amenities": [
                {"id": a[0], "title": a[1], "subtitle": a[2], "available": (_h(s, "av", lid, a[0]) % 5) != 0}
                for a in pool[:half]
            ],
        },
        {
            "title": "Guest access",
            "amenities": [
                {"id": a[0], "title": a[1], "subtitle": a[2], "available": (_h(s, "av", lid, a[0]) % 5) != 0}
                for a in pool[half:]
            ],
        },
    ]
    return [g for g in groups if g["amenities"]]


def _description_html(spec: WorldSpec, idx: int, lid: str) -> str | None:
    if idx % 9 == 4:
        return None  # missing htmlDescription → null description (PdpPlatformSections.py:132-134)
    return (
        f"<b>Welcome to listing {lid}!</b><br/>Enjoy cafés &amp; parks "
        f"<i>nearby</i> &#8212; <span>sleeps {1 + _h(spec.seed, 'cap', lid) % 8}</span>."
        "<!-- internal note --><p>No smoking &lt;indoors&gt;.</p>"
    )


def pdp_response_body(spec: WorldSpec, host_i: int, idx: int, lid: str) -> str:
    s = spec.seed
    rules = [
        {"title": HOUSE_RULE_POOL[k]}
        for k in range(len(HOUSE_RULE_POOL))
        if _h(s, "rule", lid, k) % 3 != 0
    ]
    desc = _description_html(spec, idx, lid)
    transit_html = (
        None
        if idx % 6 == 2
        else f"Bus &amp; rail within <b>5 min</b> of listing {lid}."
    )
    interaction_html = (
        None if idx % 8 == 3 else f"I greet guests <i>personally</i> &mdash; listing {lid}."
    )
    location_details = [{"title": "Neighborhood", "content": {"htmlText": "Lively &amp; walkable."}}]
    if transit_html is not None:
        location_details.append({"title": "Getting around", "content": {"htmlText": transit_html}})
    host_infos = [{"title": "Languages", "html": {"htmlText": "English, Français"}}]
    if interaction_html is not None:
        host_infos.append({"title": "During your stay", "html": {"htmlText": interaction_html}})
    sections = [
        {"sectionId": "AMENITIES_DEFAULT", "section": {"seeAllAmenitiesGroups": _amenity_groups(spec, idx, lid)}},
        {
            "sectionId": "DESCRIPTION_DEFAULT",
            "section": {"htmlDescription": ({"htmlText": desc} if desc is not None else None)},
        },
        {"sectionId": "HOST_PROFILE_DEFAULT", "section": {"hostInfos": host_infos}},
        {"sectionId": "LOCATION_DEFAULT", "section": {"seeAllLocationDetails": location_details}},
        {
            "sectionId": "POLICIES_DEFAULT",
            "section": {
                "additionalHouseRules": (None if idx % 4 == 1 else f"Quiet hours after 10pm for {lid}."),
                "houseRules": rules,
                "listingExpectations": [
                    {"title": "Stairs", "subtitle": "3rd floor walk-up"},
                    {"title": "Parking", "subtitle": None},
                ],
            },
        },
    ]
    body = {
        "data": {
            "merlin": {
                "pdpSections": {
                    "id": lid,
                    "sections": sections,
                    "metadata": {
                        "loggingContext": {
                            "eventDataLogging": {
                                "accuracyRating": (_h(s, "r1", lid) % 21) / 4.0,
                                "checkinRating": (_h(s, "r2", lid) % 21) / 4.0,
                                "cleanlinessRating": (_h(s, "r3", lid) % 21) / 4.0,
                                "communicationRating": (_h(s, "r4", lid) % 21) / 4.0,
                                "locationRating": (_h(s, "r5", lid) % 21) / 4.0,
                                "valueRating": (_h(s, "r6", lid) % 21) / 4.0,
                                "guestSatisfactionOverall": (_h(s, "r7", lid) % 21) / 4.0,
                            }
                        },
                        "bookingPrefetchData": {"isHotelRatePlanEnabled": _h(s, "hot", lid) % 10 == 0},
                    },
                }
            }
        }
    }
    return _jdump(body)


def reviews_response_body(spec: WorldSpec, lid: str, offset: int, n_total: int) -> str:
    s = spec.seed
    limit = spec.reviews_limit
    batch = []
    for k in range(offset, min(offset + limit, n_total)):
        batch.append(
            {
                "comments": COMMENT_POOL[_h(s, "rc", lid, k) % len(COMMENT_POOL)],
                "createdAt": (EPOCH + timedelta(days=_h(s, "rd", lid, k) % 900)).strftime(
                    "%Y-%m-%dT%H:%M:%SZ"
                ),
                "language": REVIEW_LANGS[_h(s, "rl", lid, k) % len(REVIEW_LANGS)],
                "rating": 1 + _h(s, "rr", lid, k) % 5,
                "response": (None if _h(s, "rp", lid, k) % 3 else "Thanks for staying!"),
            }
        )
    body = {
        "data": {
            "merlin": {
                "pdpReviews": {"metadata": {"reviewsCount": n_total}, "reviews": batch}
            }
        }
    }
    return _jdump(body)


def explore_tabs_url(spec: WorldSpec, host_i: int) -> str:
    return f"https://{spec.host(host_i)}/api/v2/explore_tabs?version=1"


def explore_tabs_body(spec: WorldSpec, host_i: int) -> str:
    """Legacy explore-tabs metadata page (the shape `_get_neighborhoods`
    reads, airbnb.py:177-196): listings_count gates P20/A3; one
    neighborhoods filter section among decoys. Host 0 (the hot host)
    clears the 300-listing gate; small hosts don't."""
    s = spec.seed
    n_listings = len(spec.listings_of_host(host_i)) * 10
    items = []
    for k in range(3):
        items.append(
            {
                "title": f"Neighborhood {host_i}-{k}",
                "params": [
                    {"key": "place_id", "value": f"pl-{host_i}-{k}"},
                    {"key": "neighborhood_ids", "value": str(100 * host_i + k)},
                    {"key": "neighborhood_ids", "value": "999"},  # break-on-first quirk
                ],
            }
        )
    body = {
        "explore_tabs": [
            {
                "home_tab_metadata": {
                    "listings_count": n_listings,
                    "filters": {
                        "sections": [
                            {"filter_section_id": "price_range", "items": []},
                            {"filter_section_id": "neighborhoods", "items": items},
                        ]
                    },
                }
            }
        ]
    }
    return _jdump(body)


def robots_body(spec: WorldSpec, host_i: int) -> str:
    lines = ["User-agent: *"]
    if host_i < spec.restricted_hosts and host_i > 0:
        lines.append("Disallow: /api/v3/PdpReviews")
    lines.append("Disallow: /private/")
    delay = 5 if host_i % 3 == 0 else 10
    lines.append(f"Crawl-delay: {delay}")
    return "\n".join(lines) + "\n"


# --------------------------------------------------------------------------
# Page assembly → the input_hint table (url, warc_ts, html, text, lang)
# --------------------------------------------------------------------------

def _wrap_pre(body_json: str) -> str:
    """JSON API responses are served as HTML with a <pre> wrapper, which is
    what the reference unwraps via xpath 'body/pre/text()' (airbnb.py:152)."""
    return "<html><body><pre>" + html_mod.escape(body_json) + "</pre></body></html>"


def landing_html(spec: WorldSpec, host_i: int) -> str:
    """Landing page with the data-deferred-state script (airbnb.py:133-137),
    including the `StaysSearch:` string-wrapped first element quirk."""
    inner = {
        "niobeMinimalClientData": [
            [
                "StaysSearch:" + _jdump({"requestId": f"req-{host_i}"}),
                {
                    "data": {
                        "presentation": {
                            "explore": {
                                "sections": {
                                    "sectionIndependentData": {
                                        "staysSearch": {
                                            "loggingMetadata": {"remarketingLoggingData": {"hostId": host_i}},
                                            "searchResults": [],
                                        }
                                    }
                                }
                            }
                        }
                    }
                },
            ]
        ]
    }
    return (
        "<html><head><title>Search "
        + html_mod.escape(spec.query(host_i))
        + '</title></head><body><div id="root">Loading…</div>'
        + '<script id="data-deferred-state">'
        + _jdump(inner)
        + "</script></body></html>"
    )


def _page_row(spec: WorldSpec, url: str, html: str, lang: str = "en") -> dict:
    ts = EPOCH + timedelta(seconds=_h(spec.seed, "ts", url) % 31_536_000)
    return {
        "url": url,
        "warc_ts": ts.replace(tzinfo=None),
        "html": html.encode("utf-8"),
        "text": html_to_text(html),
        "lang": lang,
    }


def generate_world(spec: WorldSpec = WorldSpec()) -> dict[str, pd.DataFrame]:
    """Build the full world. Returns dict of pandas DataFrames:
    ``pages``, ``seeds``, ``robots`` (+ ``missing`` — urls deliberately
    absent from pages)."""
    pages: list[dict] = []
    missing: list[str] = []
    seeds: list[dict] = []
    robots_rows: list[dict] = []
    miss_counter = 0

    for i in range(spec.n_hosts):
        host = spec.host(i)
        # robots
        pages.append(_page_row(spec, robots_url(spec, i), "<pre>" + robots_body(spec, i) + "</pre>"))
        dis = ["/private/"]
        if 0 < i < spec.restricted_hosts:
            dis = ["/api/v3/PdpReviews", "/private/"]
        robots_rows.append(
            {
                "host": host,
                "disallow_prefixes": dis,
                "allow_prefixes": [],
                "crawl_delay_s": 5.0 if i % 3 == 0 else 10.0,
                "max_concurrency": 10,
            }
        )
        # explore-tabs metadata page (P20/A3 input; never crawled — not
        # linked from any page, present only in the stored-pages table)
        pages.append(
            _page_row(spec, explore_tabs_url(spec, i), _wrap_pre(explore_tabs_body(spec, i)))
        )
        # landing
        lurl = landing_url(spec, i)
        pages.append(_page_row(spec, lurl, landing_html(spec, i)))
        seeds.append({"url": lurl, "host": host, "depth": 0})
        # search pages
        lids = spec.listings_of_host(i)
        n_pages = max(1, -(-len(lids) // spec.items_per_grid))
        for p in range(n_pages):
            surl = search_url(spec, i, items_offset=(p * spec.items_per_grid) or None)
            pages.append(_page_row(spec, surl, _wrap_pre(search_response_body(spec, i, p))))
        # pdp + reviews pages
        for idx, lid in enumerate(lids):
            purl = pdp_url(spec, i, lid)
            miss_counter += 1
            if spec.miss_every and miss_counter % spec.miss_every == 0:
                missing.append(purl)  # fetch-miss path: discovered but absent
            else:
                pages.append(_page_row(spec, purl, _wrap_pre(pdp_response_body(spec, i, idx, lid))))
            n_total = _h(spec.seed, "nrev", lid) % (spec.max_reviews + 1)
            offsets = [0] + list(range(spec.reviews_limit, n_total, spec.reviews_limit))
            for off in offsets:
                rurl = reviews_url(spec, i, lid, off)
                pages.append(
                    _page_row(spec, rurl, _wrap_pre(reviews_response_body(spec, lid, off, n_total)))
                )

    return {
        "pages": pd.DataFrame(pages),
        "seeds": pd.DataFrame(seeds),
        "robots": pd.DataFrame(robots_rows),
        "missing": pd.DataFrame({"url": missing}),
    }


def write_world(spec: WorldSpec, out_dir: str) -> dict[str, str]:
    """Write the world as parquet; returns table→path map."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    frames = generate_world(spec)
    paths = {}
    for name, df in frames.items():
        # Spark's parquet reader rejects TIMESTAMP(NANOS) — write micros
        for col in df.columns:
            if str(df[col].dtype).startswith("datetime64"):
                df[col] = df[col].astype("datetime64[us]")
        path = os.path.join(out_dir, f"{name}.parquet")
        df.to_parquet(path, index=False)
        paths[name] = path
    return paths
