"""Vectorized parse/extraction of the reference's page types (SURVEY §2.2).

Everything here is Catalyst expressions (from_json / higher-order
functions / regexp) except the one genuinely-Python piece: lxml-semantics
HTML→text (P9, ``html_text.html_to_text_udf``). URL (re)construction is
JVM-side too (``format_string`` + ``url_encode`` + ``to_json``), with the
JSON ``variables`` param canonicalized as compact, key-sorted JSON — the
struct schemas below declare fields alphabetically and ``to_json`` drops
nulls, so Spark output byte-matches the fixture generator's
``json.dumps(..., sort_keys=True, separators=(',',':'))``.

Reference citations (``/root/reference/...``):
* search parse: deepbnb/spiders/airbnb.py:149-175,198-233,241-270
* pricing scalar fns: airbnb.py:291-325
* landing parse: airbnb.py:129-147
* PDP parse: deepbnb/api/PdpPlatformSections.py:94-203
* reviews parse: deepbnb/api/PdpReviews.py:26-73
* URL building: deepbnb/api/ApiBase.py:20-35
* param parse-back (P19): deepbnb/api/ExploreSearch.py:32-56
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from frontier_engine.config import EngineConfig
from frontier_engine.html_text import html_to_text_udf

# --------------------------------------------------------------------------
# Response schemas (types per SURVEY §1.2, derived from model.py + items.py)
# --------------------------------------------------------------------------

PRICING_SCHEMA = T.StructType(
    [
        T.StructField("monthlyPriceFactor", T.DoubleType()),
        T.StructField("weeklyPriceFactor", T.DoubleType()),
        T.StructField(
            "rateWithServiceFee", T.StructType([T.StructField("amount", T.DoubleType())])
        ),
        T.StructField(
            "structuredStayDisplayPrice",
            T.StructType(
                [
                    T.StructField(
                        "primaryLine",
                        T.StructType(
                            [
                                T.StructField("price", T.StringType()),
                                T.StructField("discountedPrice", T.StringType()),
                                T.StructField("qualifier", T.StringType()),
                            ]
                        ),
                    ),
                    T.StructField(
                        "secondaryLine",
                        T.StructType([T.StructField("price", T.StringType())]),
                    ),
                ]
            ),
        ),
    ]
)

LISTING_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("avgRating", T.DoubleType()),
        T.StructField("bathrooms", T.DoubleType()),
        T.StructField("bedrooms", T.IntegerType()),
        T.StructField("beds", T.IntegerType()),
        T.StructField("isBusinessTravelReady", T.BooleanType()),
        T.StructField("city", T.StringType()),
        T.StructField("user", T.StructType([T.StructField("id", T.LongType())])),
        T.StructField("lat", T.DoubleType()),
        T.StructField("lng", T.DoubleType()),
        T.StructField("name", T.StringType()),
        T.StructField("neighborhoodOverview", T.StringType()),
        T.StructField("personCapacity", T.IntegerType()),
        T.StructField("pictureCount", T.IntegerType()),
        T.StructField(
            "contextualPictures",
            T.ArrayType(T.StructType([T.StructField("picture", T.StringType())])),
        ),
        T.StructField("reviewsCount", T.IntegerType()),
        T.StructField("roomAndPropertyType", T.StringType()),
        T.StructField("roomType", T.StringType()),
        T.StructField("roomTypeCategory", T.StringType()),
        T.StructField("starRating", T.DoubleType()),
    ]
)

GEOGRAPHY_SCHEMA = T.StructType(
    [
        T.StructField("city", T.StringType()),
        T.StructField("state", T.StringType()),
        T.StructField("province", T.StringType()),
        T.StructField("country", T.StringType()),
        T.StructField("placeId", T.StringType()),
    ]
)

SEARCH_SCHEMA = T.StructType(
    [
        T.StructField(
            "data",
            T.StructType(
                [
                    T.StructField(
                        "dora",
                        T.StructType(
                            [
                                T.StructField(
                                    "exploreV3",
                                    T.StructType(
                                        [
                                            T.StructField(
                                                "metadata",
                                                T.StructType(
                                                    [
                                                        T.StructField(
                                                            "paginationMetadata",
                                                            T.StructType(
                                                                [
                                                                    T.StructField("hasNextPage", T.BooleanType()),
                                                                    T.StructField("itemsOffset", T.IntegerType()),
                                                                    T.StructField("searchSessionId", T.StringType()),
                                                                ]
                                                            ),
                                                        ),
                                                        T.StructField("geography", GEOGRAPHY_SCHEMA),
                                                    ]
                                                ),
                                            ),
                                            T.StructField(
                                                "sections",
                                                T.ArrayType(
                                                    T.StructType(
                                                        [
                                                            T.StructField("sectionComponentType", T.StringType()),
                                                            T.StructField(
                                                                "items",
                                                                T.ArrayType(
                                                                    T.StructType(
                                                                        [
                                                                            T.StructField("listing", LISTING_SCHEMA),
                                                                            T.StructField("pricingQuote", PRICING_SCHEMA),
                                                                        ]
                                                                    )
                                                                ),
                                                            ),
                                                        ]
                                                    )
                                                ),
                                            ),
                                        ]
                                    ),
                                )
                            ]
                        ),
                    )
                ]
            ),
        )
    ]
)

_TITLED = T.StructType(
    [T.StructField("title", T.StringType()), T.StructField("subtitle", T.StringType())]
)

PDP_SECTION_SCHEMA = T.StructType(
    [
        T.StructField(
            "seeAllAmenitiesGroups",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("title", T.StringType()),
                        T.StructField(
                            "amenities",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField("id", T.StringType()),
                                        T.StructField("title", T.StringType()),
                                        T.StructField("subtitle", T.StringType()),
                                        T.StructField("available", T.BooleanType()),
                                    ]
                                )
                            ),
                        ),
                    ]
                )
            ),
        ),
        T.StructField(
            "htmlDescription", T.StructType([T.StructField("htmlText", T.StringType())])
        ),
        T.StructField(
            "hostInfos",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("title", T.StringType()),
                        T.StructField(
                            "html", T.StructType([T.StructField("htmlText", T.StringType())])
                        ),
                    ]
                )
            ),
        ),
        T.StructField(
            "seeAllLocationDetails",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("title", T.StringType()),
                        T.StructField(
                            "content", T.StructType([T.StructField("htmlText", T.StringType())])
                        ),
                    ]
                )
            ),
        ),
        T.StructField("additionalHouseRules", T.StringType()),
        T.StructField(
            "houseRules", T.ArrayType(T.StructType([T.StructField("title", T.StringType())]))
        ),
        T.StructField("listingExpectations", T.ArrayType(_TITLED)),
    ]
)

PDP_SCHEMA = T.StructType(
    [
        T.StructField(
            "data",
            T.StructType(
                [
                    T.StructField(
                        "merlin",
                        T.StructType(
                            [
                                T.StructField(
                                    "pdpSections",
                                    T.StructType(
                                        [
                                            T.StructField("id", T.StringType()),
                                            T.StructField(
                                                "sections",
                                                T.ArrayType(
                                                    T.StructType(
                                                        [
                                                            T.StructField("sectionId", T.StringType()),
                                                            T.StructField("section", PDP_SECTION_SCHEMA),
                                                        ]
                                                    )
                                                ),
                                            ),
                                            T.StructField(
                                                "metadata",
                                                T.StructType(
                                                    [
                                                        T.StructField(
                                                            "loggingContext",
                                                            T.StructType(
                                                                [
                                                                    T.StructField(
                                                                        "eventDataLogging",
                                                                        T.StructType(
                                                                            [
                                                                                T.StructField("accuracyRating", T.DoubleType()),
                                                                                T.StructField("checkinRating", T.DoubleType()),
                                                                                T.StructField("cleanlinessRating", T.DoubleType()),
                                                                                T.StructField("communicationRating", T.DoubleType()),
                                                                                T.StructField("locationRating", T.DoubleType()),
                                                                                T.StructField("valueRating", T.DoubleType()),
                                                                                T.StructField("guestSatisfactionOverall", T.DoubleType()),
                                                                            ]
                                                                        ),
                                                                    )
                                                                ]
                                                            ),
                                                        ),
                                                        T.StructField(
                                                            "bookingPrefetchData",
                                                            T.StructType(
                                                                [T.StructField("isHotelRatePlanEnabled", T.BooleanType())]
                                                            ),
                                                        ),
                                                    ]
                                                ),
                                            ),
                                        ]
                                    ),
                                )
                            ]
                        ),
                    )
                ]
            ),
        )
    ]
)

REVIEW_SCHEMA = T.StructType(
    [
        T.StructField("comments", T.StringType()),
        T.StructField("createdAt", T.StringType()),
        T.StructField("language", T.StringType()),
        T.StructField("rating", T.IntegerType()),
        T.StructField("response", T.StringType()),
    ]
)

REVIEWS_SCHEMA = T.StructType(
    [
        T.StructField(
            "data",
            T.StructType(
                [
                    T.StructField(
                        "merlin",
                        T.StructType(
                            [
                                T.StructField(
                                    "pdpReviews",
                                    T.StructType(
                                        [
                                            T.StructField(
                                                "metadata",
                                                T.StructType([T.StructField("reviewsCount", T.IntegerType())]),
                                            ),
                                            T.StructField("reviews", T.ArrayType(REVIEW_SCHEMA)),
                                        ]
                                    ),
                                )
                            ]
                        ),
                    )
                ]
            ),
        )
    ]
)

# `variables` request params — fields ALPHABETICAL so to_json == sorted dumps
SEARCH_REQUEST_SCHEMA = T.StructType(
    [
        T.StructField("checkin", T.StringType()),
        T.StructField("checkout", T.StringType()),
        T.StructField("itemsOffset", T.IntegerType()),
        T.StructField("itemsPerGrid", T.IntegerType()),
        T.StructField("priceMax", T.IntegerType()),
        T.StructField("query", T.StringType()),
    ]
)
SEARCH_VARIABLES_SCHEMA = T.StructType([T.StructField("request", SEARCH_REQUEST_SCHEMA)])

REVIEWS_REQUEST_SCHEMA = T.StructType(
    [
        T.StructField("limit", T.IntegerType()),
        T.StructField("listingId", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)
REVIEWS_VARIABLES_SCHEMA = T.StructType([T.StructField("request", REVIEWS_REQUEST_SCHEMA)])


# --------------------------------------------------------------------------
# URL expressions (ApiBase.build_airbnb_url / _put_json_param_strings parity)
# --------------------------------------------------------------------------

def _api_url(host: Column, api_path: str, op_name: str, variables_json: Column) -> Column:
    """https://{host}{api_path}?operationName=..&locale=en&currency=USD&variables=<enc>
    — param order matches the fixture/reference builder (urlencode of an
    insertion-ordered dict, ApiBase.py:20-25)."""
    return F.format_string(
        f"https://%s{api_path}?operationName={op_name}&locale=en&currency=USD&variables=%s",
        host,
        F.url_encode(variables_json),
    )


def search_url_expr(host: Column, request: Column) -> Column:
    return _api_url(host, "/api/v3/ExploreSearch", "ExploreSearch", F.to_json(F.struct(request.alias("request"))))


def pdp_url_expr(host: Column, listing_id: Column) -> Column:
    req = F.struct(listing_id.alias("id"))
    return _api_url(
        host, "/api/v3/PdpPlatformSections", "PdpPlatformSections", F.to_json(F.struct(req.alias("request")))
    )


def reviews_url_expr(host: Column, listing_id: Column, limit: Column, offset: Column) -> Column:
    """offset field nulled when 0 → dropped by to_json — reproduces the
    `if offset:` falsy-skip quirk (PdpReviews.py:68-69)."""
    req = F.struct(
        limit.cast("int").alias("limit"),
        listing_id.alias("listingId"),
        F.when(offset > 0, offset.cast("int")).alias("offset"),
    )
    return _api_url(host, "/api/v3/PdpReviews", "PdpReviews", F.to_json(F.struct(req.alias("request"))))


def search_request_of(url: Column) -> Column:
    raw = F.url_decode(F.parse_url(url, F.lit("QUERY"), F.lit("variables")))
    return F.from_json(raw, SEARCH_VARIABLES_SCHEMA)["request"]


def reviews_request_of(url: Column) -> Column:
    raw = F.url_decode(F.parse_url(url, F.lit("QUERY"), F.lit("variables")))
    return F.from_json(raw, REVIEWS_VARIABLES_SCHEMA)["request"]


# crawl-argument carrier — EngineConfig is politeness/pipeline config; the
# search arguments live here (airbnb.py:29-60 constructor args)
from dataclasses import dataclass  # noqa: E402


@dataclass(frozen=True)
class CrawlArgs:
    checkin: str | None = "2026-09-01"
    checkout: str | None = "2026-09-29"
    price_max: int | None = 1200
    price_min: int | None = None


def first_search_request(query: Column, args: CrawlArgs, cfg: EngineConfig) -> Column:
    """The request struct for a host's first search page, from crawl args
    (mirrors start_requests param assembly, airbnb.py:87-105). Null fields
    are dropped by to_json."""
    return F.struct(
        F.lit(args.checkin).cast("string").alias("checkin"),
        F.lit(args.checkout).cast("string").alias("checkout"),
        F.lit(None).cast("int").alias("itemsOffset"),
        F.lit(cfg.items_per_grid).cast("int").alias("itemsPerGrid"),
        F.lit(args.price_max).cast("int").alias("priceMax"),
        query.alias("query"),
    )


# --------------------------------------------------------------------------
# Scalar extraction expressions (P5-P8)
# --------------------------------------------------------------------------

def price_key_amount(primary: Column) -> Column:
    """P5 (airbnb.py:291-293): 'price' if present else 'discountedPrice'."""
    return F.coalesce(primary["price"], primary["discountedPrice"])


def price_rate_expr(pricing: Column) -> Column:
    """P6 (airbnb.py:295-301): int(price.lstrip('$').replace(',', '')).
    lstrip strips ALL leading '$' chars → regexp '^\\$+'."""
    amt = price_key_amount(pricing["structuredStayDisplayPrice"]["primaryLine"])
    cleaned = F.regexp_replace(F.regexp_replace(amt, r"^\$+", ""), ",", "")
    return F.when(pricing.isNotNull(), cleaned.cast("int"))


def rate_type_expr(pricing: Column) -> Column:
    """P7 (airbnb.py:303-308)."""
    return F.when(
        pricing.isNotNull(), pricing["structuredStayDisplayPrice"]["primaryLine"]["qualifier"]
    )


def total_price_expr(pricing: Column, has_checkin: bool) -> Column:
    """P8 (airbnb.py:310-325). re.match anchors at start. No checkin → null.
    Null pricing with checkin would KeyError in the reference — engine
    yields null instead (documented deviation; the reference path is
    unreachable without crashing)."""
    if not has_checkin:
        return F.lit(None).cast("int")
    ssdp = pricing["structuredStayDisplayPrice"]
    secondary = ssdp["secondaryLine"]
    primary_amt = price_key_amount(ssdp["primaryLine"])
    raw = F.when(
        secondary.isNotNull(), F.regexp_extract(secondary["price"], r"^\$([\w,]+) total", 1)
    ).otherwise(F.regexp_extract(primary_amt, r"^\$([\w,]+)", 1))
    return F.when(
        pricing.isNotNull(), F.nullif(F.regexp_replace(raw, ",", ""), F.lit("")).cast("int")
    )


def render_titles(arr: Column, sep: str = ": ", join: bool = True) -> Column:
    """P10 (PdpPlatformSections.py:184-192): '{title}{sep}{subtitle}' per
    element, subtitle skipped when falsy (None or '')."""
    rendered = F.transform(
        arr,
        lambda t: F.when(
            t["subtitle"].isNotNull() & (t["subtitle"] != ""), F.concat(t["title"], F.lit(sep), t["subtitle"])
        ).otherwise(t["title"]),
    )
    return F.array_join(rendered, "\n") if join else rendered


def amenity_ids_expr(avail: Column) -> Column:
    """P11 (PdpPlatformSections.py:36-37,194-198): last regex group of
    `^([a-z0-9]+_)+([0-9]+)_` as int."""
    return F.transform(
        avail, lambda a: F.regexp_extract(a["id"], r"^(?:[a-z0-9]+_)+([0-9]+)_", 1).cast("int")
    )


def find_section(sections: Column, section_id: str) -> Column:
    """PdpPlatformSections.py:105-109: `[s for s in sections if
    s['sectionId']==X][0]['section']` — FIRST match."""
    return F.try_element_at(F.filter(sections, lambda s: s["sectionId"] == F.lit(section_id)), F.lit(1))["section"]


def find_component_last(sections: Column, component_type: str) -> Column:
    """P3 (airbnb.py:327-330): `.pop()` — LAST match wins."""
    return F.try_element_at(
        F.filter(sections, lambda s: s["sectionComponentType"] == F.lit(component_type)), F.lit(-1)
    )


# --------------------------------------------------------------------------
# Page-type parsers. Input: fetched pages (url, host, depth, text, html …).
# Each returns (output_rows, new_candidates) DataFrames. Candidates carry
# (url, parent_url, depth, listing_score).
# --------------------------------------------------------------------------

def page_type_col(url: Column = None) -> Column:
    """Classify a URL into the engine's page types (crawl topology §3.1)."""
    u = url if url is not None else F.col("url")
    return (
        F.when(u.contains("/api/v3/ExploreSearch"), "search")
        .when(u.contains("/api/v3/PdpPlatformSections"), "pdp")
        .when(u.contains("/api/v3/PdpReviews"), "reviews")
        .when(u.endswith("/robots.txt"), "robots")
        .otherwise("landing")
    )


def _landing_pre(df: DataFrame) -> DataFrame:
    """Landing extraction stage: the heavy work (regexp over the full html
    bytes + deferred-state sniff) reduced to a 4-narrow-column frame —
    the unit ``parse_round`` persists so rows and candidates share ONE
    pass over the page bytes."""
    html_str = F.decode(F.col("html"), "UTF-8")
    script = F.regexp_extract(html_str, r'<script id="data-deferred-state">(.*?)</script>', 1)
    first_elem = F.get_json_object(script, "$.niobeMinimalClientData[0][0]")
    deferred_ok = F.regexp_replace(first_elem, "^StaysSearch:", "").startswith("{")
    query = F.regexp_replace(
        F.regexp_replace(F.regexp_extract(F.col("url"), r"/s/(.+)/homes", 1), "--", ", "), "-", " "
    )
    return df.select(
        F.col("url").alias("parent_url"),
        F.col("host"),
        query.alias("query"),
        deferred_ok.alias("deferred_ok"),
    )


def _landing_outputs(
    parsed: DataFrame, args: CrawlArgs, cfg: EngineConfig
) -> tuple[DataFrame, DataFrame]:
    out = parsed
    candidates = parsed.where(F.col("deferred_ok")).select(
        search_url_expr(F.col("host"), first_search_request(F.col("query"), args, cfg)).alias("url"),
        F.col("parent_url"),
        F.lit(1).alias("depth"),
        F.lit(0.0).alias("listing_score"),
    )
    return out, candidates


def parse_landing(df: DataFrame, args: CrawlArgs, cfg: EngineConfig) -> tuple[DataFrame, DataFrame]:
    """Landing page → first search URL (airbnb.py:129-147). The deferred-state
    script is unwrapped (P2): regexp script extraction + `^StaysSearch:`
    strip on element [0][0] — all JVM-side."""
    return _landing_outputs(_landing_pre(df), args, cfg)


def _search_pre(df: DataFrame) -> DataFrame:
    """Search extraction stage: ONE from_json tokenization per page,
    projected to the page-level fields every downstream output needs
    (see parse_pdp for why the two-step shape keeps it to one eval)."""
    parsed = df.select(
        "url", "host", F.from_json(F.col("text"), SEARCH_SCHEMA).alias("_r")
    )
    explore = F.col("_r")["data"]["dora"]["exploreV3"]
    return parsed.select(
        F.col("url").alias("page_url"),
        F.col("host"),
        explore["metadata"]["paginationMetadata"].alias("pagination"),
        explore["metadata"]["geography"].alias("geography"),
        explore["sections"].alias("sections"),
    )


def _search_outputs(
    base: DataFrame, args: CrawlArgs, cfg: EngineConfig
) -> tuple[DataFrame, DataFrame]:
    has_checkin = args.checkin is not None
    price_max = args.price_max

    # --- listings: explode matching sections then items (airbnb.py:241-270)
    items = base.select(
        "page_url",
        "host",
        "geography",
        F.explode(
            F.filter(
                F.col("sections"),
                lambda s: s["sectionComponentType"] == F.lit("listings_ListingsGrid_Explore"),
            )
        ).alias("section"),
    ).select(
        "page_url", "host", "geography", F.explode(F.col("section")["items"]).alias("item")
    )

    listing = F.col("item")["listing"]
    pricing = F.col("item")["pricingQuote"]
    qualifier = pricing["structuredStayDisplayPrice"]["primaryLine"]["qualifier"]
    rwsf_amt = F.coalesce(pricing["rateWithServiceFee"]["amount"], F.lit(0.0))

    # F8 monthly-price heuristic (airbnb.py:259-265): only when pricing
    # present and price_max > 1000
    if price_max is not None and price_max > 1000:
        keep = pricing.isNull() | ~(
            (qualifier != F.lit("month")) & ((rwsf_amt * 28) > F.lit(float(price_max)))
        )
        items = items.where(keep)

    # P4: the 24 cached fields (airbnb.py:204-233)
    results = items.select(
        F.col("page_url"),
        F.col("host"),
        F.col("geography"),
        listing["id"].alias("listing_id"),
        listing["avgRating"].alias("avg_rating"),
        listing["bathrooms"].alias("bathrooms"),
        listing["bedrooms"].alias("bedrooms"),
        listing["beds"].alias("beds"),
        listing["isBusinessTravelReady"].alias("business_travel_ready"),
        listing["city"].alias("city"),
        listing["user"]["id"].alias("host_id"),
        listing["lat"].alias("latitude"),
        listing["lng"].alias("longitude"),
        listing["name"].alias("name"),
        listing["neighborhoodOverview"].alias("neighborhood_overview"),
        listing["personCapacity"].alias("person_capacity"),
        listing["pictureCount"].alias("photo_count"),
        F.transform(listing["contextualPictures"], lambda p: p["picture"]).alias("photos"),
        listing["reviewsCount"].alias("review_count"),
        listing["roomAndPropertyType"].alias("room_and_property_type"),
        listing["roomType"].alias("room_type"),
        listing["roomTypeCategory"].alias("room_type_category"),
        listing["starRating"].alias("star_rating"),
        pricing["monthlyPriceFactor"].alias("monthly_price_factor"),
        pricing["weeklyPriceFactor"].alias("weekly_price_factor"),
        price_rate_expr(pricing).alias("price_rate"),
        rate_type_expr(pricing).alias("price_rate_type"),
        total_price_expr(pricing, has_checkin).alias("total_price"),
    )

    # F9 optional room-type filter (settings.py.dist:157): inert in the
    # reference (param never sent, ExploreSearch.py:181) — here the
    # documented opt-in isin filter over the extracted room type
    if cfg.room_types:
        results = results.where(F.col("room_type").isin(list(cfg.room_types)))

    # --- pagination candidate (airbnb.py:155-163): re-derive request params
    # from the page URL (P19) and set itemsOffset. Two-step projection for
    # the same reason as the page body (see parse_pdp), with one twist:
    # the natural ``_req.withField("itemsOffset", ...)`` form references
    # the alias ONCE, so CollapseProject legally merges the projections —
    # and the later UpdateFields expansion then duplicates the P19
    # from_json once per request field (6 tokenizations of the URL's
    # ``variables`` JSON per page, plan-verified). Assembling the next
    # request as an explicit struct references ``_req`` per field, which
    # makes the alias multiply-referenced and non-cheap → the collapse is
    # refused and exactly one from_json survives (guarded in
    # tests/test_parse_round.py). Field order/names/types must mirror
    # SEARCH_REQUEST_SCHEMA for to_json byte parity.
    next_req = F.when(
        F.col("_req").isNotNull(),  # null-struct parity with withField
        F.struct(
            F.col("_req")["checkin"].alias("checkin"),
            F.col("_req")["checkout"].alias("checkout"),
            F.col("pagination")["itemsOffset"].cast("int").alias("itemsOffset"),
            F.col("_req")["itemsPerGrid"].alias("itemsPerGrid"),
            F.col("_req")["priceMax"].alias("priceMax"),
            F.col("_req")["query"].alias("query"),
        ),
    )
    page_next = (
        base.where(F.col("pagination")["hasNextPage"])
        .select(
            "page_url", "host", "pagination",
            search_request_of(F.col("page_url")).alias("_req"),
        )
        .select(
            search_url_expr(F.col("host"), next_req).alias("url"),
            F.col("page_url").alias("parent_url"),
            F.lit(1).alias("depth"),
            F.lit(0.0).alias("listing_score"),
        )
    )

    # --- PDP candidates, one per listing (airbnb.py:169-175); listing_score
    # is the engine's priority input (north-star f(depth, listing_score))
    pdp_cands = results.select(
        pdp_url_expr(F.col("host"), F.col("listing_id")).alias("url"),
        F.col("page_url").alias("parent_url"),
        F.lit(2).alias("depth"),
        listing_score_expr(F.col("listing_id")).alias("listing_score"),
    )

    return results, page_next.unionByName(pdp_cands)


def parse_search(df: DataFrame, args: CrawlArgs, cfg: EngineConfig) -> tuple[DataFrame, DataFrame]:
    """Search API page → search_results rows + {next-page, PDP} candidates
    (airbnb.py:149-175, 198-233, 241-270)."""
    return _search_outputs(_search_pre(df), args, cfg)


def listing_score_expr(listing_id: Column) -> Column:
    """Deterministic [0,100) score from the listing id — the priority input
    (FIXTURES.md §2). Must match fixtures.listing_score: both use
    blake2b-derived hashing; here it's computed in Python at fixture time
    and in the engine via the same function inside a pandas UDF-free path:
    we recompute it JVM-side as a stable hash. For exact simulator parity
    the engine and simulator share THIS expression's semantics:
    pmod(xxhash64(listing_id), 10000)/100."""
    return (F.pmod(F.xxhash64(listing_id), F.lit(10000)) / F.lit(100.0)).cast("double")


def parse_pdp(df: DataFrame, cfg: EngineConfig) -> tuple[DataFrame, DataFrame]:
    """PDP page → pdp_rows + first-reviews candidate
    (PdpPlatformSections.py:94-177).

    TWO-STEP projection (r4 perf): the JSON text is parsed ONCE into a
    struct column, and the output projection extracts fields from the
    struct. A single select referencing ``from_json(...)`` ~20 times
    compiles to ~20 separate from_json evaluations (Catalyst prunes each
    schema but still tokenizes the full JSON text per evaluation —
    verified in the executed plan); the two-step shape leaves exactly
    one. CollapseProject keeps it split because from_json is non-cheap
    and multiply-referenced."""
    return _pdp_outputs(_pdp_pre(df), cfg)


def _pdp_pre(df: DataFrame) -> DataFrame:
    """PDP extraction stage: the single from_json tokenization, reduced
    all the way to the FLAT pdp_rows projection (r6 perf: the persisted
    unit used to be the full nested `_r` struct — columnar-caching the
    whole parsed tree cost far more than the ~22 scalar output fields,
    and both consumers (rows sink, reviews candidate) only ever read
    these fields)."""
    parsed = df.select(
        "url", "host", F.from_json(F.col("text"), PDP_SCHEMA).alias("_r")
    )
    pdp = F.col("_r")["data"]["merlin"]["pdpSections"]
    sections = pdp["sections"]

    amen = find_section(sections, "AMENITIES_DEFAULT")
    desc = find_section(sections, "DESCRIPTION_DEFAULT")
    host_profile = find_section(sections, "HOST_PROFILE_DEFAULT")
    location = find_section(sections, "LOCATION_DEFAULT")
    policies = find_section(sections, "POLICIES_DEFAULT")
    logging_data = pdp["metadata"]["loggingContext"]["eventDataLogging"]

    groups = amen["seeAllAmenitiesGroups"]
    # P13: all available amenities, group order preserved
    avail = F.flatten(F.transform(groups, lambda g: F.filter(g["amenities"], lambda a: a["available"])))
    # 'Guest access' group (PdpPlatformSections.py:113): first matching group
    access_groups = F.filter(groups, lambda g: g["title"] == F.lit("Guest access"))
    access_amen = F.try_element_at(access_groups, F.lit(1))["amenities"]

    rules_titles = F.transform(policies["houseRules"], lambda x: x["title"])  # P15

    # P12 detail properties: transit ← location.seeAllLocationDetails
    # ['Getting around'].content; interaction ← hostInfos['During your
    # stay'].html (PdpPlatformSections.py:174-175,200-203)
    transit_html = F.try_element_at(
        F.filter(location["seeAllLocationDetails"], lambda i: i["title"] == F.lit("Getting around")), F.lit(1)
    )["content"]["htmlText"]
    interaction_html = F.try_element_at(
        F.filter(host_profile["hostInfos"], lambda i: i["title"] == F.lit("During your stay")), F.lit(1)
    )["html"]["htmlText"]

    return parsed.select(
        F.col("url").alias("page_url"),
        F.col("host"),
        pdp["id"].alias("listing_id"),
        render_titles(access_amen).alias("access"),
        policies["additionalHouseRules"].alias("additional_house_rules"),
        F.array_contains(rules_titles, "No parties or events").alias("allows_events"),
        render_titles(avail, sep=" - ", join=False).alias("amenities"),
        amenity_ids_expr(avail).alias("amenity_ids"),
        html_to_text_udf(desc["htmlDescription"]["htmlText"]).alias("description"),
        rules_titles.alias("house_rules"),
        pdp["metadata"]["bookingPrefetchData"]["isHotelRatePlanEnabled"].alias("is_hotel"),
        render_titles(policies["listingExpectations"]).alias("listing_expectations"),
        logging_data["accuracyRating"].alias("rating_accuracy"),
        logging_data["checkinRating"].alias("rating_checkin"),
        logging_data["cleanlinessRating"].alias("rating_cleanliness"),
        logging_data["communicationRating"].alias("rating_communication"),
        logging_data["locationRating"].alias("rating_location"),
        logging_data["valueRating"].alias("rating_value"),
        logging_data["guestSatisfactionOverall"].alias("satisfaction_guest"),
        html_to_text_udf(transit_html).alias("transit"),
        html_to_text_udf(interaction_html).alias("interaction"),
        F.concat(F.lit("https://www.airbnb.com/rooms/"), pdp["id"]).alias("listing_url"),
    )


def _pdp_outputs(rows: DataFrame, cfg: EngineConfig) -> tuple[DataFrame, DataFrame]:
    """(pdp_rows, first-reviews candidate) from the flat `_pdp_pre`
    frame — rows pass through; the candidate projects three fields."""
    # reviews candidate: the reference fetches reviews synchronously at PDP
    # time starting at offset 0 (PdpPlatformSections.py:161); the engine
    # schedules the first reviews page as a depth-3 frontier candidate
    cands = rows.select(
        reviews_url_expr(
            F.col("host"), F.col("listing_id"), F.lit(cfg.reviews_page_limit), F.lit(0)
        ).alias("url"),
        F.col("page_url").alias("parent_url"),
        F.lit(3).alias("depth"),
        listing_score_expr(F.col("listing_id")).alias("listing_score"),
    )
    return rows, cands


def parse_reviews(df: DataFrame, cfg: EngineConfig) -> tuple[DataFrame, DataFrame]:
    """Reviews page → review batch rows + remaining-offset candidates
    (PdpReviews.py:13-42). Offsets ascend `range(limit, total, limit)`
    (PdpReviews.py:20-21) — generated in ONE round via sequence+explode
    (SURVEY §2.1 S4), replacing the reference's blocking loop."""
    return _reviews_outputs(_reviews_pre(df), cfg)


def _reviews_pre(df: DataFrame) -> DataFrame:
    """Reviews extraction stage: one from_json evaluation for the page
    text AND one for the URL-param parse-back (see parse_pdp)."""
    return df.select(
        "url", "host",
        F.from_json(F.col("text"), REVIEWS_SCHEMA).alias("_r"),
        reviews_request_of(F.col("url")).alias("_req"),
    )


def _reviews_outputs(parsed: DataFrame, cfg: EngineConfig) -> tuple[DataFrame, DataFrame]:
    pr = F.col("_r")["data"]["merlin"]["pdpReviews"]
    req = F.col("_req")

    rows = parsed.select(
        F.col("url").alias("page_url"),
        F.col("host"),
        req["listingId"].alias("listing_id"),
        F.coalesce(req["offset"], F.lit(0)).alias("offset"),
        req["limit"].alias("limit"),
        pr["metadata"]["reviewsCount"].alias("reviews_total"),
        F.transform(
            pr["reviews"],
            lambda v: F.struct(
                v["comments"].alias("comments"),
                v["createdAt"].alias("created_at"),
                v["language"].alias("language"),
                v["rating"].alias("rating"),
                v["response"].alias("response"),
            ),
        ).alias("reviews"),
    )

    first_pages = rows.where(F.col("offset") == 0).where(F.col("reviews_total") > F.col("limit"))
    offsets = F.sequence(
        F.col("limit"), F.col("reviews_total") - 1, F.col("limit")
    )  # range(limit, total, limit)
    cands = first_pages.select(
        "host", "listing_id", "limit", "page_url", F.explode(offsets).alias("offset")
    ).select(
        reviews_url_expr(F.col("host"), F.col("listing_id"), F.col("limit"), F.col("offset")).alias("url"),
        F.col("page_url").alias("parent_url"),
        F.lit(3).alias("depth"),
        listing_score_expr(F.col("listing_id")).alias("listing_score"),
    )
    return rows, cands


# --------------------------------------------------------------------------
# parse_round — one tokenization per page for a mixed-type fetched batch
# --------------------------------------------------------------------------

PARSE_TYPES = ("landing", "search", "pdp", "reviews")


@dataclass
class ParseRound:
    """Outputs of one parse round over a fetched batch.

    ``by_type`` maps page type → (rows, candidates); ``parts`` maps the
    crawl output-table name → rows frame; ``candidates`` is the unioned
    frontier-candidate frame. ``handles`` are the persisted per-type
    extraction intermediates — the caller MUST call :meth:`unpersist`
    after the round's outputs are materialized."""

    by_type: dict[str, tuple[DataFrame, DataFrame]]
    parts: dict[str, DataFrame]
    candidates: DataFrame
    handles: list[DataFrame]

    def unpersist(self) -> None:
        for h in self.handles:
            h.unpersist()


def parse_round(
    pages: DataFrame, args: CrawlArgs, cfg: EngineConfig, persist: bool = True
) -> ParseRound:
    """Parse a mixed-type fetched batch with ONE tokenization per page.

    The reference's Scrapy callbacks parse each response exactly once
    (airbnb.py:129-175, PdpPlatformSections.py:94-177): a callback both
    yields items AND schedules follow-up requests from the same parsed
    object. Under lazy evaluation the naive translation loses that
    property: materializing a type's rows and its candidates as separate
    actions re-evaluates the shared lineage, and although Catalyst
    schema-prunes each ``from_json``, every pruned evaluation still
    tokenizes the FULL page text — a search page paid it 3× (rows,
    next-page branch, PDP-candidate branch), pdp/reviews/landing 2×.

    Here each type's extraction stage (``_*_pre``: the from_json / html
    regexp pass, projected to the post-extraction columns) is persisted
    MEMORY_AND_DISK, so the rows sink and the candidate path share one
    physical pass per page; outputs are cheap projections of the cached
    frame. At cluster scale the persisted unit is a per-round fetched
    batch (bounded by the politeness budget), not the corpus.

    *pages* needs (url, host, html, text); a ``page_type`` column is
    used if present, else derived via :func:`page_type_col`.
    """
    typed = pages if "page_type" in pages.columns else pages.withColumn(
        "page_type", page_type_col()
    )
    handles: list[DataFrame] = []

    def pre(ptype: str, fn) -> DataFrame:
        p = fn(typed.where(F.col("page_type") == ptype))
        if persist:
            p = p.persist(StorageLevel.MEMORY_AND_DISK)
            handles.append(p)
        return p

    by_type = {
        "landing": _landing_outputs(pre("landing", _landing_pre), args, cfg),
        "search": _search_outputs(pre("search", _search_pre), args, cfg),
        "pdp": _pdp_outputs(pre("pdp", _pdp_pre), cfg),
        "reviews": _reviews_outputs(pre("reviews", _reviews_pre), cfg),
    }
    parts = {
        "search_results": by_type["search"][0],
        "pdp_rows": by_type["pdp"][0],
        "review_rows": by_type["reviews"][0],
    }
    candidates = by_type["landing"][1]
    for t in ("search", "pdp", "reviews"):
        candidates = candidates.unionByName(by_type[t][1])
    return ParseRound(by_type, parts, candidates, handles)


# --------------------------------------------------------------------------
# P20/A3 — neighborhood extraction (dead code in the reference, ported
# behind cfg for parity: airbnb.py:177-196)
# --------------------------------------------------------------------------

EXPLORE_TABS_SCHEMA = T.StructType(
    [
        T.StructField(
            "explore_tabs",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField(
                            "home_tab_metadata",
                            T.StructType(
                                [
                                    T.StructField("listings_count", T.LongType()),
                                    T.StructField(
                                        "filters",
                                        T.StructType(
                                            [
                                                T.StructField(
                                                    "sections",
                                                    T.ArrayType(
                                                        T.StructType(
                                                            [
                                                                T.StructField("filter_section_id", T.StringType()),
                                                                T.StructField(
                                                                    "items",
                                                                    T.ArrayType(
                                                                        T.StructType(
                                                                            [
                                                                                T.StructField("title", T.StringType()),
                                                                                T.StructField(
                                                                                    "params",
                                                                                    T.ArrayType(
                                                                                        T.StructType(
                                                                                            [
                                                                                                T.StructField("key", T.StringType()),
                                                                                                T.StructField("value", T.StringType()),
                                                                                            ]
                                                                                        )
                                                                                    ),
                                                                                ),
                                                                            ]
                                                                        )
                                                                    ),
                                                                ),
                                                            ]
                                                        )
                                                    ),
                                                ),
                                            ]
                                        ),
                                    ),
                                ]
                            ),
                        ),
                    ]
                )
            ),
        ),
    ]
)


def extract_neighborhoods(df: DataFrame, cfg: EngineConfig) -> DataFrame:
    """P20 + A3 (airbnb.py:177-196 — `_get_neighborhoods`, never called in
    the reference; ported for SURVEY parity behind
    ``cfg.neighborhood_min_listings``): explore-tabs metadata →
    (page_url, neighborhood, neighborhood_id) rows.

    Semantics mirrored exactly: the A3 gate drops areas with
    ``listings_count < 300`` (airbnb.py:182-183); only sections with
    ``filter_section_id == 'neighborhoods'`` contribute; the id is the
    FIRST param with key ``neighborhood_ids`` (break on match,
    airbnb.py:191-194). Pure JVM expressions — from_json + filter +
    explode; no Python."""
    r = F.from_json(F.col("text"), EXPLORE_TABS_SCHEMA)
    meta = F.try_element_at(r["explore_tabs"], F.lit(1))["home_tab_metadata"]
    gated = df.select(
        F.col("url").alias("page_url"),
        meta["listings_count"].alias("listings_count"),
        meta["filters"]["sections"].alias("sections"),
    ).where(F.col("listings_count") >= F.lit(cfg.neighborhood_min_listings))
    hoods = gated.select(
        "page_url",
        F.explode(
            F.filter(F.col("sections"), lambda s: s["filter_section_id"] == F.lit("neighborhoods"))
        ).alias("section"),
    ).select("page_url", F.explode(F.col("section")["items"]).alias("item"))
    nid = F.try_element_at(
        F.filter(F.col("item")["params"], lambda p: p["key"] == F.lit("neighborhood_ids")),
        F.lit(1),
    )["value"]
    return hoods.select(
        "page_url",
        F.col("item")["title"].alias("neighborhood"),
        nid.alias("neighborhood_id"),
    )
