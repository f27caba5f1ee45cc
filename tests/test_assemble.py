"""Golden extraction parity: engine assemble == pure-Python oracle,
field-for-field on every listing (SURVEY §5.2)."""

import math

import pytest

from frontier_engine import parse as P
from frontier_engine.assemble import LISTING_COLUMNS, assemble_listings
from tests.golden import golden_listings


@pytest.fixture(scope="module")
def engine_listings(spark, pages_df, args, cfg):
    _, _ = P.parse_landing(pages_df.where(P.page_type_col() == "landing"), args, cfg)
    sr, _ = P.parse_search(pages_df.where(P.page_type_col() == "search"), args, cfg)
    pdp, _ = P.parse_pdp(pages_df.where(P.page_type_col() == "pdp"), cfg)
    rev, _ = P.parse_reviews(pages_df.where(P.page_type_col() == "reviews"), cfg)
    df = assemble_listings(sr, pdp, rev).cache()
    return {r["id"]: r.asDict(recursive=True) for r in df.collect()}


@pytest.fixture(scope="module")
def golden(spec, world, args):
    from frontier_engine.simulator import pages_dict

    return golden_listings(spec, pages_dict(world), args.checkin, args.price_max)


def _eq(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-12)
    return a == b


def test_same_listing_set(engine_listings, golden):
    assert set(engine_listings) == set(golden)


def test_all_fields_match(engine_listings, golden):
    mismatches = []
    for lid, want in golden.items():
        got = engine_listings[lid]
        for col in LISTING_COLUMNS:
            g, w = got[col], want[col]
            if col == "reviews":
                w = w or []
                g = g or []
                if [tuple(sorted(r.items())) for r in g] != [tuple(sorted(r.items())) for r in w]:
                    mismatches.append((lid, col, g[:1], w[:1]))
                continue
            if not _eq(g, w):
                mismatches.append((lid, col, g, w))
    assert not mismatches, f"{len(mismatches)} field mismatches, first 5: {mismatches[:5]}"


def test_edge_rows_present(golden):
    """The fixture edge cases actually occur (guards fixture drift)."""
    vals = list(golden.values())
    assert any(v["description"] is None for v in vals), "missing-htmlDescription edge"
    assert any(v["price_rate"] is None for v in vals), "null pricingQuote edge"
    assert any(v["total_price"] is not None for v in vals)
    assert any(v["transit"] is None for v in vals)
    assert any(len(v["reviews"] or []) > 50 for v in vals), "multi-batch reviews edge"
    assert any(not (v["reviews"] or []) for v in vals), "zero-reviews edge"
