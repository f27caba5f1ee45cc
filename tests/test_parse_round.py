"""parse_round: the one-tokenization-per-page parse of a mixed batch.

The reference's Scrapy callbacks parse each response exactly once and
derive items + follow-up requests from that single parse
(airbnb.py:129-175, PdpPlatformSections.py:94-177). ``parse_round``
restores that property under lazy evaluation: each type's extraction
intermediate is persisted, so the rows sink and the candidate path are
projections of one physical pass. These tests pin (a) exact output
parity with the individual ``parse_*`` functions, (b) the plan shape —
outputs scan the cache, they don't re-tokenize — and (c) handle
hygiene."""

import pytest

from frontier_engine import parse as P


def _collect_sorted(df):
    cols = sorted(df.columns)
    return sorted(
        [tuple(str(r[c]) for c in cols) for r in df.collect()]
    )


@pytest.fixture(scope="module")
def pround(pages_df, args, cfg):
    pr = P.parse_round(pages_df, args, cfg)
    yield pr
    pr.unpersist()


class TestParity:
    def test_by_type_matches_individual_parsers(self, pages_df, args, cfg, pround):
        singles = {
            "landing": P.parse_landing(pages_df.where(P.page_type_col() == "landing"), args, cfg),
            "search": P.parse_search(pages_df.where(P.page_type_col() == "search"), args, cfg),
            "pdp": P.parse_pdp(pages_df.where(P.page_type_col() == "pdp"), cfg),
            "reviews": P.parse_reviews(pages_df.where(P.page_type_col() == "reviews"), cfg),
        }
        for ptype in P.PARSE_TYPES:
            for i, kind in enumerate(("rows", "cands")):
                got, want = pround.by_type[ptype][i], singles[ptype][i]
                assert got.columns == want.columns, (ptype, kind)
                assert _collect_sorted(got) == _collect_sorted(want), (ptype, kind)

    def test_candidates_is_the_union(self, pround):
        union = None
        for ptype in P.PARSE_TYPES:
            c = pround.by_type[ptype][1]
            union = c if union is None else union.unionByName(c)
        assert _collect_sorted(pround.candidates) == _collect_sorted(union)

    def test_parts_names_match_crawler_outputs(self, pround):
        assert set(pround.parts) == {"search_results", "pdp_rows", "review_rows"}
        assert pround.parts["search_results"] is pround.by_type["search"][0]


class TestPlanShape:
    def test_outputs_scan_the_cache_not_the_text(self, pround):
        """Every output's plan reads the persisted extraction
        (InMemoryTableScan): the from_json / html regexp pass lives
        inside the cached relation, so materializing rows THEN cands
        tokenizes each page once, not twice (3× for search)."""
        for ptype in P.PARSE_TYPES:
            for df in pround.by_type[ptype]:
                plan = df._jdf.queryExecution().executedPlan().toString()
                assert "InMemoryTableScan" in plan, ptype

    def test_search_candidates_have_no_fresh_tokenization(self, pround):
        """The search candidate union (next-page + PDP branches) was the
        3×-tokenization case; with the persisted intermediate neither
        branch may re-tokenize the PAGE TEXT outside the cached relation.
        (The next-page branch still from_json's the ~100-byte URL
        ``variables`` param — P19 parse-back — which is page-level and
        cheap; the guard is on the exploreV3 page-body schema.)"""
        plan = pround.by_type["search"][1]._jdf.queryExecution().executedPlan().toString()
        outside_cache = plan.split("InMemoryRelation")[0]
        assert "exploreV3" not in outside_cache

    def test_next_page_p19_parses_url_variables_once(self, pround):
        """The next-page branch re-derives request params from the page
        URL (P19). ``_req.withField(...)`` references the alias once, so
        CollapseProject merges the projections and the UpdateFields
        expansion then duplicates the from_json per request field (6
        URL-variables tokenizations per page). The explicit-struct form
        in _search_outputs keeps it to one."""
        plan = pround.by_type["search"][1]._jdf.queryExecution().executedPlan().toString()
        assert plan.split("InMemoryRelation")[0].count("ParseUrlEvaluator") <= 1

    def test_persist_false_skips_caching(self, pages_df, args, cfg):
        pr = P.parse_round(pages_df, args, cfg, persist=False)
        assert pr.handles == []
        plan = pr.by_type["pdp"][0]._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" not in plan.split("Scan")[0] or "from_json" in plan


class TestHandles:
    def test_unpersist_releases_every_handle(self, pages_df, args, cfg):
        pr = P.parse_round(pages_df, args, cfg)
        assert len(pr.handles) == len(P.PARSE_TYPES)
        pr.by_type["search"][0].count()  # materialize one cache
        pr.unpersist()
        for h in pr.handles:
            assert not h.storageLevel.useMemory and not h.storageLevel.useDisk

    def test_page_type_column_is_respected_when_present(self, pages_df, args, cfg):
        # pre-typed frame: identical outputs (no double classification)
        typed = pages_df.withColumn("page_type", P.page_type_col())
        pr = P.parse_round(typed, args, cfg, persist=False)
        pr2 = P.parse_round(pages_df, args, cfg, persist=False)
        assert _collect_sorted(pr.candidates) == _collect_sorted(pr2.candidates)
