"""S5/F11: RFC 9309 (Protego-semantics) robots parsing + matching.

The reference's enforcement layer is Scrapy 2.6.3's default Protego
parser (/root/reference/requirements.txt:2, settings.py.dist:45):
``*`` wildcards, trailing-``$`` anchors, longest-raw-pattern wins,
Allow beats Disallow on length ties, longest-substring UA-group
selection with ``*`` fallback.

Oracle: ``_protego_twin`` below — a from-the-RFC reimplementation kept
deliberately independent of ``frontier_engine.robots.match_path`` (a
character-walk wildcard matcher, no regexes), so the property test is a
genuine cross-check of the Catalyst-compiled regex pipeline.
"""

import string

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from frontier_engine.config import EngineConfig
from frontier_engine.robots import (
    match_path,
    parse_robots_groups,
    parse_robots_txt,
    rules_from_pages,
    select_group,
    split_allowed,
)


# --------------------------------------------------------------------------
# Independent twin: wildcard match by character walk (no `re`)
# --------------------------------------------------------------------------

def _glob_match(pattern: str, path: str) -> bool:
    """Does robots *pattern* match *path*? Anchored at the start; a
    trailing raw '$' anchors the end; '*' matches any run (greedy w/
    backtracking via iterative two-pointer)."""
    anchored = pattern.endswith("$")
    pat = pattern[:-1] if anchored else pattern
    # classic iterative glob match of pat against a PREFIX of path
    # (or the whole path when anchored)
    i = j = 0
    star_i = star_j = -1
    while j < len(path):
        if i < len(pat) and pat[i] == "*":
            star_i, star_j = i, j
            i += 1
        elif i < len(pat) and pat[i] == path[j]:
            i += 1
            j += 1
        elif star_i >= 0:
            star_j += 1
            i, j = star_i + 1, star_j
        else:
            return False
        if not anchored and i == len(pat):
            return True  # pattern consumed → prefix match
    while i < len(pat) and pat[i] == "*":
        i += 1
    return i == len(pat)


def _protego_twin(rules: list[tuple[str, bool]], path: str) -> bool:
    """True = allowed. Longest raw pattern wins; tie → Allow."""
    winner = None  # (len, allow_pref, allow)
    for pattern, allow in rules:
        if pattern and _glob_match(pattern, path):
            key = (len(pattern), 1 if allow else 0)
            if winner is None or key > winner[0]:
                winner = (key, allow)
    return True if winner is None else winner[1]


# --------------------------------------------------------------------------
# Parser / group selection
# --------------------------------------------------------------------------

ROBOTS_BODY = """
# comment line
User-agent: badbot
Disallow: /

User-agent: *
Disallow: /api/

User-agent: frontier
User-agent: otherbot
Disallow: /api/v3/Pdp
Allow: /api/v3/Pdp/
Disallow: /search/*0$
Allow: /search/1
Disallow: /search/1
Crawl-delay: 7
Disallow:

User-agent: frontier
Disallow: /private/
"""


def test_group_selection_longest_substring_wins():
    groups = parse_robots_groups(ROBOTS_BODY)
    # crawler UA contains 'frontier' (len 8) > '*' (score 1); 'badbot' absent
    g = select_group(groups, "frontier-engine (https://frontier-engine)")
    pats = [p for p, _ in g["rules"]]
    assert "/private/" in pats  # same-token groups merge
    assert "/api/" not in pats  # the * group lost
    assert "/" not in pats  # badbot group lost
    assert g["crawl_delay"] == 7.0
    # unknown UA falls back to *
    g_star = select_group(groups, "googlebot/2.1")
    assert [p for p, _ in g_star["rules"]] == ["/api/"]
    # badbot UA picks the badbot group (len 6 beats 1)
    g_bad = select_group(groups, "BadBot/9")
    assert [p for p, _ in g_bad["rules"]] == ["/"]


def test_parse_robots_txt_dict_shape():
    d = parse_robots_txt(ROBOTS_BODY, 10.0, 10, "frontier-engine")
    assert d["crawl_delay_s"] == 7.0
    assert {r["pattern"] for r in d["rules"] if r["allow"]} == {"/api/v3/Pdp/", "/search/1"}
    assert "/private/" in d["disallow_prefixes"]
    # empty Disallow value was dropped
    assert "" not in {r["pattern"] for r in d["rules"]}


FRONTIER_RULES = [
    ("/api/v3/Pdp", False),
    ("/api/v3/Pdp/", True),
    ("/search/*0$", False),
    ("/search/1", True),
    ("/search/1", False),
    ("/private/", False),
]

CASES = [
    ("/api/v3/Pdp/55", True),         # Allow len 12 beats Disallow len 11
    ("/api/v3/PdpReviews/9", False),  # only the len-11 Disallow matches
    ("/search/10", False),            # wildcard-$ Disallow len 12 wins
    ("/search/1", True),              # tie len 9: Allow beats Disallow
    ("/search/15", True),             # tie again (prefix match of both)
    ("/search/25", True),             # nothing matches
    ("/search/250", False),           # *0$ anchor
    ("/search/2501", True),           # anchor rejects non-terminal 0
    ("/private/x", False),
    ("/", True),
]


@pytest.mark.parametrize("path,want", CASES)
def test_match_path_cases(path, want):
    assert match_path(FRONTIER_RULES, path) is want
    assert _protego_twin(FRONTIER_RULES, path) is want


# --------------------------------------------------------------------------
# Property: engine twin == independent twin
# --------------------------------------------------------------------------

_pat_chars = st.sampled_from(list("/ab*$" + "0"))


@settings(max_examples=300, deadline=None)
@given(
    rules=st.lists(
        st.tuples(st.text(_pat_chars, min_size=1, max_size=8), st.booleans()),
        max_size=6,
    ),
    path=st.text(st.sampled_from(list("/ab0" + string.digits)), max_size=10).map(lambda s: "/" + s),
)
def test_match_path_equals_independent_twin(rules, path):
    assert match_path(rules, path) == _protego_twin(rules, path)


# --------------------------------------------------------------------------
# Spark face: split_allowed verdicts == twin (incl. wildcard/anchor/UA)
# --------------------------------------------------------------------------

def test_split_allowed_protego_semantics(spark):
    cfg = EngineConfig()
    cand = spark.createDataFrame(
        [(f"https://h.example{p}", "h.example") for p, _ in CASES],
        "url string, host string",
    )
    rules = spark.createDataFrame(
        [("h.example", [{"pattern": p, "allow": a} for p, a in FRONTIER_RULES], 5.0, 10)],
        "host string, rules array<struct<pattern:string,allow:boolean>>, crawl_delay_s double, max_concurrency int",
    )
    allowed, blocked = split_allowed(cand, rules, cfg)
    got_allowed = {r.url for r in allowed.collect()}
    for p, want in CASES:
        assert ((f"https://h.example{p}") in got_allowed) is want, p
    # column surface: rule internals dropped, crawl_delay kept for scheduling
    assert "__rules" not in allowed.columns and "rules" not in allowed.columns
    assert "crawl_delay_s" in allowed.columns
    assert blocked.count() == sum(1 for _, w in CASES if not w)


def test_split_allowed_legacy_prefix_schema(spark):
    """Tables with only the legacy prefix arrays keep exact startswith
    semantics (wildcard-free patterns compile to literal prefixes)."""
    cfg = EngineConfig()
    cand = spark.createDataFrame(
        [("https://h/x/1", "h"), ("https://h/private/2", "h"), ("https://nobody/x", "nobody")],
        "url string, host string",
    )
    rules = spark.createDataFrame(
        [("h", ["/private/"], [], 5.0, 10)],
        "host string, disallow_prefixes array<string>, allow_prefixes array<string>, crawl_delay_s double, max_concurrency int",
    )
    allowed, blocked = split_allowed(cand, rules, cfg)
    assert {r.url for r in blocked.collect()} == {"https://h/private/2"}
    assert {r.url for r in allowed.collect()} == {"https://h/x/1", "https://nobody/x"}


def test_split_allowed_matches_twin_on_random_rules(spark):
    """Bulk cross-check: one host per random rule set, many paths, Spark
    verdict == match_path == independent twin for every (rules, path)."""
    import random

    rnd = random.Random(9309)
    alph = "/ab0*$"
    hosts = []
    for hi in range(24):
        n = rnd.randint(0, 5)
        rules = [
            ("/" + "".join(rnd.choice(alph) for _ in range(rnd.randint(0, 6))), rnd.random() < 0.4)
            for _ in range(n)
        ]
        hosts.append((f"h{hi}", rules))
    paths = ["/" + "".join(rnd.choice("/ab0") for _ in range(rnd.randint(0, 7))) for _ in range(40)]
    cand = spark.createDataFrame(
        [(f"https://{h}{p}", h) for h, _ in hosts for p in paths], "url string, host string"
    )
    rules_df = spark.createDataFrame(
        [(h, [{"pattern": p, "allow": a} for p, a in rl], 5.0, 10) for h, rl in hosts],
        "host string, rules array<struct<pattern:string,allow:boolean>>, crawl_delay_s double, max_concurrency int",
    )
    allowed, _ = split_allowed(cand, rules_df, EngineConfig())
    got = {r.url for r in allowed.collect()}
    by_host = dict(hosts)
    for h, rl in hosts:
        for p in paths:
            want = _protego_twin(rl, p)
            assert match_path(rl, p) == want
            assert ((f"https://{h}{p}") in got) == want, (h, rl, p)


def test_rules_from_pages_ua_groups(spark):
    """End-to-end: robots page text → per-UA rules table for cfg UA."""
    cfg = EngineConfig()
    pages = spark.createDataFrame(
        [("https://h.example/robots.txt", ROBOTS_BODY), ("https://h.example/x", "<html/>")],
        "url string, text string",
    )
    rows = rules_from_pages(pages, cfg).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.host == "h.example"
    assert r.crawl_delay_s == 7.0
    pats = {x["pattern"] for x in r.rules}
    assert "/private/" in pats and "/api/" not in pats


def test_split_allowed_plan_is_broadcast_no_python(spark):
    """The filter stays a broadcast join + JVM expression: no shuffle of
    the candidates side, no Python eval in the plan."""
    cand = spark.range(1000).select(
        F.concat(F.lit("https://h/x/"), F.col("id")).alias("url"), F.lit("h").alias("host")
    )
    rules = spark.createDataFrame(
        [("h", [{"pattern": "/x/1*3$", "allow": False}], 5.0, 10)],
        "host string, rules array<struct<pattern:string,allow:boolean>>, crawl_delay_s double, max_concurrency int",
    )
    allowed, _ = split_allowed(cand, rules, EngineConfig())
    plan = allowed._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert allowed.where(F.col("url") == "https://h/x/123").count() == 0
    assert allowed.where(F.col("url") == "https://h/x/124").count() == 1


def test_simulator_selects_ua_group_like_engine(spark):
    """Parity pin for UA-group selection: a robots body with a group
    matching the engine's cfg.user_agent must produce the SAME verdicts
    from the simulator twin and the Spark engine. (Before r5 the
    simulator parsed with the '*' default — masked only because the
    fixture worlds never declare UA-specific groups.)"""
    from frontier_engine.simulator import robots_rules_for_world
    from frontier_engine.robots import match_path

    cfg = EngineConfig()
    body = (
        "User-agent: frontier-engine\nDisallow: /\nAllow: /open/\n\n"
        "User-agent: *\nDisallow: /private/\n"
    )
    world = {"https://ua.example/robots.txt": body}
    sim_rules = robots_rules_for_world(world, cfg)
    pairs = [(d["pattern"], d["allow"]) for d in sim_rules["ua.example"]["rules"]]
    # the engine-UA group (block all, allow /open/) must win, not '*'
    assert not match_path(pairs, "/anything")
    assert match_path(pairs, "/open/x")

    eng = rules_from_pages(
        spark.createDataFrame(list(world.items()), "url string, text string"), cfg
    )
    cand = spark.createDataFrame(
        [("ua.example", "https://ua.example/anything"),
         ("ua.example", "https://ua.example/open/x")],
        "host string, url string",
    )
    allowed, blocked = split_allowed(cand, eng, cfg)
    assert {r.url for r in allowed.collect()} == {"https://ua.example/open/x"}
    assert {r.url for r in blocked.collect()} == {"https://ua.example/anything"}
