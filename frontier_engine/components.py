"""Connected components over duplicate-pair edges — the transitive-
closure step that turns near-dup PAIRS into duplicate CLUSTERS.

Every near-dup detector in this engine (MinHash/LSH ``textops.
minhash_dedup_pairs``, SimHash ``textops.simhash_near_pairs``,
perceptual-hash ``multimodal.phash_near_pairs``, embedding-cosine
``similarity.embedding_near_dup_pairs``) emits verified PAIRS. Pairwise
survivor-picking under-deletes: with A~B and B~C but A≁C (similarity is
not transitive), pair logic keeps C even though the corpus-level policy
is "one survivor per duplicate CLUSTER" (Lee et al. 2022 §2.2 group
duplicates into clusters before dropping; the reference's per-item dedup
— pipelines.py:187-201 — never faces this because it only ever sees
exact matches). The missing primitive is connected components at corpus
scale.

Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
Mirrokni, Rastogi, Vassilvitskii — "Connected Components in MapReduce
and Beyond", SoCC 2014). Converges in O(log n) rounds even on
path-shaped graphs, where naive min-label propagation needs O(diameter)
rounds. Each half-round is expression-only DataFrame work:

* per-node neighborhood minimum via ``groupBy(u).agg(min)`` — partial
  (map-side) aggregation makes the hot-node shuffle carry one row per
  (task, node), so a 10^6-member duplicate cluster does not funnel
  10^6 rows into one reduce task (the window-function formulation
  would);
* the join back onto the edge list is an equi-join on the node id —
  skew there is handled by AQE's skew-join split, which the engine
  enables globally (session.py).

Per round: 2 shuffles (large-star) + 2 (small-star) + 1 distinct, all
over the shrinking edge set; lineage is truncated with an eager
``localCheckpoint`` every round (superseded checkpoints released), and
convergence is tested with an order-insensitive (count, bit_xor of
xxhash64) checksum — one action per round, exact (no float compares),
and overflow-free under ANSI mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["connected_components"]


def _canonical(edges: DataFrame) -> DataFrame:
    """Undirected edge set as distinct (u < v) long pairs, self-loops
    dropped."""
    return (
        edges.where(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"),
            F.greatest("u", "v").alias("v"),
        )
        .distinct()
    )


def _min_neighbor(edges: DataFrame) -> DataFrame:
    """(u, m) where m = min(neighborhood(u) ∪ {u}) over the DIRECTED
    edge list given (one row per edge, u → v). Partial-agg safe."""
    return (
        edges.groupBy("u")
        .agg(F.min("v").alias("_mv"))
        .select("u", F.least("_mv", "u").alias("m"))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star: every node connects its strictly-larger neighbors to
    the minimum of its closed neighborhood."""
    bidir = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = _min_neighbor(bidir)
    return (
        bidir.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star: orient each edge high→low; every node connects its
    smaller-or-equal neighbors (and itself) to the neighborhood min."""
    hi_lo = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    m = _min_neighbor(hi_lo)
    joined = hi_lo.join(m, "u")
    to_min = joined.select(F.col("v").alias("u"), F.col("m").alias("v"))
    self_edge = m.select(F.col("u"), F.col("m").alias("v"))
    return to_min.union(self_edge)


def _checksum(edges: DataFrame) -> tuple[int, int]:
    """Order-insensitive exact fingerprint of a canonical edge set."""
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("s"),
    ).first()
    return int(row["n"]), int(row["s"])


# canonical edge sets at or under this size label driver-side via
# union-find (one collect, bounded at ~16 MB of (u, v) longs) instead of
# the O(log n) star-contraction rounds — see connected_components
LOCAL_CC_MAX_EDGES = 1_000_000


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 24,
) -> DataFrame:
    """Label every node reachable through ``edges`` with its component's
    minimum node id.

    Input: any DataFrame with long-castable ``src`` / ``dst`` columns
    (direction ignored, self-loops and duplicates tolerated). Output:
    ``(id: long, component: long)`` — one row per distinct node that
    appears in the edge list; ``component`` is the smallest id in that
    node's connected component (roots map to themselves). Nodes with no
    edges never appear; callers left-join and ``coalesce`` to their own id.

    The labeling is one row per node IN the edge list — for dedup
    workloads that is the duplicate rows only, a small fraction of the
    corpus. Edge sets up to ``LOCAL_CC_MAX_EDGES`` are labeled
    driver-side by union-find and returned as a local DataFrame built
    from the driver's rows (no lineage, nothing persisted). Larger ones
    run the star-contraction rounds and return an eagerly
    ``localCheckpoint``ed labeling (the per-round checkpoints are
    released before returning); callers holding that one across a long
    job may ``unpersist()`` it once consumed.

    ``max_rounds`` bounds the large+small-star alternation; the
    algorithm needs O(log n) rounds, so 24 covers any graph that fits
    on a cluster. Non-convergence raises rather than returning a
    partially-contracted labeling.
    """
    cur = _canonical(
        edges.select(
            F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
        )
    ).localCheckpoint(eager=True)

    prev_sum = _checksum(cur)
    if prev_sum[0] == 0:
        cur.unpersist()
        return edges.sparkSession.createDataFrame(
            [], "id long, component long"
        )

    # r6 fast path: a bounded edge set closes driver-side in one collect —
    # union-find produces the IDENTICAL (id, component=min id) labeling
    # (pure integer graph semantics), and the large/small-star loop's
    # ~2 jobs per round (checkpoint + convergence checksum) dwarfed the
    # actual work for the near-dup graphs a clean corpus yields. The edge
    # count is already known from the checksum row; the distributed loop
    # remains the path for graphs past the gate.
    if prev_sum[0] <= LOCAL_CC_MAX_EDGES:
        rows = cur.collect()
        cur.unpersist()
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent.setdefault(r, r) != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for r in rows:
            ra, rb = find(int(r["u"])), find(int(r["v"]))
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comp_min: dict[int, int] = {}
        for x in list(parent):
            root = find(x)
            if comp_min.get(root, x) >= x:
                comp_min[root] = x
        out = [(x, comp_min[find(x)]) for x in parent]
        return edges.sparkSession.createDataFrame(out, "id long, component long")

    converged = False
    try:
        for _ in range(max_rounds):
            stepped = _canonical(_small_star(_large_star(cur)))
            stepped = stepped.localCheckpoint(eager=True)
            cur.unpersist()
            cur = stepped
            cur_sum = _checksum(cur)
            if cur_sum == prev_sum:
                converged = True
                break
            prev_sum = cur_sum
        if not converged:
            raise RuntimeError(
                f"connected_components did not converge in {max_rounds} rounds"
            )
        # At the fixpoint the edge set is a union of stars rooted at each
        # component's minimum. Derive the labeling from the bidirected
        # incidence min rather than trusting edge orientation: one more
        # partial-agg shuffle, robust to any star layout.
        bidir = cur.union(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        return _min_neighbor(bidir).select(
            F.col("u").alias("id"), F.col("m").alias("component")
        ).localCheckpoint(eager=True)
    finally:
        cur.unpersist()
