"""Similarity search over an ``embeddings(vec_id, embedding array<float>,
label)`` table: brute-force cosine top-k baseline + LSH-bucketed scale
path (the ANN layer a training-data pipeline runs for near-dup /
retrieval; public algorithms — random-hyperplane LSH, Charikar 2002).

Scale notes:
* brute-force: one scan, no shuffle for a single query (the query vector
  is a literal folded into codegen); top-k via a single ORDER BY LIMIT k
  (Spark executes as per-partition TakeOrdered + driver merge — no sort
  of the full table);
* LSH: random-hyperplane signatures bucket vectors; per-bucket
  brute-force turns O(n) per query into O(n / 2^bits) expected. The
  hyperplanes derive from xxhash64 so they're deterministic (no RNG at
  runtime) and identically computable in tests.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from frontier_engine.hashing import xxhash64


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


# --- r6 perf helpers -------------------------------------------------------
# Measured dead end, recorded so it is not retried: fully UNROLLING dot/
# norm into get(i)-chains (16 centroids × dim 64) made every job 3-4×
# SLOWER — the per-job Catalyst walk over the huge literal tree dwarfs any
# per-row win at these row counts, and the HOF fold was never the
# bottleneck. What does help: hoisting the norms (literal codebook norms
# computed driver-side with the same left fold; the per-row norm
# materialized once instead of re-evaluated per centroid) while keeping
# the compact HOF dot — same plan size class, 2-3× less per-row work.

def norm_py(vals: list[float]) -> float:
    """Driver-side twin of :func:`norm` — same left fold, same IEEE ops
    (Python floats are the same binary64), so the literal it produces is
    bit-identical to what the JVM aggregate would compute."""
    acc = 0.0
    for x in vals:
        acc = acc + float(x) * float(x)
    return math.sqrt(acc)


def _vec_dim(df: DataFrame, vec_col: str) -> int | None:
    """Dimensionality probe: length of the first non-null vector (one
    tiny job); None when no row has a vector — callers then keep the HOF
    fallback path. A null vector in the first row must not hide the rest."""
    first = df.select(vec_col).where(F.col(vec_col).isNotNull()).limit(1).collect()
    if not first:
        return None
    return len(first[0][0])


def _dbl(df: DataFrame, vec_col: str) -> Column:
    """_as_double, skipped when the column is already array<double> (the
    cast transform would rebuild the array per reference for nothing)."""
    from pyspark.sql.types import ArrayType, DoubleType

    dt = df.schema[vec_col].dataType
    if isinstance(dt, ArrayType) and isinstance(dt.elementType, DoubleType):
        return F.col(vec_col)
    return _as_double(F.col(vec_col))


def brute_force_topk(
    embeddings: DataFrame, query: list[float], k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k for one query vector (the correctness baseline)."""
    q = F.array(*[F.lit(float(x)) for x in query])
    scored = embeddings.select(
        F.col(id_col),
        F.round(cosine(_as_double(F.col(vec_col)), q), 6).alias("cos"),
    )
    return scored.orderBy(F.desc("cos"), F.col(id_col)).limit(k)


def _hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random unit-ish hyperplane from xxhash64."""
    vals = [
        (xxhash64(f"plane-{plane_idx}-dim-{d}") % 20001 - 10000) / 10000.0
        for d in range(dim)
    ]
    s = math.sqrt(sum(v * v for v in vals)) or 1.0
    return [v / s for v in vals]


def lsh_signature(vec: Column, dim: int, n_planes: int = 8) -> Column:
    """Random-hyperplane LSH bucket id (int in [0, 2^n_planes))."""
    sig = F.lit(0)
    for p in range(n_planes):
        plane = F.array(*[F.lit(v) for v in _hyperplane(dim, p)])
        bit = F.when(dot(_as_double(vec), plane) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        sig = sig + bit
    return sig


def lsh_topk(
    embeddings: DataFrame, query: list[float], k: int = 10, n_planes: int = 8,
    probe_hamming: int = 1, id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only vectors whose LSH bucket is within
    *probe_hamming* bit flips of the query's bucket (multi-probe LSH).
    Same output schema as brute_force_topk."""
    dim = len(query)
    q_sig = 0
    for p in range(n_planes):
        plane = _hyperplane(dim, p)
        if sum(a * b for a, b in zip(query, plane)) >= 0:
            q_sig |= 1 << p
    probes = {q_sig}
    if probe_hamming >= 1:
        probes |= {q_sig ^ (1 << p) for p in range(n_planes)}
    if probe_hamming >= 2:
        probes |= {
            q_sig ^ (1 << p1) ^ (1 << p2)
            for p1 in range(n_planes)
            for p2 in range(p1 + 1, n_planes)
        }

    bucketed = embeddings.withColumn("_sig", lsh_signature(F.col(vec_col), dim, n_planes))
    cand = bucketed.where(F.col("_sig").isin(list(probes)))
    q = F.array(*[F.lit(float(x)) for x in query])
    return (
        cand.select(
            F.col(id_col), F.round(cosine(_as_double(F.col(vec_col)), q), 6).alias("cos")
        )
        .orderBy(F.desc("cos"), F.col(id_col))
        .limit(k)
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame, threshold: float = 0.95, n_planes: int = 12,
    probe_hamming: int = 1, id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the dedup-family member for
    embedded corpora): random-hyperplane LSH buckets → per-bucket pair
    join (multi-probe: pairs whose buckets differ by ≤ probe_hamming
    bits) → exact cosine verify ≥ threshold. No false positives; recall
    governed by n_planes/probe_hamming (cos 0.95 ⇒ P[bit differs] ≈
    0.10, P[≤1 of 12 differs] ≈ 0.66·… tested on planted dups)."""
    dim = _vec_dim(embeddings, vec_col)
    if dim is None:
        return embeddings.sparkSession.createDataFrame(
            [], f"id_a long, id_b long, cos double"
        )
    sig = embeddings.withColumn("_sig", lsh_signature(F.col(vec_col), dim, n_planes))
    # multi-probe: emit each row under its bucket and (optionally) every
    # 1-bit-flip bucket, so pairs within hamming ≤ probe_hamming collide
    probes = [F.col("_sig")]
    if probe_hamming >= 1:
        probes += [F.col("_sig").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)]
    exploded = sig.select(
        F.col(id_col), F.col(vec_col), F.col("_sig"),
        F.explode(F.array(*probes)).alias("_bucket"),
    )
    a = exploded.alias("a")
    b = sig.alias("b")
    cand = (
        a.join(b, F.col("a._bucket") == F.col("b._sig"))
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"a.{vec_col}").alias("_va"),
            F.col(f"b.{vec_col}").alias("_vb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn("cos", F.round(cosine(_as_double(F.col("_va")), _as_double(F.col("_vb"))), 6))
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def all_pairs_topk_per_label(
    embeddings: DataFrame, k: int = 3, id_col: str = "vec_id",
    vec_col: str = "embedding", label_col: str = "label",
) -> DataFrame:
    """Per-label centroid top-k: for each label, the k vectors closest to
    the label centroid (a bounded, shuffle-efficient 'cluster exemplars'
    op: one groupBy for centroids + broadcast join back)."""
    from pyspark.sql import Window

    centroids = (
        embeddings.select(label_col, F.posexplode(_as_double(F.col(vec_col))).alias("i", "v"))
        .groupBy(label_col, "i")
        .agg(F.avg("v").alias("m"))
        .groupBy(label_col)
        .agg(F.array_sort(F.collect_list(F.struct("i", "m"))).alias("pairs"))
        .select(label_col, F.transform("pairs", lambda p: p["m"]).alias("centroid"))
    )
    joined = embeddings.join(F.broadcast(centroids), label_col)
    scored = joined.select(
        label_col,
        F.col(id_col),
        F.round(cosine(_as_double(F.col(vec_col)), F.col("centroid")), 6).alias("cos"),
    )
    w = Window.partitionBy(label_col).orderBy(F.desc("cos"), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN — the partition-pruned scale path
# --------------------------------------------------------------------------

def kmeans_centroids(
    embeddings: DataFrame, k: int = 16, iters: int = 2,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic Lloyd iterations for the IVF coarse quantizer.
    Init = the k vectors with the smallest ids (fixed, no RNG); each
    iteration is one groupBy over posexploded components — two shuffles
    total per iteration, independent of dimensionality. Returns driver-side
    centroids (k·dim doubles — the broadcast-able quantizer codebook)."""
    init = (
        embeddings.orderBy(id_col).limit(k)
        .select(_as_double(F.col(vec_col)).alias("v"))
        .collect()
    )
    cents = [list(r.v) for r in init]
    if not cents:
        return cents
    for _ in range(iters):
        # r6: materialize v + its norm once per row, then the hoisted-
        # norms argmax (bit-identical to the HOF fold — _argmax_cos_lit;
        # the old shape re-evaluated the _as_double cast and norm(v) once
        # per centroid per row)
        assigned = (
            embeddings.select(_dbl(embeddings, vec_col).alias("v"))
            .withColumn("_nv", norm(F.col("v")))
            .select(
                "v", _argmax_cos_lit(cents, F.col("v"), F.col("_nv")).alias("cluster")
            )
        )
        newc = (
            assigned.select("cluster", F.posexplode("v").alias("i", "x"))
            .groupBy("cluster", "i").agg(F.avg("x").alias("m"))
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("i", "m"))).alias("pairs"))
            .select("cluster", F.transform("pairs", lambda p: p["m"]).alias("c"))
            .collect()
        )
        by_id = {r.cluster: list(r.c) for r in newc}
        cents = [by_id.get(i, cents[i]) for i in range(len(cents))]
    return cents


def _argmax_cos_lit(cents: list[list[float]], v: Column, nv: Column) -> Column:
    """Index of the centroid with max cosine to *v* for a driver-side
    codebook, with hoisted norms: cosine per centroid is the HOF
    dot(c, v) divided by (literal ‖c‖ · *nv*) — the codebook norms are
    computed driver-side with the same left fold (:func:`norm_py`,
    bit-identical doubles) and the per-row norm *nv* is a materialized
    column, so neither is re-evaluated per centroid. The argmax is
    greatest(struct(cos, -i)), which matches a left fold that replaces
    the running best when `cos > best` case for case: ties keep the
    lowest index (larger -i wins), NaN cosines win over everything
    (Spark orders NaN largest, and in the fold `NaN > x` is true while
    `x > NaN` is false — first NaN kept either way), and the
    (-2.0, i=-1) init survives only all-NULL rows."""
    if not cents:
        return F.lit(-1)
    structs = [F.struct(F.lit(-2.0).alias("cos"), F.lit(1).alias("negi"))]
    for i, c in enumerate(cents):
        carr = F.array(*[F.lit(float(x)) for x in c])
        cos_i = dot(carr, v) / (F.lit(norm_py(c)) * nv)
        structs.append(F.struct(cos_i.alias("cos"), F.lit(-i).alias("negi")))
    best = F.greatest(*structs)
    return (F.lit(0) - best["negi"]).cast("int")


def ivf_topk(
    embeddings: DataFrame, query: list[float], k: int = 10, n_lists: int = 16,
    n_probe: int = 4, iters: int = 2, centroids: list[list[float]] | None = None,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN: coarse-quantize vectors to their nearest centroid
    (inverted lists), score only the ``n_probe`` lists nearest the query —
    the classic FAISS IVF-Flat discipline as pure DataFrame ops.

    Scale shape: list assignment is a stateless map over the corpus (and
    on a real deployment is precomputed once and stored as a partition
    column, making the probe a PARTITION-PRUNED scan); the probe reads
    ~n_probe/n_lists of the data, broadcast-joins nothing, and finishes
    with TakeOrdered(k). Recall on genuinely-near neighbors is pinned by
    test + driver oracle (vs exact brute force)."""
    cents = centroids or kmeans_centroids(embeddings, n_lists, iters, id_col, vec_col)
    qcos = [
        (sum(a * b for a, b in zip(query, c))
         / ((sum(a * a for a in query) ** 0.5) * (sum(b * b for b in c) ** 0.5 or 1.0)), i)
        for i, c in enumerate(cents)
    ]
    probes = [i for _, i in sorted(qcos, reverse=True)[:n_probe]]
    # r6: materialize v + norm once, hoisted-norms argmax + final cosine
    # reusing the materialized norm (same doubles as the HOF forms)
    qv = F.array(*[F.lit(float(x)) for x in query])
    assigned = (
        embeddings.select(F.col(id_col), _dbl(embeddings, vec_col).alias("v"))
        .withColumn("_nv", norm(F.col("v")))
        .withColumn("cluster", _argmax_cos_lit(cents, F.col("v"), F.col("_nv")))
    )
    return (
        assigned.where(F.col("cluster").isin(probes))
        .select(
            F.col(id_col),
            F.round(
                dot(F.col("v"), qv) / (F.col("_nv") * F.lit(norm_py(query))), 6
            ).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.col(id_col))
        .limit(k)
    )


def ivf_topk_join(
    queries: DataFrame, corpus: DataFrame, k: int = 10, n_lists: int = 16,
    n_probe: int = 4, iters: int = 2, centroids: list[list[float]] | None = None,
    query_id_col: str = "query_id", query_vec_col: str = "embedding",
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Batch-query IVF ANN: exact-cosine top-*k* corpus rows for EVERY
    row of a query TABLE (retrieval / dedup-vs-index — the shape a
    training-data pipeline needs; ``ivf_topk`` handles one driver-side
    literal vector, this joins 10^6 queries in one job).

    Plan shape: corpus rows map statelessly to their nearest-centroid
    inverted list (on a real deployment: a precomputed partition column ⇒
    the join prunes partitions); each query row explodes into its
    ``n_probe`` nearest lists (pure JVM expressions — sort the k·dim
    centroid codebook literal per row, slice, explode); one equi-join on
    list id co-locates every query with exactly the corpus fraction it
    must score; per-query top-k is a bounded window over ~n_probe/n_lists
    of the corpus. Nothing is ever all-pairs and the only shuffle keys on
    the list id. Per-vector norms are precomputed once on each side.

    Returns (query_id, vec_id, cos, rank) rows, rank 1..k by
    (cos DESC, vec_id) — ties deterministic, SQL-reproducible.
    """
    from pyspark.sql import Window

    cents = centroids or kmeans_centroids(corpus, n_lists, iters, id_col, vec_col)
    # r6: both sides materialize vector + norm once; corpus assignment and
    # per-query probe scoring use the hoisted-norms forms (bit-identical —
    # see _argmax_cos_lit; the old shape re-evaluated the _as_double cast
    # and norms per centroid per row)
    assigned = (
        corpus.select(F.col(id_col), _dbl(corpus, vec_col).alias("_cv"))
        .withColumn("_cn", norm(F.col("_cv")))
        .withColumn("_list", _argmax_cos_lit(cents, F.col("_cv"), F.col("_cn")))
    )

    # per-query probe lists: struct(-cos, i) sorts ascending ⇒ best first
    q0 = queries.select(
        F.col(query_id_col).alias("query_id"), _dbl(queries, query_vec_col).alias("_qv")
    ).withColumn("_qn", norm(F.col("_qv")))
    scored = F.array(*[
        F.struct(
            (-(dot(F.array(*[F.lit(float(x)) for x in c]), F.col("_qv"))
               / (F.lit(norm_py(c)) * F.col("_qn")))).alias("negcos"),
            F.lit(i).alias("i"),
        )
        for i, c in enumerate(cents)
    ]) if cents else F.array().cast("array<struct<negcos:double,i:int>>")
    probes = F.slice(F.array_sort(scored), 1, n_probe)
    q = q0.select(
        "query_id", "_qv", "_qn",
        F.explode(F.transform(probes, lambda s: s["i"])).alias("_list"),
    )
    pair_cos = dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.col(id_col))
    return (
        q.join(assigned, "_list")
        .select("query_id", F.col(id_col), F.round(pair_cos, 6).alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def semantic_dedup(
    embeddings: DataFrame, threshold: float = 0.95, n_clusters: int = 8,
    centroids: list[list[float]] | None = None, quantizer: str = "kmeans",
    id_col: str = "vec_id", vec_col: str = "embedding",
    max_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., 2023, arXiv
    2303.09540): coarse-cluster the corpus, then remove near-duplicates
    ONLY within each cluster — the trick that turns an O(n²) cosine sweep
    into per-cluster work bounded by the largest cluster.

    Removal rule (deterministic, order-free — simplified from the paper's
    keep-random-exemplar): drop x iff some y with a smaller id sits in the
    same cluster with cos(x, y) ≥ *threshold*. The survivor of each
    duplicate chain is its lowest id.

    *quantizer*: ``"kmeans"`` assigns by argmax-cosine against *centroids*
    (or Lloyd-learned ones); ``"signbits"`` hashes the signs of the first
    log2(n_clusters) components — axis-aligned hyperplane LSH, float-exact
    and SQL-reproducible (near-parallel vectors agree on every sign with
    overwhelming probability, exact copies always).

    Scale shape: cluster assignment is a stateless map over the corpus (no
    shuffle; on a real deployment it's a precomputed partition column);
    the only shuffle is the self-join keyed on (cluster), whose fan-out is
    bounded by cluster size — never all-pairs across the corpus. Size
    *n_clusters* to the corpus: per-cluster work is O((n/k)²), so keep
    n/k at ~10^4-10^5 vectors (SemDeDup uses k=50k on LAION-scale data);
    the 8-cluster default here is the small-fixture/oracle setting.

    *max_cluster_size* (round-3 skew guard): a real corpus can dump most
    rows into ONE cluster, degrading the pair join toward all-pairs. When
    set, clusters over the cap are subdivided for PAIRING ONLY by
    additional axis-aligned sign bits (components after the ones the
    signbits quantizer consumed), enough bits to bound the expected
    sub-cluster at the cap. Near-parallel vectors agree on every sign
    w.h.p. and exact copies always do, so planted/true duplicates still
    collide; a straddling near-dup pair is the same recall tradeoff the
    coarse quantizer itself already makes. The REPORTED ``cluster``
    column stays the primary cluster either way.

    Returns (id, cluster int, kept boolean) for every input row.
    """
    import math

    base = embeddings.select(F.col(id_col), _dbl(embeddings, vec_col).alias("v"))
    if quantizer == "signbits":
        n_bits = max(1, (n_clusters - 1).bit_length())
        cluster = sum(
            (F.element_at(F.col("v"), i + 1) >= 0).cast("int") * (2 ** i)
            for i in range(n_bits)
        )
        assigned = base.withColumn("cluster", cluster).cache()
        sub_start = n_bits  # secondary bits must use fresh components
    else:
        cents = centroids or kmeans_centroids(embeddings, n_clusters, 2, id_col, vec_col)
        # r6: hoisted-norms argmax over a once-materialized norm
        # (bit-identical to the HOF fold — see _argmax_cos_lit)
        assigned = (
            base.withColumn("_nrm", norm(F.col("v")))
            .withColumn("cluster", _argmax_cos_lit(cents, F.col("v"), F.col("_nrm")))
            .select(id_col, "v", "cluster")
            .cache()
        )
        sub_start = 0
    # pairing key = (cluster, sub); sub stays 0 unless the skew guard
    # splits an oversized cluster
    assigned = assigned.withColumn("sub", F.lit(0))
    if max_cluster_size:
        sizes = assigned.groupBy("cluster").count().collect()  # n_clusters rows
        over = [r["cluster"] for r in sizes if r["count"] > max_cluster_size]
        if over:
            worst = max(r["count"] for r in sizes)
            dim = len(base.select("v").limit(1).collect()[0][0])
            extra = min(
                max(1, math.ceil(math.log2(worst / max_cluster_size))),
                max(dim - sub_start, 0),
            )
            sub = sum(
                (F.element_at(F.col("v"), sub_start + i + 1) >= 0).cast("int") * (2 ** i)
                for i in range(extra)
            )
            assigned = assigned.withColumn(
                "sub", F.when(F.col("cluster").isin(over), sub).otherwise(F.lit(0))
            )
    # per-vector norm computed ONCE (same dot/(√·√) arithmetic the SQL
    # oracle uses, so rounded cosines stay identical — just not
    # recomputed for every pair; pairs then cost one dot product)
    assigned = assigned.withColumn("nrm", norm(F.col("v")))
    a, b = assigned.alias("a"), assigned.alias("b")
    pair_cos = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    dup_ids = (
        a.join(b, (F.col("a.cluster") == F.col("b.cluster"))
               & (F.col("a.sub") == F.col("b.sub"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .where(F.round(pair_cos, 6) >= threshold)
        .select(F.col(f"b.{id_col}").alias(id_col))
        .distinct()
    )
    return (
        assigned.join(dup_ids.withColumn("_dup", F.lit(True)), id_col, "left")
        .select(
            id_col,
            F.col("cluster").cast("int").alias("cluster"),
            F.coalesce(~F.col("_dup"), F.lit(True)).alias("kept"),
        )
    )


def assign_semantic_clusters(
    embeddings: DataFrame, n_clusters: int = 8,
    centroids: list[list[float]] | None = None, quantizer: str = "signbits",
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Stateless cluster assignment shared by :func:`semantic_dedup` and
    :func:`semantic_dedup_join` — returns (id, v double[], nrm, cluster).
    For ``"kmeans"`` the caller supplies the codebook (the corpus's
    EXISTING centroids in the incremental path); ``"signbits"`` needs no
    codebook at all, so batch and corpus agree by construction. On a real
    deployment this frame is the corpus's precomputed partition layout —
    a table written once, not recomputed per ingest."""
    base = embeddings.select(F.col(id_col), _dbl(embeddings, vec_col).alias("v"))
    if quantizer == "signbits":
        n_bits = max(1, (n_clusters - 1).bit_length())
        cluster = sum(
            (F.element_at(F.col("v"), i + 1) >= 0).cast("int") * (2 ** i)
            for i in range(n_bits)
        )
        return base.withColumn("cluster", cluster).withColumn("nrm", norm(F.col("v")))
    if centroids is None:
        raise ValueError("kmeans assignment needs the corpus's centroids")
    # r6: hoisted-norms argmax over the materialized norm (bit-identical)
    return (
        base.withColumn("nrm", norm(F.col("v")))
        .withColumn("cluster", _argmax_cos_lit(centroids, F.col("v"), F.col("nrm")))
        .select(id_col, "v", "cluster", "nrm")
    )


def semantic_dedup_join(
    batch: DataFrame, corpus: DataFrame, threshold: float = 0.95,
    n_clusters: int = 8, centroids: list[list[float]] | None = None,
    quantizer: str = "signbits", id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """INCREMENTAL semantic dedup (round-4): the embedding twin of
    :func:`textops.minhash_dedup_join` — an incoming batch is assigned to
    the corpus's EXISTING clusters (same quantizer/codebook the corpus
    was laid out with), and a batch row is dropped iff some corpus row in
    its cluster has cos ≥ *threshold*. The corpus is NEVER self-joined:
    per-ingest cost is O(batch + batch×(colliding cluster slices)),
    independent of corpus size — the shape a continuously-growing 100 TB
    embedding store actually runs at ingest (one-shot corpus sweeps are
    :func:`semantic_dedup`).

    Scale shape: batch assignment is a stateless map (no shuffle); the
    corpus side is a precomputable assigned/normed table (recomputed here
    for self-containment — pass the corpus through
    :func:`assign_semantic_clusters` once and persist it in deployment,
    exactly like minhash_dedup_join's corpus_bands); the only shuffle
    keys on cluster id, fan-out bounded by the batch's share of each
    cluster. Batch-internal duplicates are deliberately NOT dropped here
    (they arrive together and are the one-shot op's job on the batch
    alone); ids must be disjoint across the two tables (caller contract).

    Returns (id, cluster int, kept boolean) for every batch row.
    """
    cassigned = assign_semantic_clusters(
        corpus, n_clusters, centroids, quantizer, id_col, vec_col
    )
    bassigned = assign_semantic_clusters(
        batch, n_clusters, centroids, quantizer, id_col, vec_col
    )
    a = bassigned.alias("a")
    b = cassigned.alias("b")
    pair_cos = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    dup_ids = (
        a.join(b, "cluster")
        .where(F.round(pair_cos, 6) >= threshold)
        .select(F.col(f"a.{id_col}").alias(id_col))
        .distinct()
    )
    return (
        bassigned.join(dup_ids.withColumn("_dup", F.lit(True)), id_col, "left")
        .select(
            id_col,
            F.col("cluster").cast("int").alias("cluster"),
            F.coalesce(~F.col("_dup"), F.lit(True)).alias("kept"),
        )
    )
