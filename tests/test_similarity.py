"""Similarity search: brute-force exactness vs numpy; LSH recall sanity."""

import numpy as np
import pandas as pd
import pytest

from frontier_engine import similarity as S


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(300, 16)).astype("float32")
    vecs[5] = vecs[0] * 2.0 + rng.normal(scale=0.01, size=16).astype("float32")  # near dup of 0
    pdf = pd.DataFrame(
        {"vec_id": range(300), "embedding": [v.tolist() for v in vecs], "label": [i % 4 for i in range(300)]}
    )
    return spark.createDataFrame(pdf), vecs


def test_brute_force_matches_numpy(emb):
    df, vecs = emb
    q = vecs[0].astype("float64")
    got = [(r.vec_id, r.cos) for r in S.brute_force_topk(df, q.tolist(), 10).collect()]
    sims = (vecs.astype("float64") @ q) / (np.linalg.norm(vecs.astype("float64"), axis=1) * np.linalg.norm(q))
    want_ids = np.argsort(-sims)[:10]
    assert got[0][0] == 0 and got[1][0] == 5  # self + planted near-dup
    assert {g[0] for g in got} == set(want_ids.tolist())
    for vid, cos in got:
        assert abs(cos - round(float(sims[vid]), 6)) <= 1e-6


def test_lsh_recall_at_10(emb):
    df, vecs = emb
    q = vecs[0].astype("float64").tolist()
    exact = {r.vec_id for r in S.brute_force_topk(df, q, 10).collect()}
    approx = {r.vec_id for r in S.lsh_topk(df, q, 10, n_planes=8, probe_hamming=2).collect()}
    assert 0 in approx and 5 in approx  # the true near-dup must survive
    assert len(exact & approx) >= 5  # recall@10 ≥ 0.5 with 2-probe


def test_centroid_topk_shapes(emb):
    df, _ = emb
    out = S.all_pairs_topk_per_label(df, k=3).collect()
    assert len(out) == 12  # 4 labels × 3
    by_label = {}
    for r in out:
        by_label.setdefault(r.label, []).append(r)
    assert all(sorted(x["rank"] for x in v) == [1, 2, 3] for v in by_label.values())


def test_embedding_near_dup_pairs(emb):
    df, vecs = emb
    got = {(r.id_a, r.id_b): r.cos for r in S.embedding_near_dup_pairs(df, threshold=0.95).collect()}
    assert (0, 5) in got and got[(0, 5)] > 0.99  # planted near-dup found
    # no false positives: verify every returned pair exactly
    import numpy as np
    v = vecs.astype("float64")
    for (a, b), cos in got.items():
        true = float(v[a] @ v[b] / (np.linalg.norm(v[a]) * np.linalg.norm(v[b])))
        assert true >= 0.95 and abs(true - cos) < 1e-5


def test_ivf_topk_matches_brute_force_on_near_corpus(emb):
    """IVF with n_probe=4 of 16 lists must recall the exact top-10 when
    true neighbors exist (planted mixtures around the query vector)."""
    from pyspark.sql import functions as F

    df, vecs = emb
    q = vecs[0].astype("float64").tolist()
    qcol = F.array(*[F.lit(float(x)).cast("double") for x in q])
    mixtures = (
        df.where((F.col("vec_id") >= 1) & (F.col("vec_id") <= 10))
        .select(
            (F.col("vec_id") + F.lit(100000)).alias("vec_id"),
            F.zip_with(qcol, S._as_double(F.col("embedding")), lambda a, b: a * 0.95 + b * 0.05).alias("embedding"),
            F.col("label"),
        )
    )
    uni = df.select(
        "vec_id", S._as_double(F.col("embedding")).alias("embedding"), "label"
    ).unionByName(mixtures)
    exact = [(r.vec_id, r.cos) for r in S.brute_force_topk(uni, q, k=10).collect()]
    approx = [(r.vec_id, r.cos) for r in S.ivf_topk(uni, q, k=10, n_lists=16, n_probe=4).collect()]
    assert approx == exact


def test_kmeans_centroids_deterministic(emb):
    df, _ = emb
    c1 = S.kmeans_centroids(df, k=8, iters=2)
    c2 = S.kmeans_centroids(df, k=8, iters=2)
    assert c1 == c2
    assert len(c1) == 8 and len(c1[0]) == 16


def test_semantic_dedup_signbits_matches_numpy(emb):
    """Every dropped id must have a smaller-id ≥τ neighbor in ITS cluster;
    every kept id must have none — clusters and cosines recomputed exactly
    in numpy (signbits quantizer is float-exact on both sides)."""
    df, vecs = emb
    out = {r.vec_id: (r.cluster, r.kept) for r in S.semantic_dedup(
        df, threshold=0.95, quantizer="signbits", n_clusters=8).collect()}
    assert len(out) == 300
    assert out[5] == (out[0][0], False)  # planted dup of 0: same cluster, dropped
    assert out[0][1]  # the lowest id of the chain survives

    v = vecs.astype("float64")
    want_cluster = sum(((v[:, i] >= 0).astype(int) << i) for i in range(3))
    sims = (v @ v.T) / (
        np.linalg.norm(v, axis=1)[:, None] * np.linalg.norm(v, axis=1)[None, :]
    )
    for x in range(300):
        assert out[x][0] == want_cluster[x]
        has_earlier_dup = any(
            want_cluster[y] == want_cluster[x] and round(sims[y, x], 6) >= 0.95
            for y in range(x)
        )
        assert out[x][1] == (not has_earlier_dup), x


def test_semantic_dedup_kmeans_quantizer(emb):
    """kmeans path: planted near-dup lands with its original under learned
    centroids and is dropped; survivors are unique per duplicate chain."""
    df, vecs = emb
    out = {r.vec_id: (r.cluster, r.kept) for r in S.semantic_dedup(
        df, threshold=0.95, n_clusters=4).collect()}
    assert len(out) == 300
    assert out[5] == (out[0][0], False) and out[0][1]
    assert sum(1 for c, kept in out.values() if not kept) >= 1


def test_ivf_topk_join_matches_per_query_brute_force(emb, spark):
    """Batch-query IVF ANN (round-3): top-k for a query TABLE must equal
    per-query exact brute force on planted near neighbors — each query is
    a 0.95·q + 0.05·noise mixture whose true neighbors all share the
    query's inverted list."""
    df, vecs = emb
    import pandas as pd

    rng = np.random.default_rng(11)
    base = vecs[0].astype("float64")
    qrows = []
    for qi in range(5):
        mix = 0.95 * base + 0.05 * rng.normal(size=16)
        qrows.append({"query_id": qi, "embedding": mix.tolist()})
    queries = spark.createDataFrame(pd.DataFrame(qrows))
    out = S.ivf_topk_join(queries, df, k=5, n_lists=8, n_probe=3)
    got = {}
    for r in out.collect():
        got.setdefault(r.query_id, []).append((r.rank, r.vec_id, r.cos))
    v = vecs.astype("float64")
    norms = np.linalg.norm(v, axis=1)
    for qi, rows in got.items():
        q = np.array(qrows[qi]["embedding"])
        sims = np.round(v @ q / (norms * np.linalg.norm(q)), 6)
        order = sorted(range(len(v)), key=lambda i: (-sims[i], i))[:5]
        rows.sort()
        assert [vid for _, vid, _ in rows] == order, (qi, rows, order)
        for rk, vid, cos in rows:
            assert abs(cos - sims[vid]) <= 1e-6
    assert set(got) == {0, 1, 2, 3, 4}


def test_semantic_dedup_skew_guard_bounds_pairs_and_keeps_dups(spark):
    """Round-3 skew guard: 90% of the corpus in one sign-bit cluster must
    not degrade the pair join to all-pairs. With the cap, the pairing key
    subdivides the hot cluster, pair counts drop by orders of magnitude,
    and planted EXACT copies (which agree on every sign bit) are still
    dropped — the kept-set matches the unguarded rule on this corpus."""
    import pandas as pd

    rng = np.random.default_rng(3)
    n = 600
    vecs = np.abs(rng.normal(size=(n, 16)))  # all-positive ⇒ one cluster...
    vecs[:, 3:] = rng.normal(size=(n, 13))   # ...but varied secondary signs
    vecs[n // 2:] *= 1.0  # keep magnitudes arbitrary
    copies = vecs[:30].copy()               # exact duplicates
    allv = np.vstack([vecs, copies]).astype("float64")
    pdf = pd.DataFrame({
        "vec_id": range(len(allv)),
        "embedding": [v.tolist() for v in allv],
    })
    df = spark.createDataFrame(pdf)

    unguarded = S.semantic_dedup(df, threshold=0.999999, quantizer="signbits", n_clusters=8)
    guarded = S.semantic_dedup(
        df, threshold=0.999999, quantizer="signbits", n_clusters=8, max_cluster_size=100
    )
    ug = {(r.vec_id, r.cluster, r.kept) for r in unguarded.collect()}
    gd = {(r.vec_id, r.cluster, r.kept) for r in guarded.collect()}
    assert gd == ug  # identical output incl. reported primary cluster
    dropped = {r.vec_id for r in guarded.collect() if not r.kept}
    assert dropped == set(range(n, n + 30))  # every planted copy dropped

    # bounded pair counts: numpy twin of the pairing keys. Primary key =
    # signs of comps 0-2; the guard adds ceil(log2(worst/cap)) sign bits
    # from comps 3.. for oversized clusters.
    prim = (allv[:, :3] >= 0) @ (2 ** np.arange(3))
    sizes = np.bincount(prim.astype(int), minlength=8)
    worst = sizes.max()
    assert worst > 500  # the corpus IS pathologically skewed
    extra = max(1, int(np.ceil(np.log2(worst / 100))))
    sub = (allv[:, 3:3 + extra] >= 0) @ (2 ** np.arange(extra))
    hot = sizes.argmax()
    key = np.where(prim == hot, prim * (2 ** extra) + sub + 1000, prim)
    unguarded_pairs = sum(s * (s - 1) // 2 for s in sizes)
    guarded_pairs = sum(
        s * (s - 1) // 2 for s in np.bincount(key.astype(int) % 100000)
    )
    assert guarded_pairs < unguarded_pairs / 4  # join fan-out bounded


def test_semantic_dedup_join_incremental_numpy_twin(emb, spark):
    """r4 incremental semantic dedup: batch vs corpus only — a batch copy
    of a corpus vector is dropped, genuinely new vectors survive, and the
    kept/dropped set matches a numpy recompute of the exact rule."""
    df, vecs = emb
    import pandas as pd

    batch_vecs = {
        1000: vecs[3].tolist(),                     # exact copy → dropped
        1001: (-vecs[7]).tolist(),                  # anti-parallel → kept
        1002: (vecs[11] * 0.5).tolist(),            # scaled copy, cos=1 → dropped
    }
    batch = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": list(batch_vecs), "embedding": list(batch_vecs.values()),
             "label": [0] * 3}
        )
    )
    out = {r.vec_id: r.kept for r in S.semantic_dedup_join(
        batch, df, threshold=0.95, n_clusters=8, quantizer="signbits"
    ).collect()}
    assert set(out) == set(batch_vecs)

    # numpy twin: same sign-bit clusters, same rounded-cosine rule
    def cluster(v):
        return sum((1 << i) for i in range(3) if v[i] >= 0)

    corp = vecs.astype("float64")
    cclust = np.array([cluster(v) for v in corp])
    for bid, bv in batch_vecs.items():
        b = np.array(bv, dtype="float64")
        mask = cclust == cluster(b)
        cos = (corp[mask] @ b) / (
            np.linalg.norm(corp[mask], axis=1) * np.linalg.norm(b)
        )
        want_kept = not (np.round(cos, 6) >= 0.95).any()
        assert out[bid] == want_kept, bid
    assert out[1000] is False and out[1002] is False and out[1001] is True


def test_semantic_dedup_join_never_self_joins_corpus(emb, spark, tmp_path):
    """The corpus must appear in the pair join exactly once (batch side
    vs corpus side) — never corpus×corpus (the incremental-cost claim)."""
    import pandas as pd

    df, vecs = emb
    corpus_path = str(tmp_path / "sem_corpus")
    df.write.parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)
    batch = spark.createDataFrame(
        pd.DataFrame({"vec_id": [1000], "embedding": [vecs[0].tolist()], "label": [0]})
    )
    out = S.semantic_dedup_join(batch, corpus, quantizer="signbits")
    leaves = out._jdf.queryExecution().optimizedPlan().collectLeaves()
    scans = [str(leaves.apply(i)) for i in range(leaves.size())]
    # exactly ONE parquet scan: the corpus enters the dup join once; the
    # returned frame is built from the BATCH assignment, and a
    # corpus×corpus shape would scan the parquet twice
    assert sum("parquet" in s for s in scans) == 1, scans


def test_embedding_near_dup_pairs_leading_null_vector(spark):
    """A null embedding in the first row must not switch dedup off for
    the whole frame: the planted duplicate pair is still found."""
    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(20, 8))
    vecs[7] = vecs[3] * 1.5
    rows = [(0, None)] + [(i, vecs[i].tolist()) for i in range(1, 20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r.id_a, r.id_b) for r in S.embedding_near_dup_pairs(df, threshold=0.95).collect()}
    assert (3, 7) in got
