"""Training-data operators: exactness vs independent Python recomputation
(these are the rows-only queries' correctness backstop)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from frontier_engine import textops as X

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),          # exact dup of 0
    (2, "the quick brown fox leaps over the lazy dog"),           # near dup
    (3, "el rápido zorro marrón salta sobre el perro perezoso que duerme"),
    (4, "le renard brun rapide saute par dessus le chien paresseux est une"),
    (5, "der schnelle braune fuchs springt über den faulen hund und das ist"),
    (6, "completely different text about databases and query engines here"),
    (7, "  THE   Quick Brown fox JUMPS over the lazy dog  "),     # normalizes to 0
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(pd.DataFrame(DOCS, columns=["doc_id", "text"]))


def _py_shingles(text, n=3):
    import re

    words = re.sub(r"\s+", " ", text.strip().lower()).split(" ")
    return {" ".join(words[i : i + n]) for i in range(max(len(words) - n + 1, 0))}


def test_exact_dedup(docs):
    out = {r.doc_id: r.dup_count for r in X.exact_dedup(docs).collect()}
    assert out[0] == 3  # 0, 1, 7 normalize identically
    assert out[2] == 1


def test_word_shingles_match_python(spark, docs):
    rows = docs.select("doc_id", "text", X.word_shingles(F.col("text"), 3).alias("sh")).collect()
    for r in rows:
        assert set(r.sh) == _py_shingles(r.text), r.doc_id


def test_jaccard_pairs_exact(spark, docs):
    pairs = spark.createDataFrame(pd.DataFrame({"id_a": [0, 0], "id_b": [2, 6]}))
    out = {(r.id_a, r.id_b): r.jaccard for r in X.jaccard_pairs(docs, pairs, threshold=0.0).collect()}
    a, b = _py_shingles(DOCS[0][1]), _py_shingles(DOCS[2][1])
    assert abs(out[(0, 2)] - len(a & b) / len(a | b)) < 1e-12
    assert out[(0, 6)] == 0.0 or (0, 6) not in out


def test_minhash_finds_near_dups(docs):
    got = {(r.id_a, r.id_b) for r in X.minhash_dedup_pairs(docs, threshold=0.5).collect()}
    assert (0, 1) in got and (0, 7) in got and (1, 7) in got
    assert (0, 2) not in got  # one word changed → jaccard 0.4 < 0.5
    # at jaccard 0.4 the default 8×4 banding keeps candidate probability
    # ~0.19 (the S-curve); 16×2 banding (~0.94) catches it
    low = {
        (r.id_a, r.id_b)
        for r in X.minhash_dedup_pairs(docs, num_hashes=32, bands=16, threshold=0.3).collect()
    }
    assert (0, 2) in low
    assert all(6 not in p for p in got)


def test_minhash_no_false_positives(docs):
    # every returned pair must truly exceed the threshold (exact verify)
    for r in X.minhash_dedup_pairs(docs, threshold=0.5).collect():
        a = _py_shingles(DOCS[r.id_a][1])
        b = _py_shingles(DOCS[r.id_b][1])
        assert len(a & b) / len(a | b) >= 0.5


def test_simhash_identical_and_near(docs):
    sh = {r.doc_id: r.simhash for r in X.simhash(docs).collect()}
    assert sh[0] == sh[1] == sh[7]  # identical normalized text
    ham = bin((sh[0] ^ sh[2]) & ((1 << 64) - 1)).count("1")
    ham_far = bin((sh[0] ^ sh[6]) & ((1 << 64) - 1)).count("1")
    assert ham < ham_far


def test_simhash_near_pairs(docs):
    got = {(r.id_a, r.id_b): r.hamming for r in X.simhash_near_pairs(docs, max_hamming=10).collect()}
    assert got[(0, 1)] == 0 and got[(0, 7)] == 0
    assert all(6 not in p for p in got)


def test_lang_id(docs):
    out = {r.doc_id: r.pred_lang for r in X.lang_id(docs).collect()}
    assert out[0] == "en" and out[3] == "es" and out[4] == "fr" and out[5] == "de"


def test_quality_and_tokens(docs):
    q = {r.doc_id: r for r in X.quality_score(docs).collect()}
    assert q[0].n_words == 9
    assert q[0].passes_quality
    t = {r.doc_id: r for r in X.token_counts(docs).collect()}
    assert t[0].ws_tokens == 9
    assert t[7].ws_tokens == 9  # \s+ split of trimmed text


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": ["alpha beta gamma", "gamma beta alpha"]})
    )
    fp = {r.doc_id: r.fingerprint for r in X.doc_fingerprint_md5(df).collect()}
    assert fp[0] != fp[1]


def test_duplicate_spans_exact(spark):
    """Planted shared span: docs 1 and 2 share one 6-word span; doc 3 is
    all-unique; doc 4 too short for any span. Recomputed exactly."""
    from frontier_engine.textops import duplicate_spans

    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, f"{shared} one two three"),
        (2, f"zero {shared} nine"),
        (3, "q w e r t y u i o p"),
        (4, "too short"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.n_spans, r.n_dup_spans, r.dup_ratio)
           for r in duplicate_spans(df, n=6).collect()}
    # doc 1: 9 words -> 4 spans; spans of doc 2 (8 words -> 3 spans):
    # 'zero alpha..epsilon', 'alpha..zeta'(shared), 'beta..zeta nine'
    assert out[1][0] == 4 and out[1][1] == 1
    assert out[2][0] == 3 and out[2][1] == 1
    assert out[3] == (5, 0, 0.0)
    assert 4 not in out  # no 6-word span
    assert abs(out[1][2] - 0.25) < 1e-9


def test_minhash_dedup_join_incremental(spark):
    """Round-3 incremental ingest dedup: new-batch vs corpus pairs only —
    never corpus×corpus — with exact-Jaccard values."""
    from frontier_engine.textops import minhash_dedup_join

    corpus_rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again today"),
        (2, "a completely different document about spark shuffles and joins here"),
        (3, "the quick brown fox jumps over the lazy dog again and again today"),  # dup of 1
    ]
    new_rows = [
        (101, "the quick brown fox jumps over the lazy dog again and again today"),  # dup of 1,3
        (102, "totally novel text that matches nothing in the existing corpus at all"),
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")
    got = {(r.id_a, r.id_b): r.jaccard for r in minhash_dedup_join(new, corpus).collect()}
    assert set(got) == {(101, 1), (101, 3)}
    assert all(j == 1.0 for j in got.values())


def test_minhash_dedup_join_precomputed_corpus_bands(spark, tmp_path):
    """r4 (VERDICT ask #5): with a persisted corpus_bands table, N
    ingests reuse the bands — the plan scans the corpus docs exactly ONCE
    (the candidate-verify semi-join), never re-shingling/re-hashing the
    corpus, and the output is identical to the self-contained variant."""
    from frontier_engine.textops import corpus_band_table, minhash_dedup_join

    corpus_rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again today"),
        (2, "a completely different document about spark shuffles and joins here"),
        (3, "the quick brown fox jumps over the lazy dog again and again today"),
    ]
    new_rows = [
        (101, "the quick brown fox jumps over the lazy dog again and again today"),
        (102, "totally novel text that matches nothing in the existing corpus at all"),
    ]
    corpus_path = str(tmp_path / "corpus_docs")
    bands_path = str(tmp_path / "corpus_bands")
    spark.createDataFrame(corpus_rows, "doc_id long, text string").write.parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)
    # computed ONCE, persisted — the deployment shape
    corpus_band_table(corpus).write.parquet(bands_path)
    bands = spark.read.parquet(bands_path)

    new = spark.createDataFrame(new_rows, "doc_id long, text string")
    out = minhash_dedup_join(new, corpus, corpus_bands=bands)
    # corpus docs scanned exactly once (exact verify), bands table once;
    # a recomputed band side would scan the docs a second time. Count
    # parquet scan nodes by source path (plan strings truncate, so walk
    # the optimized logical plan's leaf relations).
    leaves = out._jdf.queryExecution().optimizedPlan().collectLeaves()
    scans = [str(leaves.apply(i)) for i in range(leaves.size())]
    parquet = [s for s in scans if "parquet" in s]
    # r6 shape: the candidate set (batch bands ⋈ persisted bands table)
    # is checkpointed at build — the bands parquet was read exactly once
    # there — so the returned plan holds ONE parquet relation: a single
    # scan of the corpus docs (text schema — the semi-filtered exact
    # verify). A recomputed band side would surface the docs parquet a
    # second time.
    assert len(parquet) == 1, scans
    assert sum("text#" in s for s in parquet) == 1, scans

    got = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    want = {
        (r.id_a, r.id_b): r.jaccard for r in minhash_dedup_join(new, corpus).collect()
    }
    assert got == want == {(101, 1): 1.0, (101, 3): 1.0}
    # second ingest against the SAME persisted bands — no rebuild
    new2 = spark.createDataFrame(
        [(201, "a completely different document about spark shuffles and joins here")],
        "doc_id long, text string",
    )
    got2 = {
        (r.id_a, r.id_b)
        for r in minhash_dedup_join(new2, corpus, corpus_bands=bands).collect()
    }
    assert got2 == {(201, 2)}


def test_stratified_sample_quota_and_determinism(spark):
    """Round-3 data-mixing op: per-group quotas exact, groups without a
    quota dropped, result deterministic and salt-invariant."""
    import pyspark.sql.functions as F

    from frontier_engine.textops import stratified_sample

    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 6, "en")
        .when(F.col("id") % 10 < 8, "de")
        .when(F.col("id") % 10 < 9, "fr")
        .otherwise("zz").alias("lang"),
    )
    quotas = {"en": 15, "de": 40, "fr": 5}  # de quota (40) > group size (40 exactly)
    out = stratified_sample(df, quotas, group_col="lang", id_col="doc_id")
    counts = {r.lang: r.cnt for r in out.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    assert counts == {"en": 15, "de": 40, "fr": 5}  # zz dropped; de capped at size
    rows1 = sorted((r.doc_id, r.lang, r.sample_rank) for r in out.collect())
    rows2 = sorted((r.doc_id, r.lang, r.sample_rank) for r in out.collect())
    unsalted = sorted(
        (r.doc_id, r.lang, r.sample_rank)
        for r in stratified_sample(df, quotas, group_col="lang", salt_partitions=1).collect()
    )
    assert rows1 == rows2 == unsalted  # deterministic AND salt-invariant


def test_bigram_lm_score_matches_python_twin(spark):
    """Round-4 bigram-LM scorer vs a driver-side pure-Python twin: train
    on a small corpus, score BOTH the corpus (no OOV) and a fresh batch
    with unseen words/pairs, plus a 1-word doc (no bigrams → null)."""
    import math

    from frontier_engine.textops import bigram_lm, lm_score

    corpus_rows = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat on the rug"),
        (3, "a cat and a dog"),
    ]
    batch_rows = [
        (10, "the cat sat"),            # all in-vocab pairs
        (11, "the zebra jumped high"),  # OOV words and pairs
        (12, "mat"),                    # 1 word → no bigrams
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")

    ALPHA = 0.5
    # python twin
    def words(t):
        return t.lower().split()

    c12, c1, vocab = {}, {}, set()
    for _, t in corpus_rows:
        ws = words(t)
        vocab.update(ws)
        for a, b in zip(ws, ws[1:]):
            c12[(a, b)] = c12.get((a, b), 0) + 1
            c1[a] = c1.get(a, 0) + 1
    V = len(vocab)

    def expected(t):
        ws = words(t)
        pairs = list(zip(ws, ws[1:]))
        if not pairs:
            return (0, None, None)
        lp = sum(
            math.log((c12.get(p, 0) + ALPHA) / (c1.get(p[0], 0) + ALPHA * V))
            for p in pairs
        ) / len(pairs)
        return (len(pairs), round(lp, 6), round(math.exp(-lp), 6))

    uni, bi, voc = bigram_lm(corpus)
    assert voc.first()["vocab_size"] == V
    for rows, df in ((corpus_rows, corpus), (batch_rows, batch)):
        got = {
            r["doc_id"]: (r["lm_bigrams"], r["lm_logprob"], r["lm_ppl"])
            for r in lm_score(df, uni, bi, voc, alpha=ALPHA).collect()
        }
        for doc_id, t in rows:
            assert got[doc_id] == expected(t), (doc_id, got[doc_id], expected(t))


def test_bigram_lm_min_count_prunes_pairs(spark):
    """min_count prunes singleton bigrams from the LM table; pruned pairs
    score as unseen (smoothing only), seen pairs unchanged."""
    from frontier_engine.textops import bigram_lm

    corpus = spark.createDataFrame(
        [(1, "x y x y"), (2, "x y z")], "doc_id long, text string"
    )
    _, bi_all, _ = bigram_lm(corpus, min_count=1)
    _, bi_pruned, _ = bigram_lm(corpus, min_count=2)
    all_pairs = {(r["w1"], r["w2"]): r["c12"] for r in bi_all.collect()}
    pruned = {(r["w1"], r["w2"]): r["c12"] for r in bi_pruned.collect()}
    assert all_pairs == {("x", "y"): 3, ("y", "x"): 1, ("y", "z"): 1}
    assert pruned == {("x", "y"): 3}


def test_repetition_metrics_match_python(spark):
    """Gopher repetition family vs an independent Python recomputation,
    including engineered repetition (doc 10: one word soup; doc 11: a
    repeated 5-gram; doc 12: too short for any n≥5 gram)."""
    import re
    from collections import Counter

    rows = [
        (10, "spam spam spam spam spam spam"),
        (11, "a b c d e a b c d e a b c d e x y z"),
        (12, "just four tiny words"),
        (13, DOCS[0][1]),
        (14, DOCS[6][1]),
        (15, "  Mixed   CASE  mixed case MIXED case  "),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))

    def expected(t):
        norm = re.sub(r"\s+", " ", t.strip().lower())
        ws = norm.split(" ")
        n_chars = len(norm)

        def grams(n):
            return Counter(
                " ".join(ws[i : i + n]) for i in range(max(len(ws) - n + 1, 0))
            )

        out = {"word_rep_frac": round(1.0 - len(set(ws)) / len(ws), 6)}
        for n in (2, 3, 4):
            g = grams(n)
            top = max((c * len(s) for s, c in g.items()), default=None)
            out[f"top{n}gram_char_frac"] = round(
                (top / max(n_chars, 1)) if top is not None else 0.0, 6
            )
        for n in (2, 3, 5, 10):
            g = grams(n)
            tot = sum(c * len(s) for s, c in g.items())
            dup = sum(c * len(s) for s, c in g.items() if c > 1)
            out[f"dup{n}gram_char_frac"] = round(dup / tot, 6) if tot else 0.0
        return out

    got = {r["doc_id"]: r.asDict() for r in X.repetition_metrics(df).collect()}
    for doc_id, t in rows:
        want = expected(t)
        for k, v in want.items():
            assert got[doc_id][k] == pytest.approx(v, abs=1e-9), (doc_id, k, got[doc_id][k], v)
    # sanity of the signal itself: pure repetition maxes out, clean text
    # stays near zero
    assert got[10]["word_rep_frac"] > 0.8
    assert got[10]["dup5gram_char_frac"] == 1.0
    assert got[11]["dup5gram_char_frac"] > 0.5
    assert got[12]["dup5gram_char_frac"] == 0.0
    assert got[14]["word_rep_frac"] == 0.0


def test_dsir_select_prefers_target_like_docs(spark):
    """DSIR importance resampling: raw corpus = 40 'database' docs + 40
    'cooking' docs; target = 6 fresh cooking docs. The selected half must
    be overwhelmingly cooking (importance weights dominate the Gumbel
    noise), deterministic across calls, and exactly k rows."""
    from frontier_engine.textops import dsir_select

    cook = "recipe oven butter flour sugar bake whisk dough salt pan stir mix"
    db = "query index join table scan shuffle partition column row filter sort merge"

    def mk(i, base, extra):
        ws = base.split()
        return (i, " ".join(ws[i % 3 :] + ws[: i % 3]) + f" {extra}{i % 7}")

    raw_rows = [mk(i, db, "sys") for i in range(40)] + [
        mk(100 + i, cook, "dish") for i in range(40)
    ]
    tgt_rows = [mk(1000 + i, cook, "meal") for i in range(6)]
    raw = spark.createDataFrame(pd.DataFrame(raw_rows, columns=["doc_id", "text"]))
    tgt = spark.createDataFrame(pd.DataFrame(tgt_rows, columns=["doc_id", "text"]))

    out1 = dsir_select(raw, tgt, k=20).collect()
    assert len(out1) == 20
    cooking_hits = sum(1 for r in out1 if r.doc_id >= 100)
    assert cooking_hits >= 18, [r.doc_id for r in out1]
    # deterministic: same seed → identical set and keys
    out2 = dsir_select(raw, tgt, k=20).collect()
    assert [(r.doc_id, r.dsir_key) for r in out1] == [
        (r.doc_id, r.dsir_key) for r in out2
    ]
    # a different seed reshuffles the Gumbel noise but keeps the
    # target-domain preference
    out3 = dsir_select(raw, tgt, k=20, seed=99).collect()
    assert sum(1 for r in out3 if r.doc_id >= 100) >= 18
    # weights: every selected cooking doc outweighs every database doc
    w = {r.doc_id: r.dsir_log_w for r in out1}
    if any(d < 100 for d in w) and any(d >= 100 for d in w):
        assert min(v for d, v in w.items() if d >= 100) > max(
            v for d, v in w.items() if d < 100
        )


def test_decontaminate_flags_benchmark_overlap(spark):
    """Planted contamination: doc 1 embeds a benchmark 8-gram verbatim,
    doc 2 is clean, doc 3 shares only a 7-gram (below n=8 → clean),
    doc 4 IS a benchmark doc (full self-overlap)."""
    from frontier_engine.textops import decontaminate

    bench_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    seven = "alpha beta gamma delta epsilon zeta eta"
    rows = [
        (1, f"intro words then {bench_text} trailing text"),
        (2, "totally unrelated content about query engines and shuffles"),
        (3, f"prefix {seven} different suffix entirely here"),
        (4, bench_text),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bmk = spark.createDataFrame([(100, bench_text)], "doc_id long, text string")
    out = {r.doc_id: (r.contaminated_ngrams, r.contaminated)
           for r in decontaminate(docs, bmk, n=8).collect()}
    assert out[1][1] and out[1][0] == 3  # 10-word bench text → 3 shared 8-grams
    assert out[2] == (0, False)
    assert out[3] == (0, False)
    assert out[4][1] and out[4][0] == 3
    assert len(out) == 4  # clean docs keep their row


# ---------------------------------------------------------------------------
# webtext cleaning + packing (r4)
# ---------------------------------------------------------------------------

CLEAN_DOCS = [
    (0, "See my notes at alice@example.com and 10.0.3.1 or +1-555-0199 soon.\n"
        "Enable JavaScript to view.\nShare.\nThe quick brown fox jumps here."),
    (1, "no pii here at all\nEnable JavaScript to view.\n"
        "All rights reserved worldwide."),
    (2, "Enable JavaScript to view.\nAll rights reserved worldwide.\n"
        "Genuine unique sentence number two."),
    (3, "All rights reserved worldwide.\nAnother genuine line stays put."),
    (4, "Write bob@mail.test.org twice bob@mail.test.org and 192.168.0.1.\n"
        "This doc has lorem ipsum inside."),
]


@pytest.fixture(scope="module")
def clean_docs(spark):
    return spark.createDataFrame(pd.DataFrame(CLEAN_DOCS, columns=["doc_id", "text"]))


def test_pii_redact_masks_and_counts(clean_docs):
    import re

    out = {r.doc_id: r for r in X.pii_redact(clean_docs).collect()}
    assert out[0].n_emails == 1 and out[0].n_ips == 1 and out[0].n_phones == 1
    assert "<EMAIL>" in out[0].clean_text and "<IP>" in out[0].clean_text
    assert "alice@example.com" not in out[0].clean_text
    assert out[4].n_emails == 2 and out[4].n_ips == 1
    assert out[1].clean_text == CLEAN_DOCS[1][1]  # untouched when no PII
    # python-twin parity on every doc
    for doc_id, text in CLEAN_DOCS:
        t = re.sub(X.PII_EMAIL_RE, "<EMAIL>", text)
        t = re.sub(X.PII_IP_RE, "<IP>", t)
        t = re.sub(X.PII_PHONE_RE, "<PHONE>", t)
        assert out[doc_id].clean_text == t


def test_c4_line_filter_rules(clean_docs):
    out = {r.doc_id: r for r in X.c4_line_filter(clean_docs).collect()}
    # doc 0: javascript line + 1-word "Share." dropped, 2 survive
    assert out[0].lines_kept == 2 and out[0].lines_total == 4
    assert "JavaScript" not in out[0].c4_text and "Share." not in out[0].c4_text
    # doc 1: unterminated line + javascript line dropped
    assert out[1].c4_text == "All rights reserved worldwide."
    # doc 4: 'lorem ipsum' flags the whole doc
    assert out[4].doc_kept is False
    assert all(out[i].doc_kept for i in (0, 1, 2, 3))


def test_repeated_line_dedup_drops_corpus_boilerplate(clean_docs):
    out = {r.doc_id: r for r in X.repeated_line_dedup(clean_docs, min_docs=3).collect()}
    # 'Enable JavaScript to view.' (docs 0,1,2) and 'All rights reserved
    # worldwide.' (docs 1,2,3) hit min_docs=3 and vanish everywhere
    for r in out.values():
        assert "Enable JavaScript" not in r.dedup_text
        assert "All rights reserved" not in r.dedup_text
    # line order within the doc is preserved
    assert out[0].dedup_text.split("\n")[0].startswith("See my notes")
    assert out[0].dedup_text.split("\n")[-1] == "The quick brown fox jumps here."
    assert out[1].lines_dropped == 2 and out[1].lines_total == 3
    # a doc that loses every line keeps a row with empty text
    only_boiler = clean_docs.sparkSession.createDataFrame(
        pd.DataFrame(
            CLEAN_DOCS + [(9, "Enable JavaScript to view.")],
            columns=["doc_id", "text"],
        )
    )
    r9 = {r.doc_id: r for r in X.repeated_line_dedup(only_boiler, min_docs=3).collect()}[9]
    assert r9.dedup_text == "" and r9.lines_dropped == 1


def _pack_rows(docs, **kw):
    """Collected pack_sequences_counted rows, collected before the range
    layout is released."""
    out, handle = X.pack_sequences_counted(docs, **kw)
    rows = out.collect()
    handle.unpersist()
    return rows


def test_pack_sequences_invariants(spark, clean_docs):
    S = 16
    packed = _pack_rows(clean_docs, seq_len=S)
    assert {r.method for r in packed} == {"ws"}
    toks = {
        r.doc_id: r.n
        for r in clean_docs.select(
            "doc_id", F.size(F.split("text", r"\s+")).alias("n")
        ).collect()
    }
    total = sum(toks.values())
    # tokens conserved, every doc fully covered by contiguous slices
    assert sum(r.n_toks for r in packed) == total
    by_doc = {}
    for r in packed:
        by_doc.setdefault(r.doc_id, []).append(r)
    for d, rows in by_doc.items():
        rows.sort(key=lambda r: r.tok_start)
        assert rows[0].tok_start == 0
        for a, b in zip(rows, rows[1:]):
            assert a.tok_start + a.n_toks == b.tok_start
            assert b.seq_id == a.seq_id + 1  # doc slices land in adjacent seqs
        assert rows[-1].tok_start + rows[-1].n_toks == toks[d]
    # every sequence holds exactly S tokens except the last
    by_seq = {}
    for r in packed:
        by_seq[r.seq_id] = by_seq.get(r.seq_id, 0) + r.n_toks
    last = max(by_seq)
    for s, n in by_seq.items():
        assert n == S or (s == last and n == total - last * S)
    # deterministic at any parallelism: 1-partition result is identical
    packed1 = _pack_rows(clean_docs.repartition(1), seq_len=S, n_parts=1)
    key = lambda r: (r.seq_id, r.doc_id, r.tok_start, r.n_toks)
    assert sorted(map(key, packed)) == sorted(map(key, packed1))


def test_text_profile_equals_joined_per_row_ops(spark):
    """r6: the one-pass text_profile must equal the four per-row
    operators joined on doc_id, column for column, value for value."""
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    prof = {r["doc_id"]: r.asDict() for r in X.text_profile(d).collect()}
    joined = (
        X.lang_id(d)
        .join(X.quality_score(d), "doc_id")
        .join(X.token_counts(d), "doc_id")
        .join(X.doc_fingerprint_md5(d), "doc_id")
    )
    want = {r["doc_id"]: r.asDict() for r in joined.collect()}
    assert set(prof) == set(want)
    for k, row in want.items():
        for c, v in row.items():
            assert prof[k][c] == v, (k, c, prof[k][c], v)
    # same columns in the same order as the old join chain
    assert X.text_profile(d).columns == joined.columns


def test_pack_sequences_multi_equals_per_method_runs(spark):
    """r6: one range partitioning for N tokenizations must reproduce the
    single-method pack rows exactly, per method."""
    docs = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("tok "), F.col("id").cast("string"),
                 F.lit(" alpha beta gamma delta")).alias("text"),
    )
    counts = {
        "ws": F.size(F.split(F.col("text"), r"\s+")).cast("long"),
        "chars": (F.length("text") % 7).cast("long"),  # exercises zero counts
    }
    multi = _pack_rows(docs, seq_len=8, counts=counts)
    key = lambda r: (r["seq_id"], r["doc_id"], r["tok_start"], r["n_toks"])
    for m, c in counts.items():
        got = sorted(map(key, (r for r in multi if r["method"] == m)))
        # single-method reference: an independent range sampling over the
        # same ids and counts must yield identical assignments (offsets
        # depend only on id order and counts, never on partition
        # boundaries)
        solo = _pack_rows(docs, seq_len=8, counts={m: c})
        assert {r["method"] for r in solo} == {m}
        assert got == sorted(map(key, solo)), m
    # and the ws leg equals the default (whitespace) counts
    ws_rows = sorted(map(key, (r for r in multi if r["method"] == "ws")))
    assert ws_rows == sorted(map(key, _pack_rows(docs, seq_len=8)))


def test_shingle_hash_array_matches_shingle_hash_rows(spark):
    """r6: the per-row array form must carry exactly the distinct chain
    hashes shingle_hash_rows explodes (the verify legs join on them)."""
    d = spark.createDataFrame(
        [(1, "a b c d e a b c d e"), (2, "x y"), (3, "one two three four")],
        "doc_id long, text string",
    )
    rows = {}
    for r in X.shingle_hash_rows(d, n=3).collect():
        rows.setdefault(r["doc_id"], set()).add(r["sh_h"])
    arrs = {
        r["doc_id"]: set(r["sh"])
        for r in d.select("doc_id", X.shingle_hash_array(F.col("text"), 3).alias("sh")).collect()
    }
    for k in arrs:
        assert arrs[k] == rows.get(k, set()), k


def test_spread_small_scan_guard(spark):
    """r6: spreads a 1-partition frame to defaultParallelism; no-op when
    the input already has at least that many partitions."""
    one = spark.range(100).coalesce(1)
    spread = X.spread_small_scan(one.select(F.col("id").alias("doc_id")), "doc_id")
    assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    wide = spark.range(100).repartition(spark.sparkContext.defaultParallelism + 3)
    assert X.spread_small_scan(wide).rdd.getNumPartitions() == (
        spark.sparkContext.defaultParallelism + 3
    )
