"""In-repo BPE: distributed train + JVM replace-chain encode vs an
independent classic (dict/tuple-based, Sennrich-style) reimplementation.

The engine's exactness claim — one delimiter-framed JVM ``replace`` per
merge IS one greedy leftmost BPE merge pass — is what these tests pin,
token-sequence-exact, including overlapping-run pathologies (``aaaaa``)
where naive space-delimited replace tricks diverge.
"""

import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from frontier_engine.bpe import (
    PRETOKEN_RE,
    bpe_encode,
    bpe_token_count_col,
    bpe_train,
)
from frontier_engine.textops import pack_sequences_counted, token_counts


# --------------------------------------------------------------------------
# Independent twin (classic algorithm: tuples + Counter, no string tricks)
# --------------------------------------------------------------------------

def _pretokens(text):
    clean = text.translate({1: None, 2: None, 3: None})
    return re.findall(PRETOKEN_RE, clean)


def _apply_merge(toks, pair):
    out, i = [], 0
    while i < len(toks):
        if i + 1 < len(toks) and (toks[i], toks[i + 1]) == pair:
            out.append(toks[i] + toks[i + 1])
            i += 2
        else:
            out.append(toks[i])
            i += 1
    return tuple(out)


def twin_train(texts, num_merges, min_count=2):
    words = Counter()
    for t in texts:
        words.update(_pretokens(t))
    vocab = {tuple(w): c for w, c in words.items()}
    merges = []
    for _ in range(num_merges):
        pairs = Counter()
        for toks, c in vocab.items():
            for i in range(len(toks) - 1):
                pairs[(toks[i], toks[i + 1])] += c
        if not pairs:
            break
        pair, cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < min_count:
            break
        merges.append(pair)
        vocab = {_apply_merge(toks, pair): c for toks, c in vocab.items()}
    return merges


def twin_encode(text, merges):
    out = []
    for w in _pretokens(text):
        toks = tuple(w)
        for m in merges:
            toks = _apply_merge(toks, m)
        out.extend(toks)
    return out


CORPUS = [
    "the cat sat on the mat the cat sat",
    "a hat, a cat, a flat mat!",
    "aaaaa aaaa aaa ababab",  # overlapping-run pathology
    "scanner scans scan-tables; the scanner rescans",
    "",
    "  \t \n ",
    "\x01weird\x02 control\x03 bytes",  # delimiter hygiene
    "the the the the cat cat cat",
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
    )


@pytest.fixture(scope="module")
def merges(docs):
    return bpe_train(docs, num_merges=16)


def test_train_matches_twin(merges):
    assert merges == twin_train(CORPUS, 16)
    assert len(merges) > 4  # corpus is mergeable; training actually ran


def test_local_and_distributed_training_identical(docs, merges, monkeypatch):
    """r6: the driver-side fast path (one collect + local merge loop) must
    produce byte-identical merges to the distributed per-round loop —
    force the distributed path by zeroing the gate and compare."""
    import frontier_engine.bpe as B

    monkeypatch.setattr(B, "LOCAL_TRAIN_MAX_TYPES", 0)
    distributed = B.bpe_train(docs, num_merges=16)
    assert distributed == merges


def test_min_count_early_stop(spark):
    # every pair unique → best count 1 < min_count → zero merges
    d = spark.createDataFrame([(0, "abcdefg")], "doc_id long, text string")
    assert bpe_train(d, num_merges=8, min_count=2) == []
    # min_count=1 merges all the way down to one token per word
    m = bpe_train(d, num_merges=8, min_count=1)
    assert len(m) == 6
    assert twin_encode("abcdefg", m) == ["abcdefg"]


def test_encode_token_sequences_exact(docs, merges):
    got = {r.doc_id: list(r.bpe_tokens) for r in bpe_encode(docs, merges).collect()}
    for i, t in enumerate(CORPUS):
        assert got[i] == twin_encode(t, merges), (i, t)


def test_overlapping_run_semantics(spark):
    """'aaaaa' with merge (a,a) must yield [aa, aa, a] — greedy leftmost,
    not the [aa, a, aa] a bare space-delimited replace would give —
    and a follow-up (aa,aa) merge must see the adjacency."""
    d = spark.createDataFrame(
        [(0, "aaaaa aaaa"), (1, "aaaa aaaa aa")], "doc_id long, text string"
    )
    m = bpe_train(d, num_merges=2, min_count=1)
    assert m == twin_train(["aaaaa aaaa", "aaaa aaaa aa"], 2, min_count=1)
    got = {r.doc_id: list(r.bpe_tokens) for r in bpe_encode(d, m).collect()}
    assert got[0] == twin_encode("aaaaa aaaa", m)
    assert got[1] == twin_encode("aaaa aaaa aa", m)


def test_token_counts_bpe_column(docs, merges):
    got = {r.doc_id: r.bpe_tokens for r in token_counts(docs, bpe_merges=merges).collect()}
    for i, t in enumerate(CORPUS):
        assert got[i] == len(twin_encode(t, merges)), (i, t)


def test_pack_sequences_bpe(docs, merges):
    asg, handle = pack_sequences_counted(
        docs, seq_len=8, counts={"bpe": bpe_token_count_col(F.col("text"), merges)}, n_parts=4
    )
    rows = sorted(
        ((r.seq_id, r.doc_id, r.tok_start, r.n_toks) for r in asg.collect())
    )
    handle.unpersist()
    # twin: global prefix layout over twin token counts in doc_id order
    want, off = [], 0
    for i, t in enumerate(CORPUS):
        n = len(twin_encode(t, merges))
        if n == 0:
            off += n
            continue
        for seq in range(off // 8, (off + n - 1) // 8 + 1):
            lo, hi = max(seq * 8, off), min((seq + 1) * 8, off + n)
            want.append((seq, i, lo - off, hi - lo))
        off += n
    assert rows == sorted(want)


def test_encode_plan_pure_jvm(spark, merges):
    """The encode column is a literal replace chain: no Python eval, no
    shuffle, whole-stage codegen."""
    d = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("the cat sat row "), F.col("id")).alias("text"),
    )
    out = d.select(bpe_token_count_col(F.col("text"), merges).alias("n"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan
    # the long replace chain can exceed codegen size thresholds and fall
    # back to interpreted projection — still JVM expressions, still a
    # single narrow Project over the scan; what must never appear is a
    # Python eval node or a shuffle
    assert "Project" in plan
    assert out.agg(F.sum("n")).collect()[0][0] > 0


def test_unicode_codepoints(spark):
    """Non-ASCII text segments on codepoints identically in engine+twin."""
    texts = ["héllo héllo wörld wörld", "héé wöö héé"]
    d = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    m = bpe_train(d, num_merges=6, min_count=1)
    assert m == twin_train(texts, 6, min_count=1)
    got = {r.doc_id: list(r.bpe_tokens) for r in bpe_encode(d, m).collect()}
    for i, t in enumerate(texts):
        assert got[i] == twin_encode(t, m)
