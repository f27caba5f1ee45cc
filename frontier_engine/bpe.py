"""In-repo byte-pair-encoding tokenizer: distributed train, JVM encode.

The reference pipeline counts whitespace tokens only; a real training
pipeline packs BPE tokens (Sennrich et al. 2016 "Neural Machine
Translation of Rare Words with Subword Units"; GPT-2's byte-level
variant). No network → no pretrained vocab, so the engine trains its
own over the corpus, Spark-first:

* **Pre-tokenization**: ``[A-Za-z0-9]+|[^A-Za-z0-9\\s]`` runs (the same
  regex as ``textops.token_counts``'s ``regex_tokens``); merges never
  cross pre-token boundaries (GPT-2 discipline). Whitespace is a pure
  separator and is never encoded.
* **Training** (:func:`bpe_train`): one distributed word-frequency agg
  over the corpus (map-side combined, optionally capped at
  ``max_word_types`` via TakeOrderedAndProject — never a global sort),
  then ``num_merges`` rounds over the word-TYPE table (bounded — Heaps'
  law keeps it orders of magnitude under corpus size): adjacent-pair
  counts are a distributed groupBy-sum (the ``bigram_lm`` discipline;
  the pair explode binds both slice arguments, nothing re-evaluates per
  element), the argmax is a 1-row TakeOrderedAndProject collect
  (count DESC, then (left, right) ASC — deterministic tie-break), and
  the merge applies as a single JVM ``replace``. Lineage is truncated
  by localCheckpoint every few rounds (the components
  discipline). Training stops early when the best pair's count drops
  below ``min_count`` (Sennrich's --min-frequency).
* **Encoding** (:func:`bpe_segmented_col` / :func:`bpe_token_count_col`):
  the learned merges BROADCAST into the plan as a chain of literal
  ``replace`` expressions — pure JVM, whole-stage-codegen'd, no Python,
  no shuffle, no per-row regex.

The exactness trick — one ``replace`` per merge IS one greedy BPE merge
pass: token streams are rendered as delimiter-wrapped strings,
``\\x01tok\\x02`` per token (word boundaries get ``\\x03``), so the
pattern ``\\x01l\\x02\\x01r\\x02 → \\x01lr\\x02`` consumes whole tokens,
matches can never share characters, and left-to-right non-overlapping
``replace`` semantics coincide with BPE's simultaneous leftmost merge
application (including ``aaaaa``-style overlapping runs). The identical
string algorithm is expressible in ANSI SQL (``oracle_sql``'s DuckDB
twin unrolls the same stages), which is what makes the full
train+encode+pack path hash-checkable against an independent engine.

Alphabet note: the initial symbol set is Unicode codepoints (both
engines' ``split``/``substring`` are codepoint-based), which is exactly
byte-level on ASCII corpora (the fixture world and the bulk of
Common-Crawl extracted text). Full byte fidelity on arbitrary UTF-8 would compose GPT-2's
bytes↔printable-codepoint bijection in front; the three delimiter
codepoints are stripped from text before segmentation either way.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PRETOKEN_RE = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"
SOT = "\x01"  # token start
EOT = "\x02"  # token end
BND = "\x03"  # pre-token (word) boundary


def _clean(text: Column) -> Column:
    """Strip the three delimiter codepoints (normalization; they carry
    no linguistic content and would corrupt segment framing)."""
    return F.translate(text, SOT + EOT + BND, "")


def _word_segments(w: Column) -> Column:
    """word → '\\x01c\\x02' per codepoint, concatenated."""
    return F.array_join(
        F.transform(F.split(w, ""), lambda c: F.concat(F.lit(SOT), c, F.lit(EOT))), ""
    )


def _merge_pat(left: str, right: str) -> tuple[str, str]:
    return SOT + left + EOT + SOT + right + EOT, SOT + left + right + EOT


# word-type tables at or under this row count train driver-side in one
# collect (r6 perf): the 16-merge loop was 16 sequential Spark jobs whose
# per-job fixed cost dwarfed the pair counting; locally it is a dict
# sweep over the framed type strings — same argmax, same replace
# semantics, byte-identical merges (twin-tested). Framed types average
# well under 200 B, so the gate bounds the collect at ~100 MB.
LOCAL_TRAIN_MAX_TYPES = 500_000


def _train_merges_local(
    word_counts: list[tuple[str, int]], num_merges: int, min_count: int
) -> list[tuple[str, str]]:
    """Driver-side twin of the distributed merge loop: identical argmax
    ((count DESC, left ASC, right ASC) — Python str comparison is
    codepoint order, which equals the JVM's UTF-8 binary order by the
    UTF-8 order-preservation property) and identical merge application
    (str.replace and Java replace are both leftmost non-overlapping)."""
    sep = EOT + SOT
    words = word_counts
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        counts: dict[tuple[str, str], int] = {}
        get = counts.get
        for toks, cnt in words:
            parts = toks[1:-1].split(sep)
            if len(parts) < 2:
                continue
            prev = parts[0]
            for cur in parts[1:]:
                pair = (prev, cur)
                counts[pair] = get(pair, 0) + cnt
                prev = cur
        if not counts:
            break
        (l, r), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if c < min_count:
            break
        merges.append((l, r))
        pat, rep = _merge_pat(l, r)
        words = [(t.replace(pat, rep) if pat in t else t, n) for t, n in words]
    return merges


def bpe_train(
    docs: DataFrame,
    num_merges: int = 24,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    max_word_types: int | None = None,
    checkpoint_every: int = 8,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges over *docs*. Returns the ordered
    merge list ``[(left, right), ...]`` (rank = position).

    Scale shape: ONE corpus-wide shuffle (word counts, map-side
    combined); every following round shuffles only the word-TYPE table.
    ``max_word_types`` caps that table by (count DESC, word ASC) —
    TakeOrderedAndProject, bounded driver memory, never a global sort —
    the standard practice of training the tokenizer on the head of the
    type distribution.

    r6: when the type table is small (``LOCAL_TRAIN_MAX_TYPES``, the
    common case — Heaps' law keeps types orders of magnitude under
    corpus size) the merge loop runs driver-side over one collect of the
    (framed type, count) rows instead of ``num_merges`` sequential Spark
    jobs; :func:`_train_merges_local` is the byte-identical twin. Larger
    vocabularies keep the distributed loop."""
    words = (
        docs.select(
            F.explode(
                F.regexp_extract_all(_clean(F.col(text_col)), F.lit(PRETOKEN_RE), 0)
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    if max_word_types is not None:
        words = words.orderBy(F.desc("cnt"), "w").limit(max_word_types)
    words = words.select(_word_segments(F.col("w")).alias("toks"), "cnt").localCheckpoint(
        eager=True
    )
    ckpt = words  # last CHECKPOINTED frame (the handle unpersist releases)

    # r6 fast path: small type table → one collect, local merge loop
    head = words.take(LOCAL_TRAIN_MAX_TYPES + 1)
    if len(head) <= LOCAL_TRAIN_MAX_TYPES:
        ckpt.unpersist()
        return _train_merges_local(
            [(r["toks"], int(r["cnt"])) for r in head], num_merges, min_count
        )

    merges: list[tuple[str, str]] = []
    for k in range(num_merges):
        toks = F.split(
            F.substring(F.col("toks"), 2, F.length("toks") - 2), EOT + SOT
        )
        arr = words.select(toks.alias("_t"), "cnt").where(F.size("_t") >= 2)
        n = F.size("_t")
        pairs = arr.select(
            F.explode(
                F.zip_with(
                    F.slice("_t", F.lit(1), n - 1),
                    F.slice("_t", F.lit(2), n - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("_p"),
            "cnt",
        )
        best = (
            pairs.groupBy(F.col("_p.l").alias("l"), F.col("_p.r").alias("r"))
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.desc("c"), "l", "r")
            .limit(1)
            .collect()
        )
        if not best or best[0]["c"] < min_count:
            break
        l, r = best[0]["l"], best[0]["r"]
        merges.append((l, r))
        pat, rep = _merge_pat(l, r)
        words = words.withColumn("toks", F.replace("toks", F.lit(pat), F.lit(rep)))
        if (k + 1) % checkpoint_every == 0:
            words = words.localCheckpoint(eager=True)
            ckpt.unpersist()  # release the superseded checkpoint's blocks
            ckpt = words
    ckpt.unpersist()  # training returns a plain list; nothing outlives it
    return merges


def bpe_segmented_col(text: Column, merges: list[tuple[str, str]]) -> Column:
    """Delimited token-stream string of *text* after applying *merges*
    in rank order — a chain of literal JVM ``replace``s (the broadcast
    form of the merges table: O(merges) plan nodes, zero shuffle)."""
    doc = F.array_join(
        F.transform(
            F.regexp_extract_all(_clean(text), F.lit(PRETOKEN_RE), 0), _word_segments
        ),
        BND,
    )
    for l, r in merges:
        pat, rep = _merge_pat(l, r)
        doc = F.replace(doc, F.lit(pat), F.lit(rep))
    return doc


def bpe_token_count_col(text: Column, merges: list[tuple[str, str]]) -> Column:
    """BPE token count of *text*: one ``\\x01`` per token survives."""
    s = bpe_segmented_col(text, merges)
    return (F.length(s) - F.length(F.replace(s, F.lit(SOT), F.lit("")))).cast("long")


def bpe_tokens_col(text: Column, merges: list[tuple[str, str]]) -> Column:
    """array<string> of the actual BPE tokens (test/inspection face;
    the hot path only ever needs counts or the segmented string)."""
    s = bpe_segmented_col(text, merges)
    flat = F.replace(s, F.lit(BND), F.lit(""))
    trimmed = F.substring(flat, 2, F.length(flat) - 2)
    return F.when(F.length(flat) < 2, F.array().cast("array<string>")).otherwise(
        F.split(trimmed, EOT + SOT)
    )


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, bpe_tokens array<string>, bpe_n long) per document."""
    toks = bpe_tokens_col(F.col(text_col), merges)
    return docs.select(
        F.col(id_col),
        toks.alias("bpe_tokens"),
        F.size(toks).cast("long").alias("bpe_n"),
    )
