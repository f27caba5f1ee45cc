"""Structured-Streaming face of the crawl (SURVEY §2.10 ST1-ST4).

The reference is a continuous single-process event loop; the engine's
primary form is the iterative round driver (crawler.py — each round one
DataFrame job, snapshot-committed). This module provides the streaming
alternative for deployments that want micro-batch semantics end-to-end:

* :func:`run_crawl_stream` — the full crawl as a self-feeding candidate
  stream (ST1), its seen set persisted in the crawl's seen store (ST2).
  Its ``foreachBatch`` runs the crawl state machine of
  ``crawler._CrawlState`` (ingest → schedule → commit, the same fetch/
  parse step and output sinks), so its commit, fold and manifest rules
  are the batch driver's by construction; this file adds only the
  stream's own rules (two-phase manifests, replay skip, metrics stash,
  candidate-file feedback).
* :func:`windowed_fetch_metrics` — event-time tumbling windows with a
  watermark over the fetch-metrics stream (late fetch completions are
  the reference's retry stragglers, ST3); feeds the ST4 adaptive-delay
  loop.
* stateful operators (:func:`sessionize_stateful`,
  :func:`dedup_stateful`) and continuous document ingestion
  (:func:`document_ingest_stream`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from frontier_engine import parse as P
from frontier_engine.config import EngineConfig


def windowed_fetch_metrics(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """ST3/ST4: tumbling 1-minute per-host latency windows with late-data
    tolerance; output feeds the next round's politeness delay
    (AutoThrottle semantics, settings.py.dist:163-175). Works on both a
    streaming and a batch DataFrame with (ts, host, latency_s)."""
    df = events
    if df.isStreaming:
        df = df.withWatermark("ts", watermark)
    agg = df.groupBy(F.window("ts", "1 minute").alias("w"), "host").agg(
        F.count("*").alias("fetches"),
        F.avg("latency_s").alias("avg_latency_s"),
    )
    return agg.select(
        F.col("w")["start"].alias("window_start"),
        "host",
        "fetches",
        F.round("avg_latency_s", 4).alias("avg_latency_s"),
        F.round(
            F.least(F.lit(60.0), F.greatest(F.lit(5.0), F.col("avg_latency_s") * 2)), 4
        ).alias("next_delay_s"),
    )


# --------------------------------------------------------------------------
# ST2 custom stateful operators (applyInPandasWithState)
# --------------------------------------------------------------------------

SESSION_OUT_SCHEMA = (
    "user_id long, session_no long, n_events long, duration_us long"
)
SESSION_STATE_SCHEMA = "last_us long, start_us long, n long, session_no long"


def sessionize_stateful(
    events: DataFrame, gap_s: int = 1800, watermark_s: int | None = None
) -> DataFrame:
    """Gap-based sessionization as a CUSTOM STATEFUL streaming operator
    (applyInPandasWithState, event-time timeout) — the streaming twin of
    the batch lag+cumsum sessionizer (__spark_entry__.q_events_sessionize;
    both oracle-checked against the same SQL).

    Per user_id the state holds the open session (last/start/count).
    A closed session row emits when (a) a new event arrives more than
    ``gap_s`` after the last one, (b) the event-time watermark passes
    last+gap (GroupStateTimeout.EventTimeTimeout — the crash-safe path for
    users that simply stop), or (c) an end-of-stream sentinel
    (event_id = -1) arrives. The watermark delay defaults to ``gap_s`` so
    a timeout can only fire when the batch twin would also have split
    (any later event for that user must be ≥ watermark > last+gap).

    Order contract: events for one user must arrive in non-decreasing
    event-time across micro-batches (within a batch the kernel sorts) —
    the caller feeds time-sliced files, exactly Kafka/Kinesis per-key
    ordering at 100 TB scale.
    """
    import pandas as pd  # noqa: F401

    gap_us = gap_s * 1_000_000
    wm = watermark_s if watermark_s is not None else gap_s

    def fn(key, pdfs, state):
        uid = int(key[0])
        if state.hasTimedOut:
            last_us, start_us, n, sess_no = state.get
            state.remove()
            yield pd.DataFrame(
                {"user_id": [uid], "session_no": [sess_no], "n_events": [n],
                 "duration_us": [last_us - start_us]}
            )
            return
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts", "event_id"])
        ts_us = rows["ts"].astype("int64") // 1000  # ns → µs (unix_micros twin)
        ids = rows["event_id"].to_numpy()
        if state.exists:
            last_us, start_us, n, sess_no = state.get
            has_open = True
        else:
            last_us = start_us = n = 0
            sess_no = 0
            has_open = False
        out = {"user_id": [], "session_no": [], "n_events": [], "duration_us": []}

        def close():
            out["user_id"].append(uid)
            out["session_no"].append(sess_no)
            out["n_events"].append(n)
            out["duration_us"].append(last_us - start_us)

        for t, eid in zip(ts_us.to_numpy(), ids):
            t = int(t)
            if eid == -1:  # end-of-stream sentinel: close, start nothing
                if has_open:
                    close()
                    sess_no += 1
                    has_open = False
                continue
            if not has_open:
                start_us = last_us = t
                n = 1
                has_open = True
            elif t - last_us > gap_us:
                close()
                sess_no += 1
                start_us = last_us = t
                n = 1
            else:
                last_us = t
                n += 1
        if has_open:
            state.update((int(last_us), int(start_us), int(n), int(sess_no)))
            timeout_ms = last_us // 1000 + gap_s * 1000
            wm_ms = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(timeout_ms, wm_ms + 1000))
        else:
            state.remove() if state.exists else None
        if out["user_id"]:
            yield pd.DataFrame(out)

    from pyspark.sql.streaming.state import GroupStateTimeout

    src = events.withWatermark("ts", f"{wm} seconds")
    return src.groupBy("user_id").applyInPandasWithState(
        fn,
        SESSION_OUT_SCHEMA,
        SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


DEDUP_OUT_SCHEMA = "url_hash long, url string"
DEDUP_STATE_SCHEMA = "seen int"


def dedup_stateful(urls: DataFrame) -> DataFrame:
    """First-seen-wins URL dedup as a stateful streaming operator — the
    streaming twin of seen.filter_unseen (D1/D3): keyed by url_hash, the
    first arrival emits and sets a tombstone; every later duplicate is
    swallowed. State is one int per distinct key, sharded by Spark's
    state store exactly like the batch path's bloom shards. Input needs
    (url_hash long, url string [, ts timestamp])."""
    import pandas as pd  # noqa: F401

    def fn(key, pdfs, state):
        if state.hasTimedOut:  # pragma: no cover - NoTimeout
            return
        first = None
        for pdf in pdfs:
            if not pdf.empty and first is None:
                row = pdf.sort_values("url").iloc[0]
                first = row["url"]
        if state.exists or first is None:
            return
        state.update((1,))
        yield pd.DataFrame({"url_hash": [int(key[0])], "url": [first]})

    from pyspark.sql.streaming.state import GroupStateTimeout

    return urls.groupBy("url_hash").applyInPandasWithState(
        fn,
        DEDUP_OUT_SCHEMA,
        DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stream_to_parquet(stream_df: DataFrame, out_dir: str, checkpoint_dir: str) -> None:
    """Drive a (bounded) streaming DataFrame to completion into parquet —
    availableNow processes every pending file then stops."""
    q = (
        stream_df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_crawl_stream(
    spark: SparkSession,
    pages: DataFrame,
    cfg: EngineConfig,
    args: P.CrawlArgs,
    seeds: DataFrame | None = None,
    snapshot_dir: str | None = None,
    max_rounds: int = 50,
    resume: bool = False,
):
    """The FULL crawl through the Structured-Streaming face: each
    scheduling round is one micro-batch of a self-feeding candidate
    stream, and the result equals ``crawler.run_crawl`` exactly (same
    batches in the same rounds, same outputs, same seen set — pinned by
    the e2e parity test). Ingest, ranking, fetch/parse, commits and
    folds are ``crawler._CrawlState``'s; only the stream's own rules
    live here:

    * **Feedback edge.** A ``readStream`` file source watches a
      candidates directory; the seed list is the first file. Each round
      drops its discoveries back as one parquet file — EMPTY files too,
      since a round with no discoveries must not stop the crawl while
      pending URLs remain. The driver re-triggers ``availableNow``
      passes until a round schedules nothing.
    * **Two-phase commits.** A micro-batch ingests the previous round's
      discoveries (``phase: ingest``), then runs the next round and
      commits its status facts (``phase: round_done``). An empty
      schedule commits a table-less ``round_done`` done marker so a
      resume never rolls back the final discoveries.
    * **Replay** (``resume=True``, same *snapshot_dir*): an ``ingest``
      manifest (crash mid-batch) rolls back to its parent round
      boundary, so the replayed batch re-ingests against pre-batch
      state; a batch whose round fully committed (``last_batch_id`` ≥
      batch id) is skipped.
    * **Metrics stash.** A round's metrics row needs its fetch-side
      counts (known when it runs) and its ingest-side counts (known at
      the NEXT micro-batch). The round stashes the first half
      (``metrics_stash/round-N``) and the next ingest publishes the row
      via ``combine_metrics`` — batch-identical, the final round's row
      included.

    A ``max_rounds``-capped stream stops one ingest behind the batch
    driver: the final round's discoveries wait in their candidate file
    and its metrics row in the stash, both completed by a ``resume``.

    Returns a dict: outputs (name → DataFrame), rounds, seen_exact,
    frontier.
    """
    import glob
    import os
    import shutil
    import tempfile

    from frontier_engine import crawler as C
    from frontier_engine.metrics import (
        combine_metrics, fetch_side_metrics, ingest_side_metrics,
    )
    from frontier_engine.snapshots import SnapshotStore

    snapshot_dir = snapshot_dir or tempfile.mkdtemp(prefix="frontier-stream-")
    cands_dir = os.path.join(snapshot_dir, "cand_stream")
    ckpt = os.path.join(snapshot_dir, "ckpt")
    out_dir = os.path.join(snapshot_dir, "outputs")
    mstash_dir = os.path.join(snapshot_dir, "metrics_stash")
    os.makedirs(cands_dir, exist_ok=True)
    store = SnapshotStore(snapshot_dir)
    state = C._CrawlState(spark, store, pages, cfg)

    def _drop_cand_file(df: DataFrame, tag: str) -> None:
        tmp = os.path.join(snapshot_dir, f"cand-tmp-{tag}")
        df.repartition(1).write.mode("overwrite").parquet(tmp)
        part = sorted(glob.glob(os.path.join(tmp, "part-*.parquet")))[0]
        shutil.move(part, os.path.join(cands_dir, f"{tag}.parquet"))
        shutil.rmtree(tmp, ignore_errors=True)

    st = {"round": 0, "snap": 0, "done": False, "last_batch": -1}
    if resume:
        sid = store.latest_id()
        man = store.manifest(sid) if sid is not None else None
        if man and man["meta"].get("phase") == "ingest" and man["parent_id"] is not None:
            # crash landed between the ingest commit and the round's
            # status commit — roll back to the round boundary; the
            # uncommitted micro-batch replays against pre-batch state
            sid = man["parent_id"]
            store.rollback(sid)
            man = store.manifest(sid)
        if man and man["meta"].get("phase") != "ingest":
            meta = state.load(man)
            st.update(
                round=int(meta["round"]), snap=int(man["snapshot_id"]),
                last_batch=int(meta.get("last_batch_id", -1)),
            )
    else:
        if seeds is None:
            raise ValueError("seeds required for a fresh streaming crawl")
        _drop_cand_file(C._seed_candidates(seeds), "seed")

    def _next_snap() -> int:
        st["snap"] += 1
        return st["snap"]

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if st["done"]:
            return
        if batch_id <= st["last_batch"]:
            return  # replayed batch whose round already fully committed
        rnd = st["round"]  # commits for state as of THIS ingest
        new_rows, blocked_new, cache_handle = state.ingest(batch_df, rnd)
        state.commit(
            _next_snap(), {"round": rnd, "phase": "ingest", "last_batch_id": st["last_batch"]},
            new_rows=new_rows,
        )

        # Complete the PREVIOUS round's metrics row: its fetch-side half
        # was stashed when that round ran; its ingest-side half is THIS
        # ingest (these candidates are that round's discoveries). This
        # keeps the metrics table batch-identical instead of one round
        # shifted, and gives the final round's discoveries a metrics row
        # on the done path (ADVICE r3). Runs before cache_handle
        # unpersists — blocked_new/new_rows still read the cached ingest.
        stash_path = os.path.join(mstash_dir, f"round-{rnd}")
        if rnd > 0 and os.path.exists(stash_path):
            C.append_output(
                out_dir, "metrics",
                combine_metrics(
                    rnd, spark.read.parquet(stash_path),
                    ingest_side_metrics(blocked_new, new_rows),
                ).drop("round"),
                rnd,
            )
        cache_handle.unpersist()

        # ---- rank + fetch + parse = round rnd+1 (run_crawl numbering)
        rnd += 1
        batch, n_batch = state.schedule()
        if n_batch == 0:
            st["done"] = True
            # done marker: promotes the final ingest to a round boundary
            # so a resume never rolls back the crawl's last discoveries
            state.commit(_next_snap(), {"round": st["round"], "phase": "round_done",
                                        "last_batch_id": batch_id})
            st["last_batch"] = batch_id
            # final round's metrics row (written at this ingest) is durable
            shutil.rmtree(
                os.path.join(mstash_dir, f"round-{st['round']}"), ignore_errors=True
            )
            return
        st["round"] = rnd
        C.append_output(out_dir, "batches", batch.select("host", "url", "rank"), rnd)
        fetched, missing, pround, status = C._fetch_and_parse(batch, pages, args, cfg)
        for name, df in pround.parts.items():
            C.append_output(out_dir, name, df, rnd)
        # Stash this round's fetch-side metrics half; the row completes at
        # the NEXT micro-batch's ingest, when this round's discoveries are
        # actually ingested (run_crawl parity — see combine_metrics above).
        # Overwrite mode ⇒ a replayed round regenerates an identical stash.
        fetch_side_metrics(batch, fetched, missing).write.mode("overwrite").parquet(
            os.path.join(mstash_dir, f"round-{rnd}")
        )
        # feedback edge: next round's candidates (may be EMPTY — still a
        # file, so the stream keeps triggering while pending URLs remain).
        # Written BEFORE the round-boundary commit: a crash in between
        # replays the batch (ingest-phase rollback) and regenerates the
        # identical file; the reverse order could mark the round done
        # with its feedback file never written — a stalled crawl.
        _drop_cand_file(pround.candidates, f"round-{rnd}")

        # round-boundary commit: the status log is the growth edge here,
        # so the frontier fold can also trigger at this commit point
        state.commit(
            _next_snap(), {"round": rnd, "phase": "round_done", "last_batch_id": batch_id},
            status=status,
        )
        st["last_batch"] = batch_id
        # the previous round's stash was consumed at this batch's ingest
        # and its durable metrics row is published — safe to drop now
        # (kept until here so an ingest-phase replay could re-read it)
        shutil.rmtree(os.path.join(mstash_dir, f"round-{rnd - 1}"), ignore_errors=True)
        batch.unpersist()
        pround.unpersist()
        fetched.unpersist()

    src = spark.readStream.schema(
        "url string, parent_url string, depth int, listing_score double"
    ).option("maxFilesPerTrigger", 1).parquet(cands_dir)

    while not st["done"] and st["round"] < max_rounds:
        before = st["round"]
        q = (
            src.writeStream.foreachBatch(handle)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if st["round"] == before and not st["done"]:
            break  # no progress and not explicitly finished — drained

    state.rules.unpersist()
    return {
        "outputs": C._read_outputs(spark, out_dir),
        "rounds": st["round"],
        "seen_exact": state.seen.as_df(),
        "frontier": state.fstate.view() if state.fstate else None,
    }


def document_ingest_stream(
    spark: SparkSession,
    docs_dir: str,
    root: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    apply_c4: bool = False,
    min_words: int = 3,
    min_lines: int = 1,
    max_files_per_trigger: int = 1,
    compact_every: int = 16,
):
    """Continuous training-data ingestion (late r4): a ``readStream``
    of document files with ``foreachBatch`` running the SAME cleaning +
    dedup discipline as the batch ingest round — PII redaction →
    (optional) C4 line filter gate → within-batch exact dedup
    (first-seen = lowest id per text hash) → within-batch MinHash
    near-dup (lowest id of each verified pair survives — ADVICE r4:
    two NEAR-identical docs in one micro-batch both missed the
    corpus-join, which only compares against prior batches) → MinHash
    near-dup join against the PERSISTED corpus band table → append the
    survivors to the corpus AND their band rows to the band table.
    Per-micro-batch cost is O(batch + collisions), independent of
    corpus size — the growing corpus is touched only through its
    (band, bucket) index and the candidate-bounded exact-verify
    semi-join. Exact cross-batch duplicates need no separate structure:
    identical text ⇒ identical bands ⇒ a jaccard-1.0 candidate the
    verify drops.

    Exactly-once without Iceberg: both state tables are partitioned
    by ``batch_id`` and written with dynamic partition overwrite, and a
    micro-batch reads the corpus/bands WITHOUT its own partition
    (``batch_id != this``) — so a replayed batch recomputes against
    exactly the pre-batch state and overwrites its own files instead of
    duplicating or self-matching. Corpus-level ops that need GLOBAL
    state (repeated-line dedup, stratified sampling) are compaction- /
    export-time jobs over ``<root>/corpus``, not per-ingest work.

    State maintenance (r5, VERDICT r4 ask #4): one ``batch_id=``
    partition per micro-batch is a many-small-files scan after
    thousands of batches, so every *compact_every* partitions the
    handler FOLDS all prior partitions into one ``batch_id=-(k+1)``
    partition (negative ⇒ never collides with a real batch, always
    included by the ``!= k`` read) and deletes the originals. The fold
    is replay-idempotent by construction: it reads ``batch_id != k``,
    drops duplicate keys (a crash between the fold write and the
    original-partition deletes leaves both visible — the key-dedup
    collapses them), rewrites the same deterministic fold partition,
    and re-deletes; ids are globally unique (caller contract) so the
    key-dedup never merges distinct docs.

    Caller contract: doc ids are globally unique across the stream
    (same as MERGE keys). Returns the started StreamingQuery; state
    lives under *root* (resumable: same root + checkpoint)."""
    import os
    import shutil

    from frontier_engine.textops import (
        c4_line_filter, corpus_band_table, minhash_dedup_join,
        minhash_dedup_pairs, pii_redact,
    )

    corpus_dir = os.path.join(root, "corpus")
    bands_dir = os.path.join(root, "bands")

    def _nonempty(path: str) -> bool:
        if not os.path.isdir(path):
            return False
        return any(
            f == "_SUCCESS" or f.startswith("batch_id=") for f in os.listdir(path)
        )

    def _partitions(path: str) -> list[str]:
        if not os.path.isdir(path):
            return []
        return [f for f in os.listdir(path) if f.startswith("batch_id=")]

    def _compact_state(batch_id: int) -> None:
        """Fold all prior batch_id partitions (positive AND previous
        folds) into one ``batch_id=-(batch_id+1)`` partition, then
        delete the originals. Runs BEFORE the batch's own processing,
        so everything it touches is committed prior state."""
        fold_id = -(batch_id + 1)
        for path, keys in ((corpus_dir, [id_col]), (bands_dir, [id_col, "band", "bucket"])):
            prior = spark.read.parquet(path).where(F.col("batch_id") != batch_id)
            (
                prior.dropDuplicates(keys)
                .withColumn("batch_id", F.lit(fold_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(path)
            )
            for part in _partitions(path):
                if part != f"batch_id={fold_id}":
                    shutil.rmtree(os.path.join(path, part), ignore_errors=True)

    schema = f"{id_col} long, {text_col} string"
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(docs_dir)
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        red = pii_redact(batch_df, text_col, id_col).select(
            id_col,
            F.col("clean_text").alias(text_col),
            "n_emails", "n_ips", "n_phones",
        )
        if apply_c4:
            gate = c4_line_filter(red, text_col, id_col, min_words, min_lines)
            red = red.drop(text_col).join(
                gate.where(F.col("doc_kept")).select(
                    id_col, F.col("c4_text").alias(text_col)
                ),
                id_col,
            )
        firsts = red.groupBy(F.xxhash64(F.col(text_col)).alias("_h")).agg(
            F.min(id_col).alias(id_col)
        )
        exact = red.join(firsts.select(id_col), id_col).cache()
        # within-batch NEAR-dup (ADVICE r4): the corpus join below only
        # compares against PRIOR batches, so two near-identical docs
        # arriving in one micro-batch would both survive it. Same
        # minhash→LSH→exact-verify as the batch ingest round; the
        # higher id of each verified pair (pairs come id_a < id_b)
        # drops, mirroring the exact dedup's first-seen rule.
        intra = (
            minhash_dedup_pairs(exact, text_col, id_col, threshold=threshold)
            .select(F.col("id_b").alias(id_col))
            .distinct()
        )
        red = exact.join(intra, id_col, "left_anti").cache()
        if _nonempty(corpus_dir) and len(_partitions(corpus_dir)) >= compact_every:
            _compact_state(batch_id)
        if _nonempty(corpus_dir):
            corpus = spark.read.parquet(corpus_dir).where(
                F.col("batch_id") != batch_id
            )
            bands = spark.read.parquet(bands_dir).where(
                F.col("batch_id") != batch_id
            ).drop("batch_id")
            dup_ids = (
                minhash_dedup_join(
                    red, corpus, text_col, id_col,
                    threshold=threshold, corpus_bands=bands,
                )
                .select(F.col("id_a").alias(id_col))
                .distinct()
            )
            survivors = red.join(dup_ids, id_col, "left_anti")
        else:
            survivors = red
        survivors = survivors.withColumn("batch_id", F.lit(batch_id)).cache()
        (
            survivors.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(corpus_dir)
        )
        (
            corpus_band_table(survivors, text_col, id_col)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(bands_dir)
        )
        survivors.unpersist()
        red.unpersist()
        exact.unpersist()

    return (
        src.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
