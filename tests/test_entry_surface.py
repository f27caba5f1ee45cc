"""Driver-contract surface invariants (COVERAGE.md's consolidation
discipline): the correctness sweep records at most 50 rows, so the
queries() dict must stay at ≤50 entries with every oracle key matched —
new operators join an existing consolidated row (method/medium/mode
tag) instead of silently falling off the recorded sweep."""

import sys
import os

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import __spark_entry__ as E


def test_queries_within_sweep_cap():
    q = E.queries()
    assert len(q) <= 50, "driver records only 50 rows — consolidate, don't append"
    assert all(callable(f) for f in q.values())


def test_oracle_keys_match_queries_exactly():
    q, o = set(E.queries()), set(E.oracle_sql())
    assert q - o == set(), f"queries missing oracles: {sorted(q - o)}"
    assert o - q == set(), f"oracles without queries: {sorted(o - q)}"


def test_oracle_sql_strings_nonempty():
    assert all(isinstance(s, str) and s.strip() for s in E.oracle_sql().values())


def test_scaling_eff_flags_steal_contended_windows():
    """bench._scaling_eff marks a window where a child burned its extra
    sample allowance without filling the clean-rep quota (the run5
    shape: n8 1/5 clean reps), and leaves clean windows unflagged —
    beside, never instead of, the raw efficiency number."""
    import bench

    contended = {
        "n2": {"rate": 100.0, "rate_clean": 100.0, "cpu_ceiling": 0.9,
               "clean_reps": 3},
        "n8": {"rate": 300.0, "rate_clean": 310.0, "cpu_ceiling": 0.85,
               "clean_reps": 1},
    }
    bench._scaling_eff(contended)
    assert contended["efficiency"] == 0.75  # raw number still published
    assert contended["window_steal_contended"] is True
    assert contended["window_hardware_limited"] is False

    clean = {
        "n2": {"rate": 100.0, "rate_clean": 100.0, "cpu_ceiling": 0.9,
               "clean_reps": 3},
        "n8": {"rate": 340.0, "rate_clean": 340.0, "cpu_ceiling": 0.88,
               "clean_reps": 3},
    }
    bench._scaling_eff(clean)
    assert clean["efficiency"] == 0.85
    assert clean["window_steal_contended"] is False


def test_window_flag_and_rank_are_blind_to_efficiency():
    """Retry-phase criteria: flag on clean-rep shortfall, hardware
    limit, or >15% inter-child probe drift; rank windows by flags →
    clean reps → ceiling floor. The efficiency value must not enter
    either decision (no retry-until-pass)."""
    import bench

    drifted = {  # run7 shape: both children clean, ceilings 17% apart
        "n2": {"rate": 110.0, "rate_clean": 110.0, "cpu_ceiling": 0.925,
               "clean_reps": 3},
        "n8": {"rate": 329.0, "rate_clean": 329.0, "cpu_ceiling": 0.764,
               "clean_reps": 3},
    }
    bench._scaling_eff(drifted)
    assert bench._window_flagged(drifted)

    clean_but_low_eff = {  # a clean window with eff 0.5 must NOT flag
        "n2": {"rate": 100.0, "rate_clean": 100.0, "cpu_ceiling": 0.95,
               "clean_reps": 3},
        "n8": {"rate": 200.0, "rate_clean": 200.0, "cpu_ceiling": 0.96,
               "clean_reps": 3},
    }
    bench._scaling_eff(clean_but_low_eff)
    assert clean_but_low_eff["efficiency"] == 0.5
    assert not bench._window_flagged(clean_but_low_eff)

    # a retry with a WORSE window never replaces attempt 1, even if its
    # efficiency is higher
    contended_high_eff = {
        "n2": {"rate": 100.0, "rate_clean": 100.0, "cpu_ceiling": 0.9,
               "clean_reps": 2},
        "n8": {"rate": 400.0, "rate_clean": 400.0, "cpu_ceiling": 0.9,
               "clean_reps": 1},
    }
    bench._scaling_eff(contended_high_eff)
    assert contended_high_eff["efficiency"] == 1.0
    assert bench._window_rank(clean_but_low_eff) > bench._window_rank(contended_high_eff)


def test_retry_order_prefers_worst_window():
    """With both pairs flagged, the single retry goes to the pair whose
    window rank is LOWER (more flags, fewer clean reps, lower ceiling
    floor) — never by job name or efficiency."""
    import bench

    schedule = {  # one flag, 2 clean reps
        "n2": {"rate": 100.0, "cpu_ceiling": 0.9, "clean_reps": 2},
        "n8": {"rate": 300.0, "cpu_ceiling": 0.9, "clean_reps": 3},
        "window_steal_contended": True,
    }
    parse = {  # two flags, 0 clean reps — strictly worse window
        "n2": {"rate": 100.0, "cpu_ceiling": 0.7, "clean_reps": 0},
        "n8": {"rate": 300.0, "cpu_ceiling": 0.6, "clean_reps": 0},
        "window_steal_contended": True,
        "window_hardware_limited": True,
    }
    assert bench._window_flagged(schedule) and bench._window_flagged(parse)
    flagged = sorted(["schedule", "parse"],
                     key=lambda j: bench._window_rank({"schedule": schedule,
                                                       "parse": parse}[j]))
    assert flagged[0] == "parse"


def test_scaling_eff_paired_median_of_pairwise_ratios():
    """Paired-interleaved protocol (run16+): headline efficiency is the
    median of per-pair ratios (each pair = adjacent n2/n8 reps in one
    shared window), with the sequential ratio-of-medians published
    beside it; the clean twin is the median over pairs whose BOTH reps
    were steal-clean, and the steal flag counts clean PAIRS."""
    import bench

    jout = {
        "n2": {"rate": 100.0, "rate_clean": 100.0, "cpu_ceiling": 0.9,
               "clean_reps": 3},
        "n8": {"rate": 340.0, "rate_clean": 340.0, "cpu_ceiling": 0.88,
               "clean_reps": 3},
        "pair_effs": [0.84, 0.86, 0.50],
        "pair_effs_clean": [0.84, 0.86],  # third pair had a dirty rep
        "protocol": "paired-interleaved",
    }
    bench._scaling_eff(jout)
    assert jout["efficiency"] == 0.84          # median of pairwise, not 340/100/4
    assert jout["efficiency_medratio"] == 0.85  # sequential formula kept beside
    assert jout["efficiency_clean"] == 0.85     # median over the 2 clean pairs
    # 2 clean pairs < want(3) -> steal-contended, even though each
    # child individually reports 3 clean reps
    assert jout["window_steal_contended"] is True
    assert bench._window_flagged(jout)

    ok = dict(jout, pair_effs_clean=[0.84, 0.86, 0.83])
    bench._scaling_eff(ok)
    assert ok["window_steal_contended"] is False
    assert ok["efficiency_clean"] == 0.84


def test_window_rank_counts_clean_pairs_in_paired_mode():
    """Retry selection stays efficiency-blind in paired mode: rank uses
    the number of clean PAIRS, not the per-child clean-rep counts."""
    import bench

    fewer_clean_pairs = {
        "n2": {"rate": 100.0, "cpu_ceiling": 0.9, "clean_reps": 3},
        "n8": {"rate": 340.0, "cpu_ceiling": 0.9, "clean_reps": 3},
        "pair_effs": [0.9, 0.9, 0.9],
        "pair_effs_clean": [0.9],
    }
    more_clean_pairs = {
        "n2": {"rate": 100.0, "cpu_ceiling": 0.9, "clean_reps": 3},
        "n8": {"rate": 200.0, "cpu_ceiling": 0.9, "clean_reps": 3},
        "pair_effs": [0.5, 0.5, 0.5],
        "pair_effs_clean": [0.5, 0.5, 0.5],
    }
    bench._scaling_eff(fewer_clean_pairs)
    bench._scaling_eff(more_clean_pairs)
    # the low-efficiency pair has the better WINDOW and must outrank
    assert bench._window_rank(more_clean_pairs) > bench._window_rank(fewer_clean_pairs)


def test_sweep_stale_tmpdirs_removes_only_bench_prefixes(tmp_path, monkeypatch):
    """Crash-orphaned bench workdirs are swept at start-of-run; files
    without a bench prefix are never touched (shared tmpfs safety)."""
    import tempfile

    import bench

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    ours = tmp_path / "bench-scale-abc123"
    ours.mkdir()
    (ours / "part-0.parquet").write_bytes(b"x")
    theirs = tmp_path / "someone-elses-dir"
    theirs.mkdir()
    bench._sweep_stale_tmpdirs()
    assert not ours.exists()
    assert theirs.exists()


class _ScriptedChild:
    """Stub of bench._PairChild: scripted REP_RESULT payloads, raising
    RuntimeError (child death) when the script runs out."""

    def __init__(self, reps):
        self._reps = list(reps)

    def send(self, cmd):
        pass

    def expect(self, prefix, timeout):
        if prefix == "SERVER_READY":
            return None
        if prefix == "PROBE_RESULT":
            return {"eff": 0.9}
        if not self._reps:
            raise RuntimeError("child exited rc=1: SparkContext was shut down")
        return self._reps.pop(0)

    @property
    def stderr_tail(self):
        return ["java.lang.OutOfMemoryError\n"]

    def close(self):
        pass


def _patched_pair(monkeypatch, lo_reps, hi_reps):
    import bench

    kids = iter([_ScriptedChild(lo_reps), _ScriptedChild(hi_reps)])
    monkeypatch.setattr(bench, "_PairChild", lambda job, c, n: next(kids))
    monkeypatch.setattr(bench, "_scaling_cores", lambda: [2, 8])
    return bench._run_pair("schedule", repeats=3)


def test_run_pair_salvages_completed_pairs_on_child_death(monkeypatch):
    """run16 shape: the n2 child dies mid-window after 2 complete pairs.
    The completed pairs must be published (annotated), not discarded
    into the ~8-min sequential fallback."""
    rep = lambda r, s: {"rate": r, "steal": s}
    out = _patched_pair(
        monkeypatch,
        lo_reps=[rep(100.0, 10), rep(102.0, 12)],          # dies on pair 3
        hi_reps=[rep(340.0, 8), rep(336.0, 9), rep(340.0, 7)],
    )
    assert "_fail" not in out
    assert out["salvaged_after_child_failure"]["pairs_completed"] == 2
    assert len(out["pair_effs"]) == 2
    assert out["n2"]["rates"] == [100.0, 102.0]
    assert out["n8"]["rates"] == [340.0, 336.0]  # trimmed to complete pairs
    assert out["protocol"] == "paired-interleaved"


def test_run_pair_falls_back_when_fewer_than_two_pairs(monkeypatch):
    """A child death before 2 complete pairs still routes to the
    sequential fallback (the salvage never publishes a 1-sample ratio)."""
    rep = lambda r, s: {"rate": r, "steal": s}
    out = _patched_pair(
        monkeypatch,
        lo_reps=[rep(100.0, 10)],                          # dies on pair 2
        hi_reps=[rep(340.0, 8), rep(336.0, 9)],
    )
    assert "_fail" in out


# Top-level engine defs and constants that no crawl, ingest, oracle or
# harness path reaches, each kept on purpose. Anything else unreached is
# dead code.
KEPT = {
    "assemble.aggregate_reviews": "reference J1-J3 listing assembly; no product path assembles listings yet, so it needs routing, not deletion",
    "assemble.assemble_listings": "reference J1-J3 listing assembly; no product path assembles listings yet, so it needs routing, not deletion",
    "sinks.write_csv": "the reference's S6 exporter",
    "sinks.write_xlsx": "the reference's S6 exporter",
    "sinks._xml_escape": "the reference's S6 exporter (xlsx cell escaping)",
    "parse.find_component_last": "reference P3",
    "streaming.windowed_fetch_metrics": "ST4 AutoThrottle windows",
    "streaming.document_ingest_stream": "the streaming ingest face; rebuilt over one engine ingest round (ROADMAP direction 3)",
    "bpe.bpe_encode": "token-sequence view of the live bpe_segmented_col, pinned by the exactness tests",
    "bpe.bpe_tokens_col": "token-sequence view of the live bpe_segmented_col, pinned by the exactness tests",
    "links.resolve_href_py": "Python twin of resolve_href_expr, the test reference",
    "links._remove_dot_segments_py": "Python twin of resolve_href_expr, the test reference",
    "textops.token_counts": "per-row reference for text_profile",
    "textops.doc_fingerprint_md5": "per-row reference for text_profile",
    "textops._fingerprint_blocks": "per-row reference for text_profile",
    "html_text.html_bytes_to_text_udf": "row-wise UDF face of html_to_text, used by the documented byte-parity drive",
    "config.DEFAULT_CONFIG": "the default EngineConfig that the documented end-to-end drive imports",
    "assemble.LISTING_COLUMNS": "reference J1-J3 listing assembly's column list, same reason as assemble_listings",
    "multimodal.MEDIA_SCHEMA": "the media-table layout whose payload pruning test_metadata_filter_prunes_payload pins",
}


def _engine_reach():
    """(unreached, all) qualified names of the top-level defs, classes
    and non-dunder constants (plain-name assignments) in
    frontier_engine/. Roots are the names referenced by the rest of the
    module-level code of frontier_engine/*.py (imports, dunders, other
    statements) and anywhere in the non-test .py files at the repo root
    and under perfbench/; reach is closed over the bodies of reached
    defs and the right-hand sides of reached constants. An assignment
    is not a reference to its own target (Store-context names are
    skipped). Names match by identifier (a Name or an attribute), so a
    shared name over-approximates reach, never under."""
    import ast
    import glob

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def refs(node):
        return {
            n.id if isinstance(n, ast.Name) else n.attr
            for n in ast.walk(node)
            if isinstance(n, ast.Attribute)
            or (isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store))
        }

    def constant_names(st):
        if isinstance(st, (ast.Assign, ast.AnnAssign)):
            targets = st.targets if isinstance(st, ast.Assign) else [st.target]
            if all(isinstance(t, ast.Name) and not t.id.startswith("__") for t in targets):
                return [t.id for t in targets]
        return []

    defs, roots = {}, set()
    for path in sorted(glob.glob(os.path.join(root, "frontier_engine", "*.py"))):
        mod = os.path.basename(path)[:-3]
        with open(path) as f:
            tree = ast.parse(f.read())
        for st in tree.body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [st.name]
            else:
                names = constant_names(st)
            for name in names:
                defs.setdefault(name, []).append((f"{mod}.{name}", st))
            if not names:
                roots |= refs(st)
    for path in glob.glob(os.path.join(root, "*.py")) + glob.glob(
        os.path.join(root, "perfbench", "*.py")
    ):
        if not os.path.basename(path).startswith("test_"):
            with open(path) as f:
                roots |= refs(ast.parse(f.read()))
    reached, todo = set(), list(roots & set(defs))
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            for _, node in defs[name]:
                todo.extend(refs(node) & set(defs) - reached)
    every = {q for lst in defs.values() for q, _ in lst}
    unreached = {q for name, lst in defs.items() if name not in reached for q, _ in lst}
    return unreached, every


def test_every_engine_def_is_reached():
    unreached, every = _engine_reach()
    assert unreached - set(KEPT) == set(), "unreached engine defs or constants: route or delete them"
    assert set(KEPT) - every == set(), "KEPT names that no longer exist"
    assert set(KEPT) - unreached == set(), "KEPT names that now have a caller"


def _unused_imports(path):
    """(lineno, name) of every name that *path* imports and never uses.
    A name is used if it appears as a Name anywhere in the file (the
    base of an attribute access is a Name) or as a string in
    ``__all__``; ``from __future__`` imports are exempt. Scope-blind, so
    a shadowing use over-approximates use, never under."""
    import ast

    with open(path) as f:
        tree = ast.parse(f.read())
    imported, used = [], set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Import):
            imported += [(n.lineno, (a.asname or a.name).split(".")[0]) for a in n.names]
        elif isinstance(n, ast.ImportFrom) and n.module != "__future__":
            imported += [(n.lineno, a.asname or a.name) for a in n.names if a.name != "*"]
        elif isinstance(n, ast.Name):
            used.add(n.id)
        elif isinstance(n, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in n.targets
        ):
            used |= {
                c.value for c in ast.walk(n.value)
                if isinstance(c, ast.Constant) and isinstance(c.value, str)
            }
    return [(ln, name) for ln, name in imported if name not in used]


def test_no_unused_imports():
    import glob

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    found = [
        f"{os.path.relpath(path, root)}:{ln} {name}"
        for pattern in ("*.py", "frontier_engine/*.py", "tests/*.py")
        for path in sorted(glob.glob(os.path.join(root, pattern)))
        for ln, name in _unused_imports(path)
    ]
    assert found == [], "unused imports: " + ", ".join(found)
