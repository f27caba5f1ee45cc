"""O1/O5/X13: ranking + politeness budgets; salted == unsalted (SURVEY §5)."""

import pandas as pd

from frontier_engine.config import EngineConfig
from frontier_engine.schedule import assign_discovered_seq_counted, rank_batch


def _pending(spark, n_hot=200, n_cold=20):
    rows = []
    seq = 0
    for i in range(n_hot):
        seq += 1
        rows.append(("hot.example", f"https://hot.example/u{i}", 200.0 + (i % 50), seq))
    for i in range(n_cold):
        seq += 1
        rows.append(("cold.example", f"https://cold.example/u{i}", 100.0, seq))
    pdf = pd.DataFrame(rows, columns=["host", "url", "priority", "discovered_seq"])
    pdf["crawl_delay_s"] = 10.0
    pdf["max_concurrency"] = 10
    return spark.createDataFrame(pdf)


def test_salted_equals_unsalted(spark):
    cfg = EngineConfig(salt_partitions=8)
    df = _pending(spark)
    a = sorted(
        (r.host, r.url, r["rank"]) for r in rank_batch(df, cfg, salted=True).collect()
    )
    b = sorted(
        (r.host, r.url, r["rank"]) for r in rank_batch(df, cfg, salted=False).collect()
    )
    assert a == b, "two-phase salted top-k must be semantically identical"


def test_budget_respected_and_order(spark):
    cfg = EngineConfig(round_seconds=100.0)  # delay 10 → budget 10
    batch = rank_batch(_pending(spark), cfg).collect()
    per_host = {}
    for r in batch:
        per_host.setdefault(r.host, []).append(r)
    assert all(len(v) <= 10 for v in per_host.values())
    hot = sorted(per_host["hot.example"], key=lambda r: r["rank"])
    keys = [(-r.priority, -r.discovered_seq) for r in hot]
    assert keys == sorted(keys), "rank follows (priority desc, seq desc)"


def test_budget_formula():
    cfg = EngineConfig(round_seconds=100.0, concurrent_per_host=10, download_delay_s=10.0)
    assert cfg.host_budget() == 10
    assert cfg.host_budget(crawl_delay_s=20.0) == 5
    assert cfg.host_budget(crawl_delay_s=5.0) == 10  # clamped by concurrency
    assert cfg.host_budget(crawl_delay_s=1000.0) == 1  # floor 1


def test_discovered_seq_independent_of_partitioning(spark):
    """The per-partition offsets give every candidate seq_offset + 1 +
    its (depth, parent_url, url) rank at any partition count; at 64
    range partitions most are empty, so their ids are missing from the
    offset map."""
    rows = [
        (i % 3, f"https://p{i % 4}.example/", f"https://h{i % 7}.example/u{i}")
        for i in range(50)
    ]
    cands = spark.createDataFrame(rows, "depth int, parent_url string, url string")
    want = {r[2]: 1000 + 1 + k for k, r in enumerate(sorted(rows))}
    for n_parts in (1, 3, 64):
        out, n, handle = assign_discovered_seq_counted(cands, 1000, n_parts=n_parts)
        got = {r.url: r.discovered_seq for r in out.collect()}
        handle.unpersist()
        assert n == 50, n_parts
        assert got == want, n_parts
