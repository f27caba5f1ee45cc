"""TTL re-crawl: expire stale URLs from the seen set so the frontier can
schedule them again (the long-lived-crawl policy the reference cannot
express — its dedup state is a process-lifetime in-memory set,
/root/reference/deepbnb/spiders/airbnb.py:51,169-173, gone on restart and
never selectively expirable).

Two halves, both scale-shaped:

* **policy** (`due_for_recrawl`) — pure-SQL selection over a fetch log
  ``(url_hash, host, last_fetch_ts)``: a url is due when
  ``last_fetch_ts + ttl(host) < now``. Per-host TTL overrides ride a
  small dimension broadcast; the log scan prunes columns + pushes the
  timestamp filter. No shuffle beyond the (optional) broadcast join.
* **mechanism** (`seen_store.SeenExactStore.expire`) — tombstone the due
  keys in the exact store (O(expired) delta write, folded at
  compaction). The bloom is the store's base index and cannot delete, so
  until the next compaction it keeps reporting expired keys as stale
  positives; the tombstoned exact confirm drops them from the dup set, so
  ``seen.filter_unseen`` stays exact and only pays confirm-join traffic
  for them. The compaction rewrites the base without the expired keys and
  rebuilds the bloom from it, so they leave the bloom there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def due_for_recrawl(
    fetch_log: DataFrame,
    now_ts,
    default_ttl_s: int,
    host_ttl: DataFrame | None = None,
) -> DataFrame:
    """URLs whose last fetch is older than their host's TTL.

    *fetch_log*: (url_hash, host, last_fetch_ts) — one row per url (use
    ``groupBy(url_hash).agg(max(ts))`` upstream if the log is per-fetch).
    *host_ttl*: optional (host, ttl_s) dimension; hosts absent fall back
    to *default_ttl_s*. Returns (url_hash, host, last_fetch_ts, ttl_s).
    Unit-agnostic: timestamps and TTLs just have to share a unit
    (seconds, µs, …).
    """
    out = fetch_log
    if host_ttl is not None:
        out = out.join(F.broadcast(host_ttl), "host", "left")
        ttl = F.coalesce(F.col("ttl_s"), F.lit(default_ttl_s))
    else:
        ttl = F.lit(default_ttl_s)
    return (
        out.withColumn("ttl_s", ttl.cast("long"))
        .where(F.col("last_fetch_ts") + F.col("ttl_s").cast("double") < F.lit(now_ts))
        .select("url_hash", "host", "last_fetch_ts", "ttl_s")
    )

