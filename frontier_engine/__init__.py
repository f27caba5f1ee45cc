"""frontier_engine — a PySpark-native crawl frontier + fetch scheduler.

A from-scratch re-expression of the capabilities of
``digital-engineering/airbnb-scraper`` (reference at /root/reference, a
Scrapy 2.6 crawler) as declarative Spark DataFrame jobs:

* frontier scheduling (priority queue + LIFO/DFO ordering, per-host
  politeness budgets, robots.txt filtering) — ``schedule.py``,
  ``robots.py``; ``schedule.py`` also owns the salted per-group top-k
  and the per-partition prefix-sum offsets the text operators reuse
* URL-seen dedup at 10^10-URL design scale (an exact bucketed store
  whose base carries partitioned bloom shards as its index, probed by
  cogroup; TTL re-crawl expiry by tombstones) — ``seen.py``,
  ``seen_store.py``, ``recrawl.py``
* stored-page "fetch" as a join against a Common-Crawl-style pages table —
  ``fetch.py``
* vectorized parse/extraction of the reference's search / PDP / reviews
  JSON responses (Arrow pandas UDFs only where Spark builtins cannot
  express the semantics) — ``parse.py``, ``assemble.py``
* the reference's item pipeline filters, dedup, and sinks —
  ``pipeline.py``, ``sinks.py``
* snapshot/resume with per-partition lineage — ``snapshots.py``
* large-scale text/dedup/similarity operators for training-data pipelines —
  ``textops.py``, ``similarity.py``

Everything here is built only from public knowledge: the PySpark API and
the reference repo's observable behavior (cited by file:line in
docstrings).
"""

__version__ = "0.1.0"
