"""SparkSession factory with the engine's scale-oriented defaults.

Single place where execution-relevant conf lives so tests, bench, and the
driver entry all run the same plan shapes:

* AQE on (runtime re-plan, skew-join splitting, small-shuffle coalescing)
* Arrow on (all Python UDFs here are pandas UDFs / mapInPandas)
* shuffle partitions sized for the local harness; a real cluster submit
  overrides via ``--conf`` (this module reads env, no code change needed).
* C2 deferred: the driver JVM starts with the JDK 17 tier-4 (C2)
  thresholds raised 10x (:data:`DRIVER_JAVA_OPTIONS`; JDK defaults
  5000 / 600 / 15000 / 40000).

The C2 policy. A crawl is many short Spark rounds, and the largest cost in
a round is the JVM compiling code, not any Spark stage: with the JDK
defaults, ``-XX:+CITime`` reports 53 s of JIT time in one ``crawl_stream``
benchmark round, 43 s of it C2 (3,223 methods), against ~14 CPU-s of
executor tasks. A LogCompilation log puts C2's time in driver-side code
that one round warms just enough to cross the default thresholds: janino
compiling Spark's generated code (9.4 s), Java serialization (~3.5 s),
catalyst (3.1 s), ``java.lang.invoke`` (2.5 s) and ANTLR (1.9 s). With
the thresholds raised 10x that code stays in C1, which compiles roughly
5x faster per byte, until it has proven hot over many rounds; C2 still
compiles it then. Sizing on a 4-core box, one-round
``perfbench/run.py --seconds 10 --trace 0`` runs, interleaved pairs,
seeds 1, 2, 3, 7 and 8, medians default -> 10x:

* ``crawl_stream`` round CPU 45.4 -> 35.9 s (-21%, 5/5 pairs), set-up
  19.2 -> 14.8 s;
* ``ingest_round`` round CPU 42.4 -> 38.2 s, set-up 29.1 -> 25.2 s.

A 10-pair A/B on held-out seeds 11-20 (same box and command) confirmed
it: ``crawl_stream`` round CPU 64.9 -> 42.5 s (10/10 pairs), set-up
27.2 -> 18.5 s; ``ingest_round`` 60.7 -> 48.3 s (9/10), set-up
38.6 -> 31.1 s.

Steady state does not lose: warm-JVM repeated one-round crawls hold the
median of rounds >= 6 at 16.7 CPU-s (default 16.0) and spend 283 CPU-s on
set-up plus the first 13 rounds (default 293). C1 only
(``TieredStopAtLevel=1``) loses there: 21.9 CPU-s per steady round.

Override rule. An explicit ``spark.driver.extraJavaOptions`` in
``extra_conf`` (or in ``--conf`` through ``PYSPARK_SUBMIT_ARGS``)
replaces this default, like any other key. Under ``spark-submit`` the
driver JVM exists before :func:`get_spark` runs, so the conf it sets can
no longer reach that JVM: pass the flags with ``--driver-java-options``
there. On a cluster the executors are separate JVMs that keep the JDK
defaults unless ``spark.executor.extraJavaOptions`` says otherwise.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DRIVER_JAVA_OPTIONS = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
    "-XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000"
)


def get_spark(
    app_name: str = "frontier-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
    shuffle = str(
        shuffle_partitions
        or os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
        or "32"
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Broadcast thresholds stay at the defaults (AQE runtime-sizes
        # them). Measured, not assumed: raising the adaptive threshold to
        # 128m so the dedupe anti-join's multi-MB dup-hash set broadcasts
        # was ~5% SLOWER at both 2 and 8 cores than the shuffled hash
        # join (the driver-side HashedRelation build for millions of keys
        # is serial and GC-noisy), with equal scaling efficiency. Bounded
        # small sides (politeness-bounded fetch batches, dims, deltas)
        # still broadcast under the default threshold.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.driver.extraJavaOptions", DRIVER_JAVA_OPTIONS)
        .config("spark.local.dir", os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/tmp"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
