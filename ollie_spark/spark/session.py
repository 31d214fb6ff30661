"""SparkSession construction with scale-appropriate defaults.

Tuned for the target execution model (many executors over bucketed
Iceberg/parquet tables): AQE on (runtime coalescing + skew-join
splitting), Arrow batches sized for the extraction UDF, and an explicit
shuffle-partition default the caller overrides per cluster size.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# One C2 (tier-4) compiler thread for the driver JVM, in place of the
# two HotSpot starts on a 4-core host (more on larger ones).  HotSpot
# already backs off when C2 falls behind: it raises the tier-4
# thresholds with the queue length per C2 thread, and drops a queued
# method that has not run for 50 ms.  With one thread those brakes
# engage when a burst of methods turns hot at once, as in the first op
# of a session, and stay off when the queue is short, as later on.
# A cold op (one build_graph or canonicalize in a fresh session)
# spends more driver CPU in C2 threads than anywhere else, nearly all
# on framework code that is hot for seconds and then never again:
# Janino compiling generated code, task (de)serialization, the closure
# cleaner's ASM ClassReader, class loading, parquet.  The generated
# query classes are ~4% of C2 time.  Cold perfbench op on a 4-core
# host, CPU by JVM thread class (scripts/cpu_breakdown.py, kg_build /
# link_wide): C2 30 / 27 s of 69 / 53 s in all; one C2 thread
# leaves C2 16 / 15 s, executor tasks within 0-2 s.  Long sessions
# of many different queries do not pay for it: the pytest suite's one
# session ran 548 vs 547 s, bench.py's battery at the same wall and
# 8% less CPU (tier-4 thresholds x10 save as much on the cold op but
# slow the suite 11-21%).  Spark prepends
# defaultJavaOptions to spark.driver.extraJavaOptions, so callers' own
# options add to these; a caller replaces them through extra_conf.
# Driver JVM only: in local mode the driver is the whole engine, and
# executor JVMs of a real cluster keep the JVM's default.
DRIVER_JIT_OPTIONS = "-XX:CICompilerCount=2"


def _worker_pythonpath() -> str:
    """PYTHONPATH for python workers: this package's root first, then
    whatever the environment already carries (pyspark's own paths are
    merged in by the worker factory regardless)."""
    import ollie_spark
    pkg_root = os.path.dirname(
        os.path.dirname(os.path.abspath(ollie_spark.__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    return f"{pkg_root}:{existing}" if existing else pkg_root


def build_session(app_name: str = "ollie-spark",
                  master: str | None = None,
                  shuffle_partitions: int | None = None,
                  extra_conf: dict | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(8, int(cpus) if cpus.isdigit() else 32)
    b = (SparkSession.builder
         .appName(app_name)
         .master(master)
         .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
         # workers unpickle the UDF closures by module reference: ship
         # this package's root on the worker PYTHONPATH so the import
         # works regardless of the driver's cwd (on a cluster the
         # package arrives via --py-files the same way)
         .config("spark.executorEnv.PYTHONPATH", _worker_pythonpath())
         .config("spark.driver.memory", "8g")
         .config("spark.driver.defaultJavaOptions", DRIVER_JIT_OPTIONS)
         .config("spark.ui.enabled", "false"))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
