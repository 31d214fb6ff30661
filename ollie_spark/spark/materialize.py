"""Graph materialization with per-partition lineage + checkpoint/resume.

north_rule stage (3): every pipeline stage writes a bucketed table
(partitioned by ``bucket = pmod(xxhash64(doc_id), n_buckets)``) plus a
manifest of completed buckets.  Resuming a run anti-joins the pending
bucket set against the manifest and re-processes only those buckets —
dynamic partition overwrite makes per-bucket writes idempotent, so a
stage killed mid-run resumes without duplicating output.  At 10^12 docs
the bucket count is the unit of recovery (and of explicit repartitioning
on doc_id hash ranges).

Tables are parquet here; the layout (bucketed data + transactional-ish
manifest) is the Iceberg table layout with the catalog swapped out —
`writeTo(...).overwritePartitions()` is a drop-in replacement when an
Iceberg catalog is configured (no Iceberg runtime jars ship in this
sandbox).
"""

from __future__ import annotations

import time
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def materialize_once(df: DataFrame) -> DataFrame:
    """Materialize a multi-consumer frame exactly once.

    The dedup/linking pair generators reference one expensive frame
    (minhash signatures, tokenizations, ANN cells) from both sides of a
    self-join plus an optional metrics probe; without materialization
    Spark re-runs the whole producing pipeline per consumer.  The
    strategy switches on the deployment:

    - ``local[...]`` master (one JVM, this sandbox): ``localCheckpoint``
      — truncates lineage so every consumer scans the stored partitions.
      Fault tolerance is irrelevant in a single process.
    - any other master (a real multi-executor cluster, including
      ``local-cluster[...]`` which has executors to lose):
      ``persist(MEMORY_AND_DISK)`` + count — an executor loss recomputes
      the lost partitions from lineage instead of failing the job, which
      ``localCheckpoint`` (unrecoverable partitions) would.

    Cache lifetime on the cluster path is CALLER-OWNED: the returned
    frame is consumed lazily by the generator's output, so this helper
    cannot unpersist it.  Memory blocks are LRU-evictable (worst case:
    recompute), but a long-lived session driving many pipeline runs
    should ``spark.catalog.clearCache()`` between runs — persisted
    entries, unlike localCheckpoint RDDs, are not GC-reclaimed while
    the session holds references.
    """
    master = df.sparkSession.conf.get("spark.master", "")
    if master.startswith("local") and not master.startswith("local-cluster"):
        return df.localCheckpoint(eager=True)
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    return df


def cap_blocks(frame: DataFrame, key_cols: list,
               cap: int | None) -> tuple:
    """(kept, dropped): materialize a blocked frame once and drop every
    block (one distinct ``key_cols`` value) with more than ``cap`` rows
    — the cap-and-count step every self-join pair generator runs before
    its join (linking.lsh_candidate_pairs, textops.minhash_band_pairs,
    textops.ngram_jaccard_pairs), so one degenerate block cannot emit
    O(block^2) pairs.  ``dropped`` is the number of dropped blocks;
    callers report it in ``metrics_out``, so a drop is never silent.

    Block sizes come from a map-side-combining ``groupBy``, not a
    window: a window colocates every row of the most degenerate block
    on one task before the cap can drop it, and the equi-join back is
    one AQE can skew-split.  The sizes are materialized and counted
    eagerly, so when nothing is over the cap (the common case) the
    filter join is skipped and the materialized frame is returned
    as-is; otherwise the capped path reads the stored sizes and
    materializes the kept rows once.  ``cap=None`` disables the cap."""
    frame = materialize_once(frame)
    if cap is None:
        return frame, 0
    sizes = materialize_once(
        frame.groupBy(*key_cols).agg(F.count("*").alias("_n")))
    dropped = sizes.where(F.col("_n") > cap).count()
    if dropped == 0:
        return frame, 0
    kept = materialize_once(
        frame.join(sizes.where(F.col("_n") <= cap), key_cols).drop("_n"))
    return kept, dropped


def path_exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists, asked of the Hadoop ``FileSystem`` the
    path's scheme names, so an object-store root (``s3a://``,
    ``gs://``) answers as the Spark reader would, which a driver-local
    ``Path.exists()`` cannot.  Probing with ``spark.read`` instead
    fails a query, and once the session has used an ``Observation``
    every failed query logs a listener ERROR with a stack trace."""
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    return p.getFileSystem(conf).exists(p)


def with_bucket(df: DataFrame, n_buckets: int,
                key: str = "doc_id") -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets))
        .cast("int"))


class StageWriter:
    """Writes one stage's output bucket-partitioned, with a manifest.

    Layout:
        {root}/{stage}/data/bucket=N/...parquet
        {root}/{stage}/manifest/...parquet
            (stage, bucket, rows, wall_ms, run_id, ts)
    """

    def __init__(self, spark: SparkSession, root: str, n_buckets: int = 16):
        self.spark = spark
        self.root = str(root)
        self.n_buckets = n_buckets
        spark.conf.set("spark.sql.sources.partitionOverwriteMode",
                       "dynamic")

    def _data(self, stage):
        return f"{self.root}/{stage}/data"

    def _manifest(self, stage):
        return f"{self.root}/{stage}/manifest"

    def completed_buckets(self, stage: str) -> set[int]:
        """Buckets already recorded in the stage manifest.

        Probes via ``path_exists`` (the Hadoop filesystem), NOT the
        driver-local one: a ``Path.exists()`` check is always False on
        an object-store root — resume would silently re-run every
        bucket (idempotent, so correct, but resume is the feature).
        ``AnalysisException`` still covers a directory with no schema
        to infer (an empty manifest dir).

        Bucketing-drift guard (r6): the manifest records the run's
        ``n_buckets``; resuming with a DIFFERENT value would silently
        change every row's bucket assignment (``pmod(xxhash64(key),
        n)`` over a new modulus) — manifest-completed buckets would be
        skipped while holding the WRONG doc subset, i.e. duplicated
        and missing rows with no error.  Mismatch raises instead."""
        path = self._manifest(stage)
        if not path_exists(self.spark, path):
            return set()
        try:
            m = self.spark.read.parquet(path)
        except AnalysisException:
            return set()
        if "n_buckets" in m.columns:
            seen = [r.n_buckets for r in
                    m.select("n_buckets").distinct().collect()]
            bad = [n for n in seen if n != self.n_buckets]
            if bad:
                raise ValueError(
                    f"stage {stage!r} manifest was written with "
                    f"n_buckets={sorted(set(bad))}, but this writer "
                    f"has n_buckets={self.n_buckets}; resuming would "
                    f"mis-assign rows to completed buckets — use the "
                    f"original n_buckets or a fresh root")
        rows = m.select("bucket").distinct().collect()
        return {r.bucket for r in rows}

    def pending_buckets(self, stage: str) -> list[int]:
        done = self.completed_buckets(stage)
        return [b for b in range(self.n_buckets) if b not in done]

    def run_stage(self, stage: str, df: DataFrame,
                  key: str = "doc_id", run_id: str | None = None,
                  buckets: list[int] | None = None) -> dict:
        """Process + write only the pending buckets of ``df``.

        Returns metrics {stage, buckets, rows, wall_ms, run_id}.
        Idempotent: a bucket present in the manifest is skipped; a
        bucket written but not yet in the manifest is safely
        overwritten (dynamic partition overwrite).
        """
        run_id = run_id or uuid.uuid4().hex[:12]
        pending = buckets if buckets is not None \
            else self.pending_buckets(stage)
        if not pending:
            return {"stage": stage, "buckets": [], "rows": 0,
                    "wall_ms": 0, "run_id": run_id}

        bucketed = with_bucket(df, self.n_buckets, key=key)
        if len(pending) < self.n_buckets:
            bucketed = bucketed.where(F.col("bucket").isin(pending))
        # bucket-aligned writes: shuffle each stage's rows onto their
        # bucket before partitionBy, so one task owns one bucket dir.
        # Without this every upstream task writes a sliver file into
        # EVERY bucket dir (tasks x buckets tiny files) — the dominant
        # fixed cost of the KB-scale edges/nary stages in the full-job
        # bench.  The shuffle moves each row once; at production scale
        # n_buckets is sized so one bucket ~ one task's worth of data
        # (the bucket is the unit of recovery AND of write
        # parallelism), so no parallelism is lost.  CPU-heavy upstream
        # work (extraction UDFs) still runs at full parallelism in the
        # map side of this shuffle; only the parquet-write stage
        # narrows to one task per bucket.
        # The manifest's per-bucket row counts are observed in the
        # write's own result stage, so counting costs no job of its
        # own; Spark applies a result stage's accumulator updates once
        # per partition, so a retried or speculative task does not
        # count twice.  One histogram_numeric aggregate with a bin per
        # pending bucket does the counting at one binary search over
        # the bins per row (a count_if per bucket costs a comparison
        # per bucket per row: 8x the write's wall at 1,024 buckets,
        # 400k rows on a 4-core host).
        # The histogram merges bins only when it holds more distinct
        # values than bins, closest first: a bucket's copies from two
        # partitions sit 0 apart and distinct buckets 1 apart, so the
        # counts stay exact and a merged centre is off by float
        # rounding only (hence the double input and the round).
        rows_seen = Observation()
        bucketed = (bucketed.repartition(len(pending), "bucket")
                    .observe(rows_seen, F.histogram_numeric(
                        F.col("bucket").cast("double"),
                        F.lit(max(2, len(pending)))).alias("bins")))

        t0 = time.monotonic()
        (bucketed.write.mode("overwrite")
         .partitionBy("bucket")
         .parquet(self._data(stage)))
        wall_ms = int((time.monotonic() - t0) * 1000)
        counts = dict.fromkeys(pending, 0)
        for x, y in rows_seen.get["bins"] or []:
            counts[round(x)] += int(y)
        if not any(counts.values()):
            # a zero-row partitionBy write leaves only _SUCCESS, which
            # has no schema to read back (empty or all-media input).
            # An empty unpartitioned write into one pending bucket's
            # directory leaves a schema-only file, so a resume and
            # read_stage see the stage typed and empty.
            (df.limit(0).write.mode("overwrite")
             .parquet(f"{self._data(stage)}/bucket={pending[0]}"))
        # pandas/Arrow: a plain-list createDataFrame is a pickled
        # python RDD whose write spins python workers (seconds of
        # fixed per-stage latency); the Arrow path is a JVM
        # LocalRelation (see linking.connected_components)
        import pandas as pd

        manifest = self.spark.createDataFrame(pd.DataFrame(
            [(stage, int(b), counts[b], wall_ms, run_id,
              time.time(), self.n_buckets) for b in pending],
            columns=["stage", "bucket", "rows", "wall_ms", "run_id",
                     "ts", "n_buckets"])
            .astype({"bucket": "int32", "rows": "int64",
                     "wall_ms": "int64", "n_buckets": "int32"}))
        manifest.write.mode("append").parquet(self._manifest(stage))
        return {"stage": stage, "buckets": pending,
                "rows": int(sum(counts.values())), "wall_ms": wall_ms,
                "run_id": run_id}

    def read_stage(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self._data(stage))

    def metrics(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self._manifest(stage))
