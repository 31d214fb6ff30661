"""Structured Streaming ingestion variant.

The north_rule pipeline is resumable *batch* (checkpoint/resume via the
bucket manifest in materialize.py) — but a continuously-arriving corpus
can feed the same extraction with Structured Streaming:

- ``stream_extract``: file-source stream of documents parquet ->
  foreachBatch(run_extraction) -> parquet partitioned by batch_id with
  dynamic partition overwrite.  Each micro-batch reuses the exact batch
  pipeline (same UDFs, same scoring plan), so streaming and batch
  cannot drift; exactly-once = streaming checkpoint (batch replay
  detection) + the idempotent per-batch_id partition overwrite (a batch
  replayed after a crash-before-checkpoint rewrites its own partition
  instead of appending duplicates).
- ``windowed_mention_rate``: event-time windowed aggregation with a
  watermark — the late-data-tolerant monitoring stream (mentions/min
  per relation) the reference has no analog for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .corpus import DOCUMENTS_SCHEMA
from .pipeline import run_extraction


def stream_documents(spark: SparkSession, input_dir: str,
                     max_files_per_trigger: int = 4) -> DataFrame:
    """File-source stream over the documents table directory."""
    return (spark.readStream
            .schema(DOCUMENTS_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_dir))


def write_mention_batch(mentions: DataFrame, batch_id: int,
                        output_dir: str) -> None:
    """Idempotent micro-batch sink: the batch's rows land in partition
    ``batch_id=<n>`` via dynamic partition overwrite, so replaying a
    batch (crash before the streaming checkpoint committed) rewrites
    that partition instead of appending duplicate mention rows."""
    (mentions.withColumn("batch_id", F.lit(batch_id))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("batch_id")
     .parquet(output_dir))


def stream_extract(spark: SparkSession, input_dir: str,
                   output_dir: str, checkpoint_dir: str,
                   conf_threshold: float = 0.0):
    """documents stream -> mentions parquet, one micro-batch at a time.

    foreachBatch reuses the batch extraction pipeline verbatim; the
    streaming checkpoint detects replays and the batch_id-partitioned
    dynamic overwrite makes them idempotent (see write_mention_batch).
    Returns the StreamingQuery (caller awaits/stops it)."""
    docs = stream_documents(spark, input_dir)

    def process(batch_df: DataFrame, batch_id: int):
        write_mention_batch(
            run_extraction(batch_df, conf_threshold=conf_threshold),
            batch_id, output_dir)

    return (docs.writeStream
            .foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def windowed_mention_rate(mentions_stream: DataFrame,
                          event_time_col: str = "event_time",
                          window: str = "1 minute",
                          watermark: str = "2 minutes") -> DataFrame:
    """Watermarked event-time windowed aggregation over a mention
    stream: mentions per (window, rel) with late rows accepted up to
    the watermark and older ones dropped (state is bounded)."""
    return (mentions_stream
            .withWatermark(event_time_col, watermark)
            .groupBy(F.window(F.col(event_time_col), window)
                     .alias("win"),
                     F.col("rel_text"))
            .agg(F.count("*").alias("n_mentions"))
            .select(F.col("win.start").alias("window_start"),
                    F.col("win.end").alias("window_end"),
                    "rel_text", "n_mentions"))


def link_mention_batch(batch_df: DataFrame, batch_id: int,
                       map_dir: str, linked_dir: str,
                       banded_state: dict | None = None) -> None:
    """One micro-batch of continuous KG maintenance: incrementally
    link ``batch_df`` against the accumulated canonical map and write
    (a) the map DELTA and (b) the linked mentions, each into a
    ``batch_id=<n>`` partition via dynamic overwrite.

    Replay determinism: the map is read EXCLUDING this batch's own
    partition, so a batch replayed after a crash (delta written,
    checkpoint not committed) sees byte-identical input state — and
    because novel node ids are content-derived min-norm labels, the
    rewritten partitions are identical to the first attempt's.  "No
    map yet" is probed as in materialize.StageWriter: path_exists,
    then AnalysisException for a directory with no schema."""
    from pyspark.errors import AnalysisException

    from .linking import band_entities, incremental_link
    from .materialize import path_exists
    spark = batch_df.sparkSession
    existing = spark.createDataFrame([], "norm string, node_id string")
    if path_exists(spark, map_dir):
        try:
            existing = (spark.read.parquet(map_dir)
                        .where(F.col("batch_id") != batch_id)
                        .select("norm", "node_id"))
        except AnalysisException:
            pass
    caches = []
    pre_banded = banded_state.get("banded") if banded_state else None
    if banded_state is not None and pre_banded is None:
        # seed the across-batch band frame ONCE, before the link call
        # (incremental_link then skips its own banding of the map —
        # seeding after the call would band the same map twice).
        # localCheckpoint, not persist: the frame is extended
        # iteratively batch over batch, so its lineage must be
        # TRUNCATED or the plan grows per batch and a lost block
        # recomputes through every previous batch (the CC iterative
        # rule; reliable cluster spelling is .checkpoint())
        pre_banded = band_entities(existing).localCheckpoint()
        banded_state["banded"] = pre_banded
    linked, delta = incremental_link(batch_df, existing,
                                     caches_out=caches,
                                     existing_banded=pre_banded)
    (delta.withColumn("batch_id", F.lit(batch_id))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("batch_id").parquet(map_dir))
    write_mention_batch(linked, batch_id, linked_dir)
    if banded_state is not None:
        # extend the across-batch band frame BEFORE releasing this
        # batch's caches (the extension must not depend on the
        # about-to-be-released delta lineage): next batch links
        # without re-banding the whole map.  localCheckpoint per
        # extension keeps the iterative lineage TRUNCATED (see the
        # seed comment above); restart-safe — after a crash the state
        # is empty and the next first batch re-seeds from the map it
        # reads, which excludes its own partition.
        prev = banded_state["banded"]
        banded_state["banded"] = (
            prev.unionByName(band_entities(delta)).localCheckpoint())
        prev.unpersist()
    # both outputs are on disk: release this batch's materialized
    # frames so a long-running stream doesn't stack per-batch caches
    for c in caches:
        c.unpersist()


def stream_link(spark: SparkSession, input_dir: str, schema: str,
                map_dir: str, linked_dir: str, checkpoint_dir: str,
                max_files_per_trigger: int = 4):
    """Continuous KG maintenance: a mention stream incrementally
    linked against an accumulating canonical map (stream_extract's
    output directory is a valid ``input_dir``).  Per micro-batch the
    exact/attach/novel tiers of ``linking.incremental_link`` apply,
    so node ids the downstream KG references never churn as the
    stream grows; exactly-once = streaming checkpoint + the
    batch_id-partitioned dynamic overwrites (see link_mention_batch).
    Returns the StreamingQuery (caller awaits/stops it)."""
    ments = (spark.readStream.schema(schema)
             .option("maxFilesPerTrigger", max_files_per_trigger)
             .parquet(input_dir))
    banded_state: dict = {}  # across-batch banded-map amortization

    def process(batch_df: DataFrame, batch_id: int):
        link_mention_batch(batch_df, batch_id, map_dir, linked_dir,
                           banded_state=banded_state)

    return (ments.writeStream
            .foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())
