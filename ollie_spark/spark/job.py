"""The full KG-construction job: documents -> mentions -> linked graph
tables, materialized with per-bucket lineage and resume.

This is the single entry point a pipeline operator calls (and what
``spark-submit scripts/extract_job.py --link --output`` drives): each
north_rule stage lands as a bucketed table with a manifest, so a killed
run resumes from the last completed buckets of each stage.

    graph/
      mentions/  data/bucket=N/...  manifest/     (stage 1: extraction)
      nodes/     data/...           manifest/     (stage 2+3: linking)
      edges/     data/...           manifest/
      nary/      data/...           manifest/     (n-ary rollup)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .linking import canonicalize
from .materialize import StageWriter
from .nary import nary_extractions
from .pipeline import run_extraction


def build_graph(spark: SparkSession, documents: DataFrame, root: str,
                n_buckets: int = 16) -> dict:
    """Run every stage, resuming any stage whose manifest is partial.

    Returns per-stage metrics: {stage: {buckets, rows, wall_ms,
    run_id}}.
    """
    w = StageWriter(spark, root, n_buckets=n_buckets)
    metrics = {}

    # stage 1: extraction (bucketed by doc_id)
    mentions = run_extraction(documents)
    metrics["mentions"] = w.run_stage("mentions", mentions)
    mentions_t = w.read_stage("mentions")

    # stages 2+3: linking + canonicalization -> nodes / edges,
    # bucketed on their own canonical keys.  canonicalize's eager work
    # (LSH signatures + connected components + canonical-map count) is
    # timed as its own pseudo-stage so the full-job scaling
    # decomposition can name the core-count-flat tail instead of
    # leaving it as unaccounted wall (r5 full-job pairs showed
    # 25-57s between the stage writes, growing with core count).
    import time as _time

    link_split: dict = {}
    link_caches: list = []
    t0 = _time.monotonic()
    linked, nodes, edges = canonicalize(mentions_t,
                                        metrics_out=link_split,
                                        caches_out=link_caches)
    metrics["link"] = {
        "stage": "link", "buckets": [], "rows": 0,
        "wall_ms": int((_time.monotonic() - t0) * 1000),
        "run_id": "", "split": link_split}
    metrics["nodes"] = w.run_stage("nodes", nodes, key="node_id")
    metrics["edges"] = w.run_stage("edges", edges, key="src_node")
    # nodes/edges are on disk and nary reads the mentions parquet —
    # release canonicalize's full-corpus caches so repeated
    # build_graph calls in one session don't stack them (no-op on the
    # localCheckpoint path, real release on the cluster persist path)
    for c in link_caches:
        c.unpersist()

    # n-ary rollup over the materialized mentions
    metrics["nary"] = w.run_stage("nary", nary_extractions(mentions_t))
    return metrics


def read_graph(spark: SparkSession, root: str) -> dict:
    """-> {mentions, nodes, edges, nary} DataFrames."""
    w = StageWriter(spark, root)
    out = {}
    for stage in ("mentions", "nodes", "edges", "nary"):
        out[stage] = w.read_stage(stage)
    return out
