"""Full-job integration: documents -> materialized graph tables with
manifests; resume re-processes only pending buckets."""

import pytest
from pyspark.sql import functions as F

from ollie_spark.spark.corpus import DOCUMENTS_SCHEMA, corpus
from ollie_spark.spark.job import build_graph, read_graph
from ollie_spark.spark.materialize import StageWriter


def test_build_graph_end_to_end(spark, tmp_path):
    docs = corpus(spark, 60, seed=42, partitions=4)
    root = str(tmp_path / "graph")
    metrics = build_graph(spark, docs, root, n_buckets=4)

    for stage in ("mentions", "nodes", "edges", "nary"):
        assert metrics[stage]["rows"] > 0, stage
        assert len(metrics[stage]["buckets"]) == 4

    g = read_graph(spark, root)
    assert g["mentions"].count() == metrics["mentions"]["rows"]
    node_ids = {r.node_id for r in g["nodes"].collect()}
    e = g["edges"].select("src_node", "dst_node").collect()
    assert all(r.src_node in node_ids and r.dst_node in node_ids
               for r in e)

    # resume: everything complete -> all stages no-op
    again = build_graph(spark, docs, root, n_buckets=4)
    assert all(again[s]["buckets"] == [] for s in again)

    # lineage: every stage has a per-bucket manifest with wall_ms
    w = StageWriter(spark, root, n_buckets=4)
    for stage in ("mentions", "nodes", "edges", "nary"):
        m = w.metrics(stage)
        assert m.where(F.col("wall_ms") >= 0).count() >= 4


def test_build_graph_resumes_mid_run(spark, tmp_path):
    """Crash between stages: extraction's manifest is complete but no
    graph tables exist — a fresh build_graph call must no-op the
    mentions stage (resume, not re-extract) and build the rest."""
    from ollie_spark.spark.pipeline import run_extraction
    docs = corpus(spark, 60, seed=42, partitions=4)
    root = str(tmp_path / "graph_midrun")
    StageWriter(spark, root, n_buckets=4).run_stage(
        "mentions", run_extraction(docs))

    m = build_graph(spark, docs, root, n_buckets=4)
    assert m["mentions"]["buckets"] == []       # resumed, not re-run
    for stage in ("nodes", "edges", "nary"):
        assert m[stage]["rows"] > 0, stage
    g = read_graph(spark, root)
    assert g["mentions"].count() > 0
    assert g["nary"].count() == m["nary"]["rows"]


@pytest.mark.parametrize("rows", [
    [],
    [("d1", [("image", None, "media://d1/0", 0),
             ("audio", None, "media://d1/1", 1)])],
    [("d1", [("text", None, None, 0)])],
    [("d1", None)],
], ids=["empty", "all_media", "null_text", "null_spans"])
def test_build_graph_degenerate_input_writes_typed_empty_stages(
        spark, tmp_path, rows):
    """Nothing to extract from (no text spans, a NULL text, NULL
    spans) means zero rows in every stage.  A zero-row
    partitioned write leaves no parquet file to read a schema from, so
    the stage must still land typed and empty: build_graph, read_graph
    and a resume all read it back."""
    docs = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    root = str(tmp_path / "graph")
    m = build_graph(spark, docs, root, n_buckets=4)
    for stage in ("mentions", "nodes", "edges", "nary"):
        assert m[stage]["rows"] == 0, stage
        assert len(m[stage]["buckets"]) == 4, stage

    g = read_graph(spark, root)
    assert "node_id" in g["nodes"].columns
    assert "src_node" in g["edges"].columns
    assert "arg1_text" in g["mentions"].columns
    for stage, df in g.items():
        assert df.count() == 0, stage
        assert "bucket" in df.columns, stage

    again = build_graph(spark, docs, root, n_buckets=4)
    assert all(again[s]["buckets"] == [] for s in again)


def test_stage_writer_leaves_session_overwrite_mode_alone(spark, tmp_path):
    """StageWriter, run_stage and read_graph must not change the
    session's partitionOverwriteMode (the caller's later overwrites
    would silently turn dynamic); the bucket write is dynamic on its
    own, so rewriting one bucket keeps the others."""
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "STATIC")
    root = str(tmp_path / "graph")
    df = spark.range(40).select(F.col("id").cast("string").alias("doc_id"))
    w = StageWriter(spark, root, n_buckets=4)
    for stage in ("mentions", "nodes", "edges", "nary"):
        w.run_stage(stage, df)
    w.run_stage("mentions", df, buckets=[0])
    assert w.read_stage("mentions").count() == 40
    g = read_graph(spark, root)
    assert g["nary"].count() == 40
    assert spark.conf.get(key) == "STATIC"
