"""The benchmark workloads: set-up, the timed operation, its output
check, and the traced replay that splits the operation into spans.

Each workload is one closed-loop client: the next operation starts
when the previous one has finished, one Spark job at a time.

Set-up generates a canary input from a fixed seed and compares its
fingerprint with the one pinned in ``fingerprints.json``, so a change
to an input generator is flagged in every run instead of measured (a
failed check prints the measured value, which is what to pin after a
deliberate change).  ``prepare`` then generates the seeded input and
materializes it.  Each operation's output is checked against the
input's oracle and against the row counts of the seed's first run.

``link_wide``'s traced run also runs the headline curation queries
(``curation_battery``), so per-query spans sit beside the ``link``
span they control for.
"""

from __future__ import annotations

import glob
import json
import math
import os
import pstats
import random
from collections import Counter

from pyspark.sql import functions as F

import inputs
from spantrace import SPAN_METRICS, UNTRACED, udf_shares

PINNED = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "fingerprints.json")
RECORDS = ".perfbench_out"


def check_pinned(workload: str, key: str, got) -> list[str]:
    """Compare a canary measurement with its pinned value."""
    with open(PINNED) as f:
        want = json.load(f)[workload][key]
    got = json.loads(json.dumps(got))   # tuples -> lists, as pinned
    if got != want:
        return [f"{workload} canary {key} {got} != pinned {want}"]
    return []


def same_rows(wl, rows: dict) -> list[str]:
    """Every operation on a seed's input writes the same row counts, in
    this run and in every other run of the seed from this directory (the
    first one records them under ``RECORDS``), and none writes an empty
    table."""
    if not hasattr(wl, "ref_rows"):
        path = f"{RECORDS}/rows-{wl.name}-seed{wl.seed}.json"
        if os.path.exists(path):
            with open(path) as f:
                wl.ref_rows = json.load(f)
        else:
            os.makedirs(RECORDS, exist_ok=True)
            with open(path, "w") as f:
                json.dump(rows, f)
            wl.ref_rows = rows
    if rows != wl.ref_rows or not all(rows.values()):
        return [f"row counts {rows} != this seed's first {wl.ref_rows}"]
    return []


class KgBuild:
    """``job.build_graph`` over a materialized ``corpus()`` table."""

    name = "kg_build"
    items = n_docs = 2000
    canary_docs = 300
    sample_docs = 150
    spans = ("extract", "link", "nodes", "edges", "nary")

    def canary(self, spark, work: str) -> list[str]:
        inputs.write_kg_corpus(spark, f"{work}/canary", self.canary_docs,
                               seed=0)
        return check_pinned(self.name, "input", inputs.fingerprint(
            spark.read.parquet(f"{work}/canary")))

    def prepare(self, spark, path: str, seed: int):
        self.seed = seed
        inputs.write_kg_corpus(spark, path, self.n_docs, seed)
        self.docs = spark.read.parquet(path)

    def op(self, spark, root: str):
        from ollie_spark.spark.job import build_graph

        build_graph(spark, self.docs, root)

    @staticmethod
    def stage_rows(spark, root: str) -> dict[str, int]:
        from ollie_spark.spark.job import read_graph

        return {k: df.count() for k, df in read_graph(spark, root).items()}

    def check(self, spark, root: str) -> list[str]:
        return same_rows(self, self.stage_rows(spark, root)) \
            + self._triple_pr(spark, root)

    def _triple_pr(self, spark, root: str) -> list[str]:
        """Triple precision/recall on a seed-chosen document sample
        against the corpus oracle, over the template (non-fixture)
        spans, whose triples the oracle predicts."""
        from ollie_spark.spark.corpus import build_doc, expected_triples
        from ollie_spark.spark.job import read_graph
        from ollie_spark.spark.synth import FIXTURE_PARSES

        rng = random.Random(self.seed)
        ids = [f"doc-{i:012d}" for i in
               rng.sample(range(self.n_docs), self.sample_docs)]
        fixture_spans = {
            (d, i) for d in ids
            for i, (kind, text, _, _) in enumerate(build_doc(d, self.seed))
            if kind == "text" and text in FIXTURE_PARSES}
        got = Counter(
            (r.doc_id, r.arg1_text, r.rel_text, r.arg2_text)
            for r in read_graph(spark, root)["mentions"]
            .where(F.col("doc_id").isin(ids)).collect()
            if (r.doc_id, r.span_idx) not in fixture_spans)
        want = Counter((d, a, r, b) for d in ids
                       for a, r, b, _, _ in expected_triples(d, self.seed))
        tp = sum((got & want).values())
        precision = tp / max(sum(got.values()), 1)
        recall = tp / max(sum(want.values()), 1)
        self.quality = {"triple_precision": precision,
                        "triple_recall": recall}
        if min(precision, recall) < 0.95:
            return [f"triple P/R {precision:.3f}/{recall:.3f} < 0.95"]
        return []

    def traced_op(self, spark, spans, root: str) -> list[str]:
        """``build_graph``'s stage sequence, one span per stage; it must
        write the row counts ``build_graph`` wrote."""
        from ollie_spark.spark.linking import canonicalize
        from ollie_spark.spark.materialize import StageWriter
        from ollie_spark.spark.nary import nary_extractions
        from ollie_spark.spark.pipeline import run_extraction

        w = StageWriter(spark, root)
        with spans.span("extract"):
            w.run_stage("mentions", run_extraction(self.docs))
            mentions = w.read_stage("mentions")
        with spans.span("link"):
            _, nodes, edges = canonicalize(mentions)
        with spans.span("nodes"):
            w.run_stage("nodes", nodes, key="node_id")
        with spans.span("edges"):
            w.run_stage("edges", edges, key="src_node")
            spark.catalog.clearCache()
        with spans.span("nary"):
            w.run_stage("nary", nary_extractions(mentions))
        return same_rows(self, self.stage_rows(spark, root))

    def rows_out(self, spark, root: str) -> dict[str, int]:
        rows = self.stage_rows(spark, root)
        return {"extract": rows["mentions"], "nodes": rows["nodes"],
                "edges": rows["edges"], "nary": rows["nary"],
                "link": _canonical_map_rows(spark, root)}

    def profile_udf(self, spark, out_dir: str) -> dict[str, float]:
        """Extraction alone under the Python UDF profiler -> shares."""
        from ollie_spark.spark.pipeline import run_extraction

        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        try:
            run_extraction(self.docs).write.format("noop") \
                .mode("overwrite").save()
        finally:
            spark.conf.unset("spark.sql.pyspark.udf.profiler")
        spark.profile.dump(out_dir)
        files = sorted(glob.glob(f"{out_dir}/*.pstats"))
        return udf_shares(pstats.Stats(*files))


def _canonical_map_rows(spark, root: str) -> int:
    """Entity spellings (normalized) the link stage mapped to nodes."""
    from ollie_spark.spark.materialize import StageWriter

    return int(StageWriter(spark, root).read_stage("nodes")
               .agg(F.sum(F.size("aliases"))).first()[0] or 0)


class LinkWide:
    """``linking.canonicalize`` + the nodes/edges stage writes over a
    generated mentions table with planted near-duplicate entities."""

    name = "link_wide"
    # enough distinct spellings to take the distributed blocking path
    n_clusters = 800
    items = n_rows = 6000
    canary_clusters, canary_rows = 800, 6000
    spans = ("link", "nodes", "edges")

    def canary(self, spark, work: str) -> list[str]:
        self.work = work
        pdf, _ = inputs.link_mentions(self.canary_clusters,
                                      self.canary_rows, seed=0)
        self._write(spark, pdf, f"{work}/canary")
        return check_pinned(self.name, "input", inputs.fingerprint(
            spark.read.parquet(f"{work}/canary")))

    def prepare(self, spark, path: str, seed: int):
        self.seed = seed
        pdf, truth = inputs.link_mentions(self.n_clusters, self.n_rows, seed)
        self._write(spark, pdf, path)
        self.norm_cluster = self._norm_truth(spark, truth)
        self.mentions = spark.read.parquet(path)

    @staticmethod
    def _write(spark, pdf, path: str):
        os.makedirs(path)
        n_files = spark.sparkContext.defaultParallelism * 2
        step = -(-len(pdf) // n_files)
        for i in range(n_files):
            pdf.iloc[i * step:(i + 1) * step].to_parquet(
                f"{path}/part-{i:03d}.parquet", index=False)

    @staticmethod
    def _norm_truth(spark, truth: dict[str, int]) -> dict[str, int]:
        """Planted cluster of each normalized spelling, normalized by
        the program's own ``normalize_entity``."""
        import pandas as pd

        from ollie_spark.spark.linking import normalize_entity

        df = spark.createDataFrame(pd.DataFrame(
            {"text": list(truth), "cluster": list(truth.values())}))
        rows = df.select(normalize_entity(F.col("text")).alias("norm"),
                         "cluster").distinct().collect()
        return {r.norm: r.cluster for r in rows}

    @staticmethod
    def _run(spark, mentions, root: str, spans):
        from ollie_spark.spark.linking import canonicalize
        from ollie_spark.spark.materialize import StageWriter

        w = StageWriter(spark, root)
        with spans.span("link"):
            _, nodes, edges = canonicalize(mentions)
        with spans.span("nodes"):
            w.run_stage("nodes", nodes, key="node_id")
        with spans.span("edges"):
            w.run_stage("edges", edges, key="src_node")
            spark.catalog.clearCache()

    def op(self, spark, root: str):
        self._run(spark, self.mentions, root, UNTRACED)

    @staticmethod
    def stage_rows(spark, root: str) -> dict[str, int]:
        from ollie_spark.spark.materialize import StageWriter

        w = StageWriter(spark, root)
        return {s: w.read_stage(s).count() for s in ("nodes", "edges")}

    def check(self, spark, root: str) -> list[str]:
        return same_rows(self, self.stage_rows(spark, root)) \
            + self._alias_pr(spark, root)

    def _alias_pr(self, spark, root: str) -> list[str]:
        from ollie_spark.spark.materialize import StageWriter

        groups = [list(r.aliases) for r in StageWriter(spark, root)
                  .read_stage("nodes").select("aliases").collect()]
        precision, recall = inputs.pairwise_pr(groups, self.norm_cluster)
        self.quality = {"alias_precision": precision,
                        "alias_recall": recall}
        if min(precision, recall) < 0.95:
            return [f"alias pairwise P/R {precision:.3f}/{recall:.3f} "
                    f"< 0.95"]
        return []

    def traced_op(self, spark, spans, root: str) -> list[str]:
        """The operation, then the curation queries (see
        ``curation_battery``), each in its own span."""
        self._run(spark, self.mentions, root, spans)
        return same_rows(self, self.stage_rows(spark, root)) \
            + curation_battery(spark, spans, self.work, self.seed)

    def rows_out(self, spark, root: str) -> dict[str, int]:
        rows = self.stage_rows(spark, root)
        return {"link": _canonical_map_rows(spark, root), **rows}


HEADLINE = ("q01_pricing_summary", "q02_top_customers",
            "q04_frequent_parts_semijoin", "q05_diverse_suppliers",
            "q07_running_window", "q12_dedup_minhash", "q13_dedup_simhash",
            "q14_ngram_jaccard_pairs", "q16_token_count",
            "q18_ann_cosine_topk", "q19_ivf_bucketed_ann",
            "q21_embedding_neardup")


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    return v


def _row_key(t):
    return tuple((x is None, str(x)) for x in t)


def _oracle_diff(name: str, cols, rows, con, sql) -> list[str]:
    """Order-insensitive compare of one query's rows with its DuckDB
    oracle: floats rounded to 6 places, columns matched by name."""
    res = con.execute(sql)
    ocols = [d[0] for d in res.description]
    if sorted(cols) != sorted(ocols):
        return [f"{name}: columns {sorted(cols)} != oracle {sorted(ocols)}"]
    got = sorted((tuple(_norm(r[c]) for c in sorted(cols)) for r in rows),
                 key=_row_key)
    want = sorted((tuple(_norm(v) for _, v in sorted(zip(ocols, row)))
                   for row in res.fetchall()), key=_row_key)
    if got != want:
        return [f"{name}: {len(got)} rows differ from the oracle's "
                f"{len(want)}"]
    return []


CURATION_SCALE = 0.03


def curation_battery(spark, spans, work: str, seed: int) -> list[str]:
    """Run the twelve headline queries of ``__spark_entry__`` one after
    the other, each collected in its own span, over query tables
    generated from ``seed``, and check each against its DuckDB oracle.

    q12 and q14 deduplicate documents with the textops blocking
    primitives that linking uses, so a change to blocking that helps
    ``link`` but costs dedup shows in the same trace; the other queries
    are controls.  The pinned fingerprint of a canary table set flags a
    change to the table generator."""
    import __spark_entry__ as em

    canary = f"{work}/tables-canary"
    inputs.write_curation_tables(canary, 0.001, seed=0)
    problems = check_pinned("curation", "input", {
        t: inputs.fingerprint(spark.read.parquet(f"{canary}/{t}.parquet"))
        for t in inputs.CURATION_TABLES})
    path = f"{work}/tables"
    inputs.write_curation_tables(path, CURATION_SCALE, seed)
    queries = em.queries()
    got = {}
    for name in HEADLINE:
        with spans.span(name):
            df = queries[name](spark, path)
            got[name] = (df.columns, df.collect())
    return problems + _oracle_check(path, got)


def _oracle_check(path: str, got: dict) -> list[str]:
    """Each query's rows against its DuckDB oracle."""
    import duckdb

    import __spark_entry__ as em

    con = duckdb.connect()
    for t in inputs.CURATION_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}/{t}.parquet'")
    oracles = em.oracle_sql()
    problems = []
    for name, (cols, rows) in got.items():
        problems += _oracle_diff(name, cols, rows, con, oracles[name])
    con.close()
    return problems


WORKLOADS = {w.name: w for w in (KgBuild, LinkWide)}
QUERY_SPAN_METRICS = ("wall_s", "jobs", "executor_cpu_s",
                      "shuffle_write_mb")
UDF_SHARES = ("parse_share", "match_share", "assembly_share",
              "other_share")


def per_layer_names() -> list[str]:
    """Every traced run prints all of these; a run that bypasses a
    layer reports zeros for it."""
    names = [f"{s}.{k}" for s in KgBuild.spans for k in SPAN_METRICS]
    names += [f"extract.udf.{k}" for k in UDF_SHARES]
    names += [f"{q}.{k}" for q in HEADLINE for k in QUERY_SPAN_METRICS]
    names += [f"trace.{k}" for k in ("wall_s", "untraced_wall_s",
                                     "overhead_s", "unspanned_s")]
    return names
