"""The extraction pipeline: documents -> sentences -> mentions.

Spark shape (SURVEY.md §3.1): ``documents`` scan -> ``posexplode(spans)``
-> parse UDF -> extract UDF -> native confidence expression -> filter.
The only Python is two Arrow-batched ``mapInPandas`` stages (parse,
extract); scoring is a Spark SQL dot-product + sigmoid so it stays in
whole-stage codegen.  No shuffle anywhere in this file — extraction is
embarrassingly parallel per input partition; shuffles first appear in
linking/nary/materialize.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, DoubleType, IntegerType,
                               StringType, StructField, StructType)

SPAN_T = StructType([StructField("start", IntegerType()),
                     StructField("end", IntegerType())])

MENTIONS_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("span_idx", IntegerType()),
    StructField("sent_idx", IntegerType()),
    StructField("arg1_text", StringType()),
    StructField("rel_text", StringType()),
    StructField("arg2_text", StringType()),
    StructField("arg1_span", SPAN_T),
    StructField("rel_span", SPAN_T),
    StructField("arg2_span", SPAN_T),
    StructField("enabler", StructType([
        StructField("prefix", StringType()),
        StructField("phrase", StringType()),
        StructField("span", SPAN_T)])),
    StructField("attribution", StructType([
        StructField("arg", StringType()),
        StructField("arg_span", SPAN_T),
        StructField("rel", StringType()),
        StructField("rel_span", SPAN_T)])),
    StructField("pattern", StringType()),
    StructField("openparse_conf", DoubleType()),
    StructField("features", ArrayType(DoubleType())),
    StructField("error", StringType()),
])

# per-worker extractor singleton (the broadcast-equivalent for the
# pattern model: loaded once per executor python worker, reused across
# Arrow batches)
_OLLIE = None


def _get_ollie():
    global _OLLIE
    if _OLLIE is None:
        from ..extract.ollie import Ollie
        _OLLIE = Ollie()
    return _OLLIE


def sentences(documents: DataFrame) -> DataFrame:
    """R1: explode interleaved spans; keep text spans; media spans are
    untouched by construction (they simply don't enter this path)."""
    return (documents
            .select("doc_id",
                    F.posexplode("spans").alias("span_idx", "span"))
            .where(F.col("span.kind") == "text")
            .select("doc_id",
                    F.col("span_idx").cast("int").alias("span_idx"),
                    F.col("span.text").alias("text")))


def segment_sentences(sents: DataFrame) -> DataFrame:
    """R2 (opt-in, SentenceIterator.scala:5-38): split multi-sentence
    text spans; single-sentence spans pass through unchanged.  Adds a
    ``sent_idx`` ordinal within the span (media spans never enter this
    path, so the document's span sequence is untouched)."""
    import re as _re
    splitter = _re.compile(r"(?<=[.!?])\s+(?=[A-Z\"'(])")

    def run(batches):
        import pandas as pd
        for pdf in batches:
            rows = []
            for doc_id, span_idx, text in zip(
                    pdf["doc_id"], pdf["span_idx"], pdf["text"]):
                for i, s in enumerate(splitter.split(text or "")):
                    if s.strip():
                        rows.append({"doc_id": doc_id,
                                     "span_idx": int(span_idx),
                                     "sent_idx": i, "text": s.strip()})
            yield pd.DataFrame(
                rows, columns=["doc_id", "span_idx", "sent_idx", "text"])

    return sents.mapInPandas(
        run, schema="doc_id string, span_idx int, sent_idx int, "
                    "text string")


def _extraction_stage(rows_df: DataFrame, batch_graphs) -> DataFrame:
    """Shared mapInPandas extraction runner.

    ``batch_graphs(pdf) -> list[DependencyGraph | None]`` supplies one
    graph (or None = unparseable) per input row; per-row extraction
    errors are shielded into the ``error`` column (reference
    --ignore-errors, OpenParse.scala:376-379).  An incoming
    ``sent_idx`` column is propagated so sentence provenance survives
    an upstream segment_sentences stage (default 0 without one)."""
    col_names = [f.name for f in MENTIONS_SCHEMA.fields]

    def run(batches):
        import gc

        ollie = _get_ollie()
        # the extraction loop allocates heavily (nodes, edges, matches)
        # but creates no reference cycles, so CPython's cyclic GC is
        # pure overhead here: ~1,300 gen0 collections per 4k docs cost
        # ~15% single-core and worsen multi-core scaling (pause work
        # grows with live heap x worker count).  Freeze the loaded
        # model out of future scans and collect ~70x less often;
        # refcounting still frees everything promptly.  Thresholds are
        # restored on exit — reused python workers run other stages'
        # UDFs, which must not inherit this stage's tuning.
        gc.collect()
        gc.freeze()
        old_threshold = gc.get_threshold()
        gc.set_threshold(50_000, 25, 25)
        try:
            yield from _run_batches(batches, ollie, col_names)
        finally:
            gc.set_threshold(*old_threshold)
            # unfreeze too: a reused python worker runs other stages'
            # UDFs, and anything alive at freeze time (their state
            # included) must return to cyclic-GC visibility or cycles
            # formed later among those objects leak for the worker's
            # lifetime
            gc.unfreeze()

    def _run_batches(batches, ollie, col_names):
        import pandas as pd

        # cap the output accumulator: Arrow input batches default to
        # 10k rows (~25k+ output rows live per worker) — flushing in
        # chunks keeps the live set flat regardless of batch size
        flush_rows = 4096
        for pdf in batches:
            # columnar accumulation: list-of-dicts -> DataFrame is the
            # expensive path at hundreds of thousands of rows
            cols = {n: [] for n in col_names}

            def emit(doc_id, span_idx, sent_idx, r=None, error=None):
                cols["doc_id"].append(doc_id)
                cols["span_idx"].append(int(span_idx))
                cols["sent_idx"].append(int(sent_idx))
                if error is not None:
                    for n in ("arg1_text", "rel_text", "arg2_text",
                              "arg1_span", "rel_span", "arg2_span",
                              "enabler", "attribution", "pattern",
                              "openparse_conf", "features"):
                        cols[n].append(None)
                    cols["error"].append(error)
                    return
                cols["arg1_text"].append(r.arg1_text)
                cols["rel_text"].append(r.rel_text)
                cols["arg2_text"].append(r.arg2_text)
                cols["arg1_span"].append(_sp(r.arg1_span))
                cols["rel_span"].append(_sp(r.rel_span))
                cols["arg2_span"].append(_sp(r.arg2_span))
                cols["enabler"].append(
                    None if r.enabler is None else {
                        "prefix": r.enabler.prefix,
                        "phrase": r.enabler.phrase,
                        "span": _sp(r.enabler.span)})
                cols["attribution"].append(
                    None if r.attribution is None else {
                        "arg": r.attribution.arg,
                        "arg_span": _sp(r.attribution.arg_span),
                        "rel": r.attribution.rel,
                        "rel_span": _sp(r.attribution.rel_span)})
                cols["pattern"].append(r.pattern)
                cols["openparse_conf"].append(float(r.openparse_conf))
                cols["features"].append(list(r.features))
                cols["error"].append(None)

            sent_idxs = (pdf["sent_idx"] if "sent_idx" in pdf.columns
                         else [0] * len(pdf))
            # batch_graphs may return a LAZY generator (the default
            # parser path): each graph is built, extracted, and freed
            # row-by-row — holding a whole Arrow batch of graphs alive
            # at once measurably hurts high-core scaling (GC pressure
            # scales with workers x live set)
            batch_err = None
            try:
                graphs_iter = iter(batch_graphs(pdf))
            except Exception as e:  # noqa: BLE001 — shield whole batch
                graphs_iter = None
                batch_err = f"parser batch failure: {type(e).__name__}: {e}"
            for doc_id, span_idx, sent_idx in zip(
                    pdf["doc_id"], pdf["span_idx"], sent_idxs):
                if graphs_iter is None:
                    emit(doc_id, span_idx, sent_idx, error=batch_err)
                    continue
                try:
                    graph = next(graphs_iter)
                except StopIteration:
                    emit(doc_id, span_idx, sent_idx,
                         error="parser returned too few graphs")
                    continue
                except Exception as e:  # noqa: BLE001
                    graphs_iter = None
                    batch_err = (f"parser batch failure: "
                                 f"{type(e).__name__}: {e}")
                    emit(doc_id, span_idx, sent_idx, error=batch_err)
                    continue
                try:
                    if graph is None:
                        emit(doc_id, span_idx, sent_idx,
                             error="unparseable")
                        continue
                    for r in ollie.extract(graph):
                        emit(doc_id, span_idx, sent_idx, r)
                except Exception as e:  # noqa: BLE001 — error shielding
                    emit(doc_id, span_idx, sent_idx,
                         error=f"{type(e).__name__}: {e}")
                if len(cols["doc_id"]) >= flush_rows:
                    yield pd.DataFrame(cols, columns=col_names)
                    cols = {n: [] for n in col_names}
            # symmetric alignment check: a parser yielding FEWER graphs
            # than rows is flagged per row above; one yielding MORE
            # would silently pair every row with the wrong graph if the
            # extras went unchecked — probe for leftovers and surface a
            # per-batch error row
            if graphs_iter is not None and len(pdf):
                try:
                    next(graphs_iter)
                except StopIteration:
                    pass
                except Exception as e:  # noqa: BLE001 — probe must not
                    # raise, but a parser erroring right after the last
                    # graph is a batch failure, not perfect alignment —
                    # surface it like every other shielded parser error
                    emit(pdf["doc_id"].iloc[-1], pdf["span_idx"].iloc[-1],
                         int(pdf["sent_idx"].iloc[-1])
                         if "sent_idx" in pdf.columns else 0,
                         error=f"parser batch failure: "
                               f"{type(e).__name__}: {e}")
                else:
                    emit(pdf["doc_id"].iloc[-1], pdf["span_idx"].iloc[-1],
                         int(pdf["sent_idx"].iloc[-1])
                         if "sent_idx" in pdf.columns else 0,
                         error="parser returned extra graphs "
                               "(output misaligned with input rows)")
            if cols["doc_id"]:
                yield pd.DataFrame(cols, columns=col_names)

    return rows_df.mapInPandas(run, schema=MENTIONS_SCHEMA)


def extract_mentions(sents: DataFrame, parser=None) -> DataFrame:
    """R3-R18 + R20: parse + match + expand + features, one Arrow batch
    at a time.

    ``parser`` is the R3 injection point (the reference's pluggable
    parser slot, OllieCli.scala:200-209): a picklable callable
    ``parser(texts: list[str]) -> list[DependencyGraph | None]``
    invoked once per Arrow batch on the executors.  Default: the
    synthetic-corpus/fixture parser (synth.parse_text) — no English
    dependency parser ships in this container, so arbitrary-text
    parsing arrives by injecting one here (or by feeding pre-parsed
    graphs to ``extract_serialized``, the reference's --serialized
    mode, OpenParse.scala:298-307)."""
    if parser is None:
        def batch_graphs(pdf):
            from .synth import parse_text
            # generator: parse lazily so each graph dies right after
            # its extractions are emitted (scaling-critical, see
            # _extraction_stage)
            return (parse_text(t) for t in pdf["text"])
    else:
        def batch_graphs(pdf):
            return parser(list(pdf["text"]))
    return _extraction_stage(sents, batch_graphs)


def extract_serialized(graphs_df: DataFrame,
                       text_col: str | None = None) -> DataFrame:
    """Pre-parsed corpus ingestion (reference --serialized mode,
    OpenParse.scala:298-307): rows carry a pickled dependency graph in
    a ``graph`` column (``label(src_tok, dst_tok); ...`` format,
    graph.py:194) instead of raw text; deserialization errors shield
    per row exactly like parse errors.

    ``text_col`` (optional) restores the original sentence text onto
    each deserialized graph.  The pickle encodes only the graph's
    nodes, so a graph whose nodes don't cover every surface token
    (dropped punctuation, collapsed prepositions) reconstructs a
    shorter ``graph.text`` — and the sentence-level features (R20)
    scored off it drift from the direct path.  Supplying the text
    column makes serialize -> deserialize -> extract value-identical
    to direct extraction (pinned by
    tests/test_entry_oracle.py::test_kg_serialized_roundtrip_equals_direct_path).
    """
    if text_col is not None and text_col not in graphs_df.columns:
        # fail loudly: silently falling back to node-reconstructed
        # text would reintroduce the feature drift this parameter
        # exists to prevent
        raise ValueError(
            f"text_col {text_col!r} not in input columns "
            f"{graphs_df.columns}")

    def batch_graphs(pdf):
        from ..graph import DependencyGraph

        texts = pdf[text_col] if text_col is not None else None

        def gen():
            for i, p in enumerate(pdf["graph"]):
                try:
                    yield DependencyGraph.deserialize(
                        p, text=None if texts is None else texts.iloc[i])
                except Exception:  # noqa: BLE001 — malformed pickle
                    yield None
        return gen()
    return _extraction_stage(graphs_df, batch_graphs)


def _sp(span):
    return {"start": int(span[0]), "end": int(span[1])}


def score(mentions: DataFrame, intercept: float,
          weights_ordered: list[float]) -> DataFrame:
    """R21: conf = sigmoid(intercept + w·f) as a native SQL expression
    over the feature array — JVM-side, whole-stage codegen."""
    w = F.array(*[F.lit(float(x)) for x in weights_ordered])
    z = F.aggregate(
        F.zip_with("features", w, lambda f, wi: f * wi),
        F.lit(float(intercept)),
        lambda acc, x: acc + x)
    return mentions.withColumn(
        "conf",
        F.when(F.col("error").isNull(),
               F.lit(1.0) / (F.lit(1.0) + F.exp(-z))))


def _score_and_filter(mentions: DataFrame,
                      conf_threshold: float) -> DataFrame:
    from ..model.loader import load_classifier
    from ..extract.features import feature_names
    intercept, weights = load_classifier()
    order = feature_names(weights)
    scored = score(mentions, intercept, [weights[n] for n in order])
    return (scored
            .where(F.col("error").isNull())
            .where(F.col("conf") >= F.lit(conf_threshold))
            .drop("features", "error"))


def run_extraction(documents: DataFrame,
                   conf_threshold: float = 0.0,
                   parser=None, segment: bool = False) -> DataFrame:
    """documents -> scored mentions (errors filtered out).

    ``parser`` plugs a real dependency parser into R3 (see
    extract_mentions); ``segment=True`` inserts the opt-in R2
    sentence-segmentation stage (its sent_idx is propagated into the
    mention rows)."""
    sents = sentences(documents)
    if segment:
        sents = segment_sentences(sents)
    return _score_and_filter(extract_mentions(sents, parser=parser),
                             conf_threshold)


def run_extraction_serialized(graphs_df: DataFrame,
                              conf_threshold: float = 0.0,
                              text_col: str | None = None) -> DataFrame:
    """Pre-parsed corpus -> scored mentions: the --serialized pipeline
    end-to-end (deserialize + extract + score + filter).  Pass
    ``text_col`` to restore original sentence text onto the graphs
    (see extract_serialized)."""
    return _score_and_filter(
        extract_serialized(graphs_df, text_col=text_col),
        conf_threshold)


def extraction_errors(documents: DataFrame) -> DataFrame:
    """The shielded-error rows, for the metrics table."""
    m = extract_mentions(sentences(documents))
    return m.where(F.col("error").isNotNull()).select(
        "doc_id", "span_idx", "error")
