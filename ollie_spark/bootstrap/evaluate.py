"""Evaluation harness as DataFrame ops (SURVEY.md §2.2 B17-B21).

- score: join extractions against a gold set (eval/Score.scala:88-155,
  string-keyed exact match)
- precision_yield: running precision over confidence-ranked
  extractions + AUC (eval/PrecisionYield.scala:36-53)
- rank_patterns: per-pattern precision + frequency
  (eval/RankPatterns.scala:37-56)
- group_scored_by: precision per group (eval/GroupScoredBy.scala:14-42)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# B21: sentences drawn per bootstrap resample
# (StatisticalSignificance.scala:52-127)
BOOTSTRAP_SAMPLE_SIZE = 50


def triple_key(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "triple",
        F.concat_ws("; ", "arg1_text", "rel_text", "arg2_text"))


def score(extractions: DataFrame, gold: DataFrame) -> DataFrame:
    """gold(triple string, label int) left-joined onto extractions."""
    return (triple_key(extractions)
            .join(F.broadcast(gold), "triple", "left")
            .withColumn("label", F.coalesce("label", F.lit(0))))


def precision_yield(scored: DataFrame) -> DataFrame:
    """Running precision/yield ordered by confidence desc; add AUC via
    a cumulative window (the reference's sequential scan expressed as
    Window.orderBy, SURVEY §2.3)."""
    w = (Window.orderBy(F.desc("conf"), "triple")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (scored
            .select("triple", "conf", "label")
            .withColumn("yld", F.sum("label").over(w))
            .withColumn("n", F.count("*").over(w))
            .withColumn("precision",
                        F.col("yld").cast("double") / F.col("n")))


def auc(py: DataFrame) -> float:
    """Area under the precision-yield curve (mean precision at each
    yield increment, mirroring Analysis.areaUnderCurve)."""
    gained = py.where(F.col("label") == 1)
    row = gained.agg(F.avg("precision").alias("a")).collect()[0]
    return float(row.a) if row.a is not None else 0.0


def rank_patterns(scored: DataFrame) -> DataFrame:
    return (scored.groupBy("pattern")
            .agg(F.avg(F.col("label").cast("double")).alias("precision"),
                 F.count("*").alias("frequency"))
            .orderBy(F.desc("precision"), F.desc("frequency")))


def paired_bootstrap_significance(scored_a: DataFrame,
                                  scored_b: DataFrame,
                                  iterations: int = 100) -> float:
    """B21 (eval/StatisticalSignificance.scala:52-127): paired bootstrap
    over sentence resamples — p = fraction of resamples where system A's
    precision does not beat B's.

    Resampling is deterministic: the (iteration, draw) grid picks
    sentences via xxhash64 — an explode + join + two aggregations, no
    driver-side loop."""
    def per_sentence(scored):
        return (scored.groupBy("doc_id", "span_idx")
                .agg(F.sum("label").alias("tp"),
                     F.count("*").alias("n"))
                .withColumn("sid", F.dense_rank().over(
                    Window.orderBy("doc_id", "span_idx")) - 1))

    a = per_sentence(scored_a).withColumnRenamed("tp", "tp_a") \
        .withColumnRenamed("n", "n_a")
    b = per_sentence(scored_b).select(
        "doc_id", "span_idx", F.col("tp").alias("tp_b"),
        F.col("n").alias("n_b"))
    joined = a.join(b, ["doc_id", "span_idx"], "outer").fillna(0).cache()
    n_sent = joined.count()
    if n_sent == 0:
        return 1.0

    spark = scored_a.sparkSession
    grid = (spark.range(iterations).withColumnRenamed("id", "iter")
            .withColumn("draw", F.explode(F.sequence(
                F.lit(0), F.lit(BOOTSTRAP_SAMPLE_SIZE - 1))))
            .withColumn("sid", F.pmod(
                F.xxhash64("iter", "draw", F.lit(42)),
                F.lit(n_sent)).cast("int")))
    sampled = grid.join(joined, "sid")
    per_iter = (sampled.groupBy("iter")
                .agg((F.sum("tp_a") / F.sum("n_a")).alias("prec_a"),
                     (F.sum("tp_b") / F.sum("n_b")).alias("prec_b")))
    worse = per_iter.where(
        F.coalesce("prec_a", F.lit(0.0))
        <= F.coalesce("prec_b", F.lit(0.0))).count()
    return worse / iterations


def feature_evaluation(mentions: DataFrame,
                       label_col: str | None = None) -> DataFrame:
    """Per-extraction feature dump (confidence/OllieFeatureEvaluation.
    scala:80-100): one row per extraction with its confidence plus one
    column per named classifier feature, feature names sorted — the
    reference filters to weights that exist and sorts
    (``featureNames.filter(weights.get(_).isDefined).toList.sorted``),
    which is exactly the canonical array order the Spark pipeline
    already uses (``features.feature_names == sorted(weights)``), so
    the dump is a positional unpack of the ``features`` array.

    Input is the PRE-filter mention frame (still carrying ``features``,
    i.e. ``extract_mentions`` output before ``_score_and_filter`` drops
    the array).  ``conf`` is added with the same native-SQL sigmoid the
    pipeline uses if the frame isn't scored yet.  When ``label_col``
    names a 0/1 gold column, the reference's running yield / precision
    columns are added over the confidence-descending order (its
    ``Analysis.precisionYieldMeta`` scan).

    Shape at scale: pure projection (array indexing, no shuffle); the
    optional yield/precision pair is a global ordered window, same as
    ``precision_yield`` — an eval-table concern, not a pipeline stage.

    Deliberate divergence from the reference's head row (advisor
    note): this dump's running sums are INCLUSIVE — the first row
    carries (yield = its own label, precision = label/1) — whereas
    ``OllieFeatureEvaluation.scala:71`` prepends a synthetic
    (yield 0, precision 1.0) row before ``Analysis.precisionYieldMeta``.
    Row-per-extraction semantics are kept here because the dump joins
    back to extractions 1:1; consumers wanting the reference's table
    shape prepend the constant head row themselves.
    """
    from ..extract.features import feature_names
    from ..model.loader import load_classifier

    intercept, weights = load_classifier()
    order = feature_names(weights)

    df = mentions
    if "error" in df.columns:
        df = df.where(F.col("error").isNull())
    if "conf" not in df.columns:
        from ..spark.pipeline import score as _score
        df = _score(df, intercept, [weights[n] for n in order])

    base = [
        F.col("conf"),
        F.col("openparse_conf").alias("op_conf"),
        F.concat_ws("; ", "arg1_text", "rel_text", "arg2_text")
        .alias("extr"),
        F.col("enabler").isNotNull().alias("has_enabler"),
        F.col("attribution").isNotNull().alias("has_attribution"),
        F.col("doc_id"), F.col("span_idx"), F.col("sent_idx"),
    ]
    feats = [F.col("features")[i].alias(n) for i, n in enumerate(order)]

    if label_col is not None:
        w = (Window.orderBy(F.desc("conf"), "extr")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        return (df.select(F.col(label_col).cast("int").alias("score"),
                          *base, *feats)
                .withColumn("yld", F.sum("score").over(w))
                .withColumn("precision",
                            F.col("yld").cast("double")
                            / F.count("*").over(w))
                .orderBy(F.desc("conf"), "extr"))
    return df.select(*base, *feats).orderBy(F.desc("conf"), "extr")


def group_scored_by(scored: DataFrame, column: str) -> DataFrame:
    return (scored.groupBy(column)
            .agg(F.avg(F.col("label").cast("double")).alias("precision"),
                 F.count("*").alias("n"))
            .orderBy(F.desc("n")))
