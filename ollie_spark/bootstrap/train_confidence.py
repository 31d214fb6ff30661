"""Confidence-function training (B15/B16,
confidence/train/TrainOllieConfidence.scala:36-50 and
CrossValidateConfidence.scala:39-80).

The reference trains a Breeze logistic regression over the
OllieFeatureSet on hand-labelled instances; here labelled mentions
(feature array + label) feed ``pyspark.ml.classification
.LogisticRegression``, and the learned weights come back in the same
{feature_name: weight} shape our scorer consumes — so a freshly trained
classifier drops straight into the extraction pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _assemble(labelled: DataFrame):
    from pyspark.ml.functions import array_to_vector
    return labelled.select(
        F.col("label").cast("double").alias("label"),
        array_to_vector(F.col("features")).alias("fvec"))


def _logistic_regression():
    """The model both trainers fit: unregularized (Spark's default
    regParam 0.0), at most 100 iterations."""
    from pyspark.ml.classification import LogisticRegression
    return LogisticRegression(featuresCol="fvec", labelCol="label",
                              maxIter=100)


def train_confidence(labelled: DataFrame, feature_order: list[str]
                     ) -> tuple[float, dict]:
    """labelled(features array<double>, label int) ->
    (intercept, {feature: weight})."""
    model = _logistic_regression().fit(_assemble(labelled))
    coeffs = model.coefficients.toArray().tolist()
    return float(model.intercept), dict(zip(feature_order, coeffs))


def cross_validate_confidence(labelled: DataFrame, folds: int = 10) -> float:
    """B16: k-fold CV accuracy (reference default splits=10)."""
    from pyspark.ml.evaluation import (
        MulticlassClassificationEvaluator)
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    cv = CrossValidator(
        estimator=_logistic_regression(),
        estimatorParamMaps=ParamGridBuilder().build(),
        evaluator=MulticlassClassificationEvaluator(
            labelCol="label", metricName="accuracy"),
        numFolds=folds, seed=42)
    return float(max(cv.fit(_assemble(labelled)).avgMetrics))
