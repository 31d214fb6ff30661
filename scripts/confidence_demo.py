#!/usr/bin/env python3
"""Train the confidence function on the reference's own 956 labelled
instances (data/training.tsv) and compare against the shipped
classifier — writes CONFIDENCE.md.

This is B15/B16 on the real data: graph pickles, extraction parts and
patterns are parsed with our codecs, the 38 features computed with our
battery, and pyspark.ml logistic regression learns fresh weights.
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def main():
    from ollie_spark.bootstrap.reference_data import (
        feature_rows, load_training_instances)
    from ollie_spark.bootstrap.train_confidence import (
        cross_validate_confidence, train_confidence)
    from ollie_spark.extract.features import (feature_names,
                                              ollie_confidence)
    from ollie_spark.model.loader import load_classifier
    from ollie_spark.spark.session import build_session

    insts, errors = load_training_instances()
    intercept, weights = load_classifier()
    order = feature_names(weights)
    rows = feature_rows(insts, order)
    ordered = [weights[n] for n in order]

    base_rate = max(sum(l for _, l in rows),
                    len(rows) - sum(l for _, l in rows)) / len(rows)
    shipped_correct = sum(
        int((ollie_confidence(f, intercept, ordered) >= 0.5) == bool(l))
        for f, l in rows)

    spark = build_session("confidence-demo", master="local[8]",
                          shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    labelled = spark.createDataFrame(
        rows, "features array<double>, label int")

    new_intercept, new_weights = train_confidence(labelled, order)
    new_ordered = [new_weights[n] for n in order]
    retrained_correct = sum(
        int((ollie_confidence(f, new_intercept, new_ordered) >= 0.5)
            == bool(l)) for f, l in rows)
    cv_acc = cross_validate_confidence(labelled, folds=10)

    top = sorted(new_weights.items(), key=lambda kv: -abs(kv[1]))[:8]
    md = f"""# CONFIDENCE — retraining on the reference's labelled data

Generated by `python scripts/confidence_demo.py`.

Input: the reference's `data/training.tsv` — {len(insts)} labelled
ScoredOllieExtractionInstance rows ({errors} parse errors), read
entirely through this engine's codecs (graph pickles, part
serializations, pattern grammar) and featurized with our 38-feature
battery.

| measurement | accuracy |
|---|---|
| majority-class base rate | {base_rate:.3f} |
| shipped classifier (our features, shipped weights) | {shipped_correct / len(rows):.3f} |
| retrained LR (train accuracy) | {retrained_correct / len(rows):.3f} |
| retrained LR, 10-fold CV | {cv_acc:.3f} |

The shipped-weights number is the parity check: the published weights
were trained against the reference's feature implementations, so
scoring above base rate with *our* feature battery confirms the
features line up. Largest retrained weights:

"""
    for name, w in top:
        md += f"- `{name}`: {w:+.3f}\n"
    (ROOT / "CONFIDENCE.md").write_text(md)
    print(md)
    spark.stop()


if __name__ == "__main__":
    main()
