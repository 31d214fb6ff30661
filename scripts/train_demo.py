#!/usr/bin/env python3
"""End-to-end bootstrap demo: train a pattern model from corpus-derived
seeds, then evaluate it against the corpus oracle — writes TRAINING.md.

Exercises the full §2.2 chain at a non-toy size, in TWO variants:
    base: seeds -> B4 induction -> B5/B6 filters -> B7 histogram
          -> B8 prep generalization -> B9/B11 templates -> B14
          confidence
    full: base + B10 slot semantics + B13 passive reflections + B12
          category generalization
then extraction with each *trained* model on held-out documents and
B17/B18 scoring (precision/yield, AUC) vs the corpus oracle.
"""

from __future__ import annotations

import random
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def seed_rows(n_per_template: int, rng_seed: int = 11):
    from ollie_spark.model.lemmatizer import lemmatize
    from ollie_spark.model.wordlists import SIMPLE_PREPOSITIONS
    from ollie_spark.spark.synth import TEMPLATES

    stop = {"the", "a", "an", "is", "was", "be"} | set(SIMPLE_PREPOSITIONS)

    def content(s):
        return " ".join(lemmatize(w) for w in s.split()
                        if w.lower() not in stop)

    rows = []
    rng = random.Random(rng_seed)
    for _, build, _, sample in TEMPLATES:
        for _ in range(n_per_template):
            _, graph, expected = build(sample(rng))
            for a1, rel, a2, _, _ in expected:
                a1c, a2c = content(a1), content(a2)
                if not a1c or not a2c:
                    continue
                lemmas = " ".join(sorted(set(
                    (a1c + " " + content(rel) + " " + a2c).split())))
                rows.append((" ".join(lemmatize(w) for w in rel.split()),
                             a1c, a2c, lemmas, graph.serialize()))
    return rows


def main():
    import argparse

    ap = argparse.ArgumentParser()
    # defaults reproduce the committed TRAINING.md (r4 4x-scale run)
    ap.add_argument("--seeds-per-template", type=int, default=1600)
    ap.add_argument("--held-out-docs", type=int, default=20000)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from ollie_spark.bootstrap.evaluate import auc, precision_yield, score
    from ollie_spark.bootstrap.stages import (SEED_SCHEMA,
                                              model_rows_to_extractors,
                                              train_model)
    from ollie_spark.spark.corpus import corpus, expected_triples
    from ollie_spark.spark.session import build_session
    from ollie_spark.spark.pipeline import (MENTIONS_SCHEMA, sentences)

    spark = build_session("train-demo", master="local[16]",
                          shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")

    from ollie_spark.bootstrap.stages import (generalize_templates,
                                              load_categories)

    n_seeds_per = args.seeds_per_template
    seeds = spark.createDataFrame(seed_rows(n_seeds_per), SEED_SCHEMA)
    base_rows = train_model(seeds, max_length=4, min_common=5,
                            min_diverse=2).collect()
    # the full chain: + B10 slot semantics, + B13 matcher-level passive
    # reflections, + B12 category generalization (the reference's
    # person/location lists; a no-op when no NN rel matcher clears the
    # lemma-overlap bar — reported either way)
    full_df = train_model(seeds, max_length=4, min_common=5,
                          min_diverse=2, with_reflections=True,
                          slot_min_count=2)
    full_rows = generalize_templates(full_df, load_categories()).collect()

    n_docs = args.held_out_docs
    docs = corpus(spark, n_docs, seed=1234, partitions=32)
    sents = sentences(docs)

    gold_rows = set()
    for i in range(n_docs):
        d = f"doc-{i:012d}"
        for a, r, b, _, _ in expected_triples(d, seed=1234):
            gold_rows.add((f"{a}; {r}; {b}", 1))
    gold = spark.createDataFrame(sorted(gold_rows),
                                 "triple string, label int")
    n_gold = len(gold_rows)

    def evaluate(model_rows):
        bc = spark.sparkContext.broadcast(
            [(r["template"], r["pattern"], float(r["conf"]))
             for r in (x.asDict() for x in model_rows)])

        def run(batches):
            import pandas as pd
            from ollie_spark.bootstrap.stages import \
                model_rows_to_extractors
            from ollie_spark.extract.build import OpenParse
            from ollie_spark.spark.synth import parse_text
            ops = OpenParse(model_rows_to_extractors(
                [{"template": t, "pattern": p, "conf": c}
                 for t, p, c in bc.value]))
            for pdf in batches:
                rows = []
                for doc_id, span_idx, text in zip(pdf["doc_id"],
                                                  pdf["span_idx"],
                                                  pdf["text"]):
                    g = parse_text(text)
                    if g is None:
                        continue
                    for conf, extr, _ in ops.extract(g):
                        rows.append({"doc_id": doc_id,
                                     "span_idx": int(span_idx),
                                     "arg1_text": extr.arg1.text,
                                     "rel_text": extr.rel.text,
                                     "arg2_text": extr.arg2.text,
                                     "conf": float(conf)})
                yield pd.DataFrame(rows, columns=[
                    "doc_id", "span_idx", "arg1_text", "rel_text",
                    "arg2_text", "conf"])

        mentions = sents.mapInPandas(
            run, schema="doc_id string, span_idx int, arg1_text string, "
                        "rel_text string, arg2_text string, conf double")
        scored = score(mentions.withColumn("pattern", F.lit("")), gold)
        n_extr = scored.count()
        n_hit = scored.where("label = 1").count()
        a = auc(precision_yield(scored))
        recall = (scored.where("label = 1")
                  .select("triple").distinct().count()) / n_gold
        return n_extr, n_hit, a, recall

    results = {"base": (base_rows, *evaluate(base_rows)),
               "full": (full_rows, *evaluate(full_rows))}

    md = f"""# TRAINING — bootstrap pipeline demo (trained-from-scratch model)

Seeds: {n_seeds_per} per template ({seeds.count()} rows) from the
synthetic bank (training RNG seed 11); trained with min_common=5,
min_diverse=2, max pattern length 4.  Two variants:

- **base**: B4-B9 + B11 + B14 (induction, filters, prep
  generalization, templates, confidence)
- **full**: base + B10 slot semantics (min_count=2) + B13 passive
  reflections (matcher-level) + B12 category generalization
  (person/location lists)

Held-out evaluation: {n_docs} fresh documents (corpus seed 1234),
extraction with ONLY each trained model:

| variant | model rows | extractions | precision | gold recovered (of {n_gold}) | PY-AUC |
|---|---|---|---|---|---|
"""
    for name, (rows, n_extr, n_hit, a, recall) in results.items():
        md += (f"| {name} | {len(rows)} | {n_extr} "
               f"| {n_hit / max(n_extr, 1):.3f} | {recall:.3f} "
               f"| {a:.3f} |\n")

    md += """
Reading the table: B13 reflections *add* passive paraphrases of every
nsubj pattern (that is the tool's purpose — PassiveReflections.scala
header notes BuildTemplates dedup removed them), so the full variant
emits ~2x extractions whose reflected direction the strict
corpus oracle does not credit; precision against that oracle drops
accordingly while gold recovery holds. On a corpus whose gold includes
passive paraphrases, the reflected rows are the recall gain.

Learned patterns (full variant):

"""
    for r in sorted(full_rows, key=lambda r: -r["conf"])[:24]:
        md += f"- `{r['template']}` · `{r['pattern']}` · {r['conf']:.3f}\n"
    (ROOT / "TRAINING.md").write_text(md)
    print(md)
    spark.stop()


if __name__ == "__main__":
    main()
