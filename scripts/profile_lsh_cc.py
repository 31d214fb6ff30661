#!/usr/bin/env python3
"""Decompose the cold cost of canonicalize's blocking stage (lsh_cc).

Fresh session; synthesizes the same ~366 distinct norms the bench
corpus yields by running the real extraction on a small corpus, then
times each internal stage of lsh_candidate_pairs + connected_components
cold.  Run on a quiet box.
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from ollie_spark.spark.session import build_session  # noqa: E402

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main():
    spark = build_session("profile-lsh-cc", master=f"local[{CPUS}]",
                          shuffle_partitions=max(CPUS, 8))
    spark.sparkContext.setLogLevel("ERROR")

    from ollie_spark.spark.corpus import corpus
    from ollie_spark.spark.pipeline import run_extraction
    from ollie_spark.spark.linking import (_lsh_banded, normalize_entity,
                                           connected_components,
                                           lsh_candidate_pairs)
    from ollie_spark.spark.materialize import cap_blocks, materialize_once

    t = {}

    def clock(name, fn):
        t0 = time.monotonic()
        out = fn()
        t[name] = round(time.monotonic() - t0, 3)
        return out

    # small corpus -> mentions -> distinct norms (the closed-vocab bank
    # saturates at ~366 norms regardless of SF)
    docs = corpus(spark, 2000, seed=42, partitions=CPUS)
    m = clock("extract_2k", lambda: run_extraction(docs).persist())
    m.count()
    ments = (m.select(normalize_entity(F.col("arg1_text")).alias("norm"))
             .unionByName(
                 m.select(normalize_entity(F.col("arg2_text")).alias("norm")))
             .where(F.col("norm") != ""))
    counts = clock("counts", lambda: ments.groupBy("norm").count().persist())
    print("n_norms:", clock("counts_count", counts.count))

    entities = counts.select("norm")

    # stage 1: the banded frame alone (includes the 16-hash minhash
    # expression analysis/codegen + one localCheckpoint)
    banded = clock("banded_checkpoint",
                   lambda: materialize_once(_lsh_banded(entities)))
    # stages 2-3: the cap step lsh_candidate_pairs runs (sizes agg,
    # dropped count, kept frame); its own materialize_once re-stores
    # the already-checkpointed band frame, a scan with no signature work
    kept, _ = clock("cap_blocks",
                    lambda: cap_blocks(banded, ["band_key"], 64))
    # stage 4: pair self-join + jaccard verify (count to materialize)
    from ollie_spark.spark.linking import _char3_jaccard
    a, b = kept.alias("a"), kept.alias("b")
    pairs = (a.join(b, "band_key")
             .where(F.col("a.norm") < F.col("b.norm"))
             .select(F.col("a.norm").alias("norm_a"),
                     F.col("b.norm").alias("norm_b"))
             .distinct()
             .where(_char3_jaccard("norm_a", "norm_b") >= F.lit(0.5)))
    clock("pairs_count", pairs.count)
    # stage 5: connected components (fresh pair plan, as canonicalize does)
    comp = clock("cc", lambda: connected_components(pairs, entities))
    clock("cc_count", comp.count)

    # control: SECOND banded run in the same session (warm catalyst)
    clock("banded_checkpoint_warm",
          lambda: materialize_once(_lsh_banded(entities)))

    print({k: v for k, v in t.items()})
    spark.stop()


if __name__ == "__main__":
    main()
