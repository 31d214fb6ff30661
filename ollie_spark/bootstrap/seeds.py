"""Seed-selection stages B1-B3 as DataFrame ops
(openparse/bootstrap/FindTargetArguments.scala,
FindTargetExtractions.scala, FilterTargetExtractions.scala).

All three are hash aggregations + (broadcast) semi-joins — the
reference's in-memory HashMaps become shuffle aggregates that spill for
free at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ARG_BLACKLIST = ("inc", "ltd", "page", "vehicle", "turn", "site", "photo",
                 "image", "gallery")
PROPER_POSTAGS = ("DT", "IN", "NNP", "NNPS")
NEGATION_LEMMAS = ("not", "no", "n't", "never")
LEMMA_BLACKLIST_SEEDS = ("the", "that", "of")


def _proper(postags_col):
    """FindCommon.proper: all postags in {DT,IN,NNP,NNPS} and at least
    one NNP/NNPS."""
    tags = F.split(postags_col, r"\s+")
    allowed = F.array(*[F.lit(t) for t in PROPER_POSTAGS])
    return (
        (F.size(F.array_except(tags, allowed)) == 0)
        & (F.array_contains(tags, "NNP") | F.array_contains(tags, "NNPS")))


def _clean_lemma(postags_col, lemmas_col):
    """FindCommon.cleanArg: drop tokens tagged DT, keep lemmas."""
    zipped = F.arrays_zip(F.split(postags_col, r"\s+").alias("pos"),
                          F.split(lemmas_col, r"\s+").alias("lem"))
    kept = F.filter(zipped, lambda x: x.pos != "DT")
    return F.array_join(F.transform(kept, lambda x: x.lem), " ")


def find_target_arguments(args_df: DataFrame,
                          lower_bound: int) -> DataFrame:
    """B1 (FindTargetArguments.scala:37-76).

    args_df(string, lemma, postag, count) -> (arg_lemma, total) for
    frequent proper arguments."""
    clean = _clean_lemma(F.col("postag"), F.col("lemma"))
    valid = ((F.length(clean) > 2) & (F.length(clean) < 64)
             & ~clean.isin(*ARG_BLACKLIST)
             & ~F.col("string").contains("_"))
    return (args_df
            .where(_proper(F.col("postag")) & valid)
            .groupBy(clean.alias("arg_lemma"))
            .agg(F.sum("count").alias("total"))
            .where(F.col("total") > lower_bound))


def find_target_extractions(extractions: DataFrame,
                            frequent_args: DataFrame) -> DataFrame:
    """B2 (FindTargetExtractions.scala:66-132).

    extractions(rel_lemma, arg1_lemma, arg2_lemma, arg1_postag,
    rel_postag, arg2_postag, all_lemmas, count) filtered to seeds:
    short relation, proper argument, distinct args, both args frequent,
    not negated; replicated ``count`` times (explode)."""
    e = extractions.where(
        (F.length("rel_lemma") < 64)
        & (_proper(F.col("arg1_postag")) | _proper(F.col("arg2_postag")))
        & (F.col("arg1_lemma") != F.col("arg2_lemma"))
        & ~F.arrays_overlap(
            F.split(F.col("rel_lemma"), " "),
            F.array(*[F.lit(x) for x in NEGATION_LEMMAS])))
    fa = F.broadcast(frequent_args.select(
        F.col("arg_lemma")))
    e = (e.join(fa.withColumnRenamed("arg_lemma", "arg1_lemma"),
                "arg1_lemma", "left_semi")
         .join(fa.withColumnRenamed("arg_lemma", "arg2_lemma"),
               "arg2_lemma", "left_semi"))
    bl = F.array(*[F.lit(x) for x in LEMMA_BLACKLIST_SEEDS])
    lemmas = F.array_join(
        F.array_except(F.split(F.col("all_lemmas"), " "), bl), " ")
    return (e.withColumn("lemmas", lemmas)
            .withColumn("_i", F.explode(F.sequence(
                F.lit(1), F.greatest(F.col("count"), F.lit(1)))))
            .select("rel_lemma", "arg1_lemma", "arg2_lemma", "lemmas"))


def filter_target_extractions(seeds: DataFrame,
                              min_relation_seeds: int = 15) -> DataFrame:
    """B3 (FilterTargetExtractions.scala:12-58): keep seeds occurring
    more than once whose relation has > min seeds and whose relation
    shares a lemma with the lemma set."""
    s = seeds.where(F.arrays_overlap(
        F.split("rel_lemma", " "), F.split("lemmas", " ")))
    seed_counts = (s.groupBy("rel_lemma", "arg1_lemma", "arg2_lemma",
                             "lemmas")
                   .agg(F.count("*").alias("n")))
    rel_counts = (s.groupBy("rel_lemma")
                  .agg(F.count("*").alias("rel_n"))
                  .where(F.col("rel_n") > min_relation_seeds)
                  .select("rel_lemma"))
    return (seed_counts.where(F.col("n") > 1)
            .join(F.broadcast(rel_counts), "rel_lemma", "left_semi")
            .select("rel_lemma", "arg1_lemma", "arg2_lemma", "lemmas"))
