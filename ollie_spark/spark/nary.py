"""N-ary extraction rollup (R23, ollie/NaryExtraction.scala:102-137).

Binary extractions from the same sentence whose relation ends in a
simple preposition are split into (rel_base, preposition, arg2) and
grouped on (doc_id, span_idx, arg1_text, rel_base); groups with >= 2
members become one n-ary extraction with ordered prep-suffixes.

Pure DataFrame: one shuffle on the group key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..model.wordlists import SIMPLE_PREPOSITIONS

# longest first; ties by text, so the pattern (and every plan that
# embeds it) is the same in every process whatever its hash seed
_PREP_ALT = "|".join(sorted(SIMPLE_PREPOSITIONS, key=lambda p: (-len(p), p)))
_TRAIL_RE = f"^(.*) ({_PREP_ALT})$"


def nary_extractions(mentions: DataFrame) -> DataFrame:
    """-> (doc_id, span_idx, arg1_text, rel_base, suffixes, n)
    where suffixes = array<struct<prep, arg2, conf>> ordered by arg2
    span start."""
    split = (mentions
             .withColumn("rel_base",
                         F.regexp_extract("rel_text", _TRAIL_RE, 1))
             .withColumn("prep",
                         F.regexp_extract("rel_text", _TRAIL_RE, 2))
             .where(F.col("prep") != ""))
    return (split.groupBy("doc_id", "span_idx", "arg1_text", "rel_base")
            .agg(F.array_sort(F.collect_list(F.struct(
                F.col("arg2_span.start").alias("_ord"),
                F.col("prep"), F.col("arg2_text").alias("arg2"),
                F.col("conf")))).alias("_sfx"),
                F.count("*").alias("n"))
            .where(F.col("n") >= 2)
            .select("doc_id", "span_idx", "arg1_text", "rel_base",
                    F.transform("_sfx", lambda s: F.struct(
                        s.prep.alias("prep"), s.arg2.alias("arg2"),
                        s.conf.alias("conf"))).alias("suffixes"),
                    "n"))
