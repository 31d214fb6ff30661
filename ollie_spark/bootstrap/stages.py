"""The model-training pipeline as DataFrame stages (SURVEY.md §2.2).

Reference chain (core/scripts/*.sh; each stage a separate JVM over TSV
files — here one Spark lineage):

    seeds -> BuildPatterns (B4, mapInPandas)
          -> KeepCommonPatterns (B5, groupBy count)
          -> KeepDiversePatterns (B6, countDistinct rel)
          -> BuildTemplates histogram (B7, groupBy)
          -> generalize relations -> templates (B9)
          -> PassiveReflections (B13, 1->2 explode)
          -> CountsToConfidence (B14, max window)
          -> model(template, pattern, conf)

Scale notes: B4 is the only Python stage (per-seed path search inside
Arrow batches); everything after is shuffle-light hash aggregation on
the pattern string key — the reference's own trick of aggregating on
serialized strings before deserializing (BuildTemplates.scala:241-266)
is the natural Spark shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, StringType, StructField,
                               StructType)

from ..model.wordlists import SIMPLE_PREPOSITIONS

# B11: a (template, pattern) pair is kept when seen at least this
# often (BuildTemplates.scala:431-455)
MIN_TEMPLATE_COUNT = 1
# B12: a rel matcher widens to a category when at least MIN_OVERLAP of
# its >= MIN_LEMMAS lemmas fall in it (GeneralizeTemplate.scala:73-131)
MIN_OVERLAP = 0.75
MIN_LEMMAS = 10
SEED_SCHEMA = ("rel string, arg1 string, arg2 string, lemmas string, "
               "pickled string")

INDUCED_SCHEMA = StructType([
    StructField("rel", StringType()),
    StructField("arg1", StringType()),
    StructField("arg2", StringType()),
    StructField("lemmas", StringType()),
    StructField("pattern", StringType()),
    StructField("slots", ArrayType(StringType())),
])


def induce_patterns(seeds: DataFrame,
                    max_length: int | None = 4) -> DataFrame:
    """B4: one row per (seed, learned pattern)."""

    def run(batches):
        import pandas as pd
        from .induction import induce_from_seed

        for pdf in batches:
            rows = []
            for rel, a1, a2, lem, pickled in zip(
                    pdf["rel"], pdf["arg1"], pdf["arg2"], pdf["lemmas"],
                    pdf["pickled"]):
                try:
                    pats = induce_from_seed(rel, a1, a2,
                                            set(lem.split()), pickled,
                                            max_length)
                except Exception:  # noqa: BLE001 — error shielding (R27)
                    continue
                for p, slots in pats:
                    rows.append({"rel": rel, "arg1": a1, "arg2": a2,
                                 "lemmas": lem,
                                 "pattern": p.serialize(),
                                 "slots": list(slots)})
            yield pd.DataFrame(
                rows, columns=[f.name for f in INDUCED_SCHEMA.fields])

    return seeds.mapInPandas(run, schema=INDUCED_SCHEMA)


def keep_common_patterns(induced: DataFrame, min_count: int) -> DataFrame:
    """B5 (BuildPatterns.scala:301-333): patterns seen >= min times.
    The reference does two file passes to bound memory; a shuffle
    aggregate + broadcast semi-join is the distributed equivalent."""
    keep = (induced.groupBy("pattern").count()
            .where(F.col("count") >= min_count).select("pattern"))
    return induced.join(F.broadcast(keep), "pattern", "left_semi")


def keep_diverse_patterns(induced: DataFrame, min_rels: int) -> DataFrame:
    """B6 (BuildPatterns.scala:340-406): patterns observed with >=
    min distinct relations.  Use approx_count_distinct at web scale."""
    keep = (induced.groupBy("pattern")
            .agg(F.countDistinct("rel").alias("n_rels"))
            .where(F.col("n_rels") >= min_rels).select("pattern"))
    return induced.join(F.broadcast(keep), "pattern", "left_semi")


def template_histogram(induced: DataFrame) -> DataFrame:
    """B7 (BuildTemplates.scala:237-269): count (rel, pattern) pairs —
    aggregation happens on the serialized pattern string."""
    return induced.groupBy("rel", "pattern").count()


def generalize_relation_expr(rel_col):
    """B9 (BuildTemplates.scala:219-235): rewrite the relation string
    into a template — 'be' and a trailing simple preposition survive,
    content words collapse into one '{rel}'."""
    preps = F.array(*[F.lit(p) for p in sorted(SIMPLE_PREPOSITIONS)])
    words = F.split(rel_col, " ")
    n = F.size(words)

    def keep(w, i):
        is_last = i == n - 1
        return (F.when(w == "be", w)
                .when(w == "{prep}", w)
                .when(is_last & F.array_contains(preps, w), w)
                .otherwise(F.lit("{rel}")))

    mapped = F.zip_with(words,
                        F.sequence(F.lit(0), n - 1),
                        keep)
    # collapse consecutive {rel}
    collapsed = F.aggregate(
        mapped, F.array().cast("array<string>"),
        lambda acc, w: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == w) & (w == "{rel}"),
            acc).otherwise(F.concat(acc, F.array(w))))
    return F.array_join(collapsed, " ")


def generalize_prepositions(histogram: DataFrame) -> DataFrame:
    """B8 (BuildTemplates.scala:271-325): when the relation ends with a
    simple preposition and the pattern's *last* prep edge carries the
    same preposition, generalize both — the rel suffix becomes
    ``{prep}`` and the edge becomes a ``{prep:regex=prep_(.*)}``
    capture.  Implemented with a last-occurrence regex (lookahead keeps
    it the final prep edge)."""
    last_word = F.element_at(F.split(F.col("rel"), " "), -1)
    is_prep = last_word.isin(*sorted(SIMPLE_PREPOSITIONS))
    has_matching_last = F.expr(
        "pattern rlike concat('>prep_', element_at(split(rel, ' '), -1),"
        "'>(?=(?:(?!>prep_).)*$)')")
    new_rel = F.concat(
        F.expr("substring(rel, 1, length(rel) - length("
               "element_at(split(rel, ' '), -1)))"),
        F.lit("{prep}"))
    new_pattern = F.expr(
        "regexp_replace(pattern, concat('>prep_', "
        "element_at(split(rel, ' '), -1), '>(?=(?:(?!>prep_).)*$)'), "
        "'>{prep:regex=prep_(.*)}>')")
    gen = is_prep & has_matching_last
    # one select so both rewrites read the original columns
    return (histogram
            .select(F.when(gen, new_rel).otherwise(F.col("rel"))
                    .alias("rel"),
                    F.when(gen, new_pattern).otherwise(F.col("pattern"))
                    .alias("pattern"),
                    "count")
            .groupBy("rel", "pattern")
            .agg(F.sum("count").alias("count")))


def build_templates(histogram: DataFrame) -> DataFrame:
    """B9+B11: (template, pattern, count) with single-{rel} cleanup
    (BuildTemplates.scala:431-455)."""
    t = histogram.withColumn("template",
                             generalize_relation_expr(F.col("rel")))
    agg = (t.groupBy("template", "pattern")
           .agg(F.sum("count").alias("count"))
           .where(F.col("count") >= MIN_TEMPLATE_COUNT))
    # drop templates with more than one {rel}
    n_rel = F.size(F.split(F.col("template"), r"\{rel}")) - 1
    return agg.where(n_rel == 1)


def slot_semantics(induced: DataFrame, min_word_count: int = 5
                   ) -> DataFrame:
    """B10 (BuildTemplates.scala:367-390): slots gain a lemma-regex
    constraint built from the words observed in that slot >= min times.

    Word bags aggregate per (pattern, slot index); the rewrite itself is
    a native aggregate of regexp_replace steps — no Python."""
    with_slots = (induced
                  .select("pattern", F.posexplode("slots")
                          .alias("slot_idx", "word")))
    bags = (with_slots.groupBy("pattern", "slot_idx", "word").count()
            .where(F.col("count") >= min_word_count)
            .groupBy("pattern", "slot_idx")
            .agg(F.array_join(F.array_sort(F.collect_set("word")), "|")
                 .alias("slot_regex")))
    per_pattern = (bags.groupBy("pattern")
                   .agg(F.collect_list(F.struct("slot_idx", "slot_regex"))
                        .alias("constraints")))
    rewritten = F.aggregate(
        "constraints", F.col("pattern"),
        lambda acc, c: F.regexp_replace(
            acc,
            F.concat(F.lit(r"\{slot"), c.slot_idx.cast("string"),
                     F.lit(r":postag=([A-Z$]+)}")),
            F.concat(F.lit("{slot"), c.slot_idx.cast("string"),
                     F.lit(":postag=$1:regex="), c.slot_regex,
                     F.lit("}"))))
    rewrites = per_pattern.select(
        "pattern", rewritten.alias("constrained_pattern"))
    return (induced.join(F.broadcast(rewrites), "pattern", "left")
            .withColumn("pattern", F.coalesce("constrained_pattern",
                                              "pattern"))
            .drop("constrained_pattern"))


def load_categories(base_dir: str | None = None) -> dict:
    """Category word lists for B12 (person / location).  Loaded from
    the published Ollie resources when available (they are large
    learned word lists, not code); {} when absent."""
    import os
    from pathlib import Path
    base = Path(base_dir or os.environ.get(
        "OLLIE_CATEGORIES_DIR",
        "/root/reference/core/src/main/resources/edu/knowitall/"
        "openparse/categories"))
    out = {}
    if base.is_dir():
        for p in sorted(base.glob("*")):
            if p.is_file():
                out[p.stem] = sorted(
                    {w.strip() for w in p.read_text().splitlines()
                     if w.strip()})
    return out


def generalize_templates(model: DataFrame, categories: dict) -> DataFrame:
    """B12 (template/GeneralizeTemplate.scala:73-131): widen a rel
    matcher's lexical regex to a whole category when >= MIN_OVERLAP of
    its lemmas fall in that category (NN/NNS matchers with >=
    MIN_LEMMAS lemmas)."""
    if not categories:
        return model
    rel_regex = F.regexp_extract(
        "pattern", r"\{rel:postag=(NNS?):regex=([^}]*)\}", 2)
    lemmas = F.split(rel_regex, r"\|")
    out = model.withColumn("_lemmas", lemmas)
    expr = F.col("pattern")
    for name, words in categories.items():
        cat = F.array(*[F.lit(w) for w in words])
        overlap = (F.size(F.array_intersect(F.col("_lemmas"), cat))
                   / F.size("_lemmas"))
        widened = F.regexp_replace(
            "pattern", r"(\{rel:postag=NNS?:regex=)[^}]*(\})",
            "$1" + "|".join(words) + "$2")
        expr = F.when(
            (F.size("_lemmas") >= MIN_LEMMAS)
            & (overlap >= MIN_OVERLAP), widened).otherwise(expr)
    return out.withColumn("pattern", expr).drop("_lemmas")


def switch_args(pattern):
    """PassiveReflections.switchArgs (PassiveReflections.scala:55-67):
    swap the arg1 and arg2 *capture matchers wholesale* — the aliases
    AND their node constraints travel together, the dependency path is
    untouched."""
    from ..model.patterns import Pattern
    arg1 = next(m for m in pattern.node_matchers if m.alias == "arg1")
    arg2 = next(m for m in pattern.node_matchers if m.alias == "arg2")
    out = []
    for i, m in enumerate(pattern.matchers):
        if i % 2 == 0 and m.alias == "arg1":
            out.append(arg2)
        elif i % 2 == 0 and m.alias == "arg2":
            out.append(arg1)
        else:
            out.append(m)
    return Pattern(out)


def reflect_row(template: str, pattern_str: str):
    """One row's passive/active conversion, or None
    (PassiveReflections.scala:80-93): a pattern containing an ``nsubj``
    edge matcher whose template lacks the ``be `` prefix gains
    ('be '+template, switchArgs(pattern)); an ``nsubjpass`` pattern
    whose template has it gains (template[3:], switchArgs(pattern)).
    The branch order is the reference's if/else-if — a pattern with
    both labels takes the nsubj branch only."""
    from ..model.patterns import Pattern
    p = Pattern.deserialize(pattern_str)
    labels = {e.label for e in p.edge_matchers if e.label is not None}
    has_args = (any(m.alias == "arg1" for m in p.node_matchers)
                and any(m.alias == "arg2" for m in p.node_matchers))
    if not has_args:   # reference .get would crash; we skip the row
        return None
    if "nsubj" in labels:
        if not template.startswith("be "):
            return ("be " + template, switch_args(p).serialize())
    elif "nsubjpass" in labels:
        if template.startswith("be "):
            return (template[3:], switch_args(p).serialize())
    return None


def passive_reflections(templates: DataFrame) -> DataFrame:
    """B13 (template/PassiveReflections.scala:54-96): add active and
    passive conversions of patterns to a model — matcher-level: the
    arg1/arg2 capture matchers swap positions (constraints included,
    dependency path untouched) and the template gains/loses its ``be ``
    prefix, gated on an nsubj / nsubjpass edge matcher anywhere in the
    pattern.  (The shipped openparse.model was built WITHOUT this
    optional tool — it contains no active/passive template twins — so
    fidelity is pinned by matcher-algebra goldens, not the model
    file.)"""
    def run(batches):
        import pandas as pd
        for pdf in batches:
            out = {"template": [], "pattern": [], "count": []}
            for t, p, c in zip(pdf["template"], pdf["pattern"],
                               pdf["count"]):
                r = reflect_row(t, p)
                if r is not None:
                    out["template"].append(r[0])
                    out["pattern"].append(r[1])
                    out["count"].append(c)
            yield pd.DataFrame(out, columns=["template", "pattern",
                                             "count"])

    reflected = templates.select("template", "pattern", "count") \
        .mapInPandas(run, schema="template string, pattern string, "
                                 "count long")
    return templates.unionByName(reflected).groupBy(
        "template", "pattern").agg(F.max("count").alias("count"))


def counts_to_confidence(templates: DataFrame) -> DataFrame:
    """B14 (template/CountsToConfidence.scala:31-55):
    conf = count / max(count)."""
    mx = templates.agg(F.max("count").alias("mx"))
    return (templates.crossJoin(F.broadcast(mx))
            .select("template", "pattern",
                    (F.col("count") / F.col("mx")).alias("conf")))


def train_model(seeds: DataFrame, max_length: int | None = 4,
                min_common: int = 1, min_diverse: int = 1,
                with_reflections: bool = False,
                slot_min_count: int | None = None) -> DataFrame:
    """The full chain: seeds -> model(template, pattern, conf)."""
    induced = induce_patterns(seeds, max_length)
    common = keep_common_patterns(induced, min_common)
    diverse = keep_diverse_patterns(common, min_diverse)
    if slot_min_count is not None:
        diverse = slot_semantics(diverse, slot_min_count)
    hist = generalize_prepositions(template_histogram(diverse))
    templates = build_templates(hist)
    if with_reflections:
        templates = passive_reflections(templates)
    return counts_to_confidence(templates)


def model_rows_to_extractors(rows):
    """Materialized model rows -> runtime extractors."""
    from ..extract.build import Extractor, Template
    from ..model.patterns import Pattern
    return [Extractor(Pattern.deserialize(r["pattern"]), float(r["conf"]),
                      template=Template.deserialize(r["template"]))
            for r in rows]
