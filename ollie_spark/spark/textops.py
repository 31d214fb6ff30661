"""Training-data text operators over document tables.

Library surface for the large-scale pipeline operators the driver
grades as first-class (dedup, similarity, text analysis): each function
is a pure DataFrame transform over a table with a ``text`` column.
``__spark_entry__`` wraps these for the DuckDB oracle checks; the same
functions compose into production pipelines.

Scale shapes:
- minhash/fingerprint/simhash are map-only expressions (no explode);
- the dedup joins key on band buckets / blocking keys, never all-pairs;
- everything stays in whole-stage codegen (md5/split/transform).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ollie_spark.spark.materialize import cap_blocks, materialize_once

MINHASH_SEEDS = (17, 29, 43, 71)
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def _stopword_filter(w):
    # module-level so the lambda isn't re-created per call site (and
    # the HOF arity stays explicitly one — see the lambda pitfalls in
    # CLAUDE.md)
    return w.isin(*STOPWORDS)

# a single LSH band bucket larger than this is a degenerate key (empty
# / boilerplate docs sharing a minhash band); its self-join would be
# O(bucket^2).  Measured bucket maxima on the test corpora are <= 13
# (sf0.1), so the default never fires below web scale, where it caps
# the blow-up.  Dropped buckets are counted in minhash_band_pairs'
# ``metrics_out["dropped_bands"]`` — never silent.
DEFAULT_MAX_BAND_BUCKET = 256

# same discipline for the Jaccard (block, token-count) blocks: token
# counts concentrate hard in real corpora (10^8 same-lang docs with
# tc~500 at web scale would otherwise self-join O(block^2) inside ONE
# block).  Measured block maxima on the test corpora are <= 48 (sf0.1),
# so the default never fires below web scale.  Dropped blocks are
# counted in ngram_jaccard_pairs' ``metrics_out["dropped_blocks"]``.
DEFAULT_MAX_JACCARD_BLOCK = 256


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Parallelism floor for tiny or unsplittable inputs (guide §2.5's
    input-skew case: one file with one parquet row group plans as ONE
    scan task, so every per-row expression downstream — md5 minhash,
    simhash folds, tokenization, pair cosines after a broadcast join —
    runs single-threaded no matter how many cores the session has).

    If the frame's planned partition count is below
    ``defaultParallelism``, round-robin repartition to it; otherwise
    return the frame untouched — so at real scale, where scans carry
    at least cores-many splits, this adds NO exchange (the guide's
    warning about blanket "repartition for parallelism" is exactly why
    the gate exists).  The partition probe forces physical planning
    but launches no job."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def word_shingles(text_col, n: int = 3) -> Column:
    """Array of n-word shingles.

    The word array is LET-BOUND via a single-element array transform so
    the per-position lambda references it as a lambda variable (cheap)
    instead of embedding the ``split`` subtree — an embedded subtree is
    re-evaluated per sequence element, which made shingling O(len^2)
    in document length (measured 4x wall per doubling at 1-4 KB docs;
    a silent scale-killer for the minhash/fingerprint ops on real
    web-scale documents)."""
    def shingles(ws):
        return F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(ws) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(ws, i + 1, n)))

    # NULL text -> NULL shingles: a DELIBERATE change from the legacy
    # pre-let-binding form (which emitted a phantom [''] shingle for
    # NULL text via concat_ws' null-skipping), aligned with the DuckDB
    # oracles' NULL propagation and pinned by
    # test_minhash_sig_fold_matches_legacy_per_seed_form
    return F.when(
        text_col.isNotNull(),
        F.element_at(
            F.transform(F.array(F.split(text_col, " ")), shingles), 1))


def minhash_sig(text_col) -> Column:
    """``array<string>`` of per-seed md5-minhashes in ONE aggregate
    pass over the shingle array (the linking minhash-fold discipline,
    linking.py:minhash_signature): the accumulator holds the running
    per-seed lexicographic minima, each word 3-gram shingle
    contributes its len(MINHASH_SEEDS) seeded digests via
    zip_with/least.  Identical values to the per-seed
    ``array_min(transform(...))`` form it replaced, but the shingle
    array — the expensive part — is walked once instead of once per
    seed.  The init sentinel 'g' sorts above every hex digest,
    and the shingle array is never empty (split of '' yields [''])."""
    sh = word_shingles(text_col, 3)
    init = F.array(*[F.lit("g") for _ in MINHASH_SEEDS])
    return F.aggregate(
        sh, init,
        lambda acc, s: F.zip_with(
            acc,
            F.array(*[F.md5(F.concat(s, F.lit(f"#{seed}")))
                      for seed in MINHASH_SEEDS]),
            lambda a, h: F.least(a, h)))


def _minhash_banded(docs: DataFrame) -> DataFrame:
    # signature lands in its own projection and the band keys reference
    # it as a column, then ONE explode emits both bands — the former
    # two-select union evaluated the whole signature pipeline once per
    # band (and the retired per-seed column helper once per seed: 8
    # walks of the
    # shingle array per doc where one suffices).  (r7 measured a
    # spread_small_scan floor here as NEUTRAL — the residual cost is
    # per-process plan analysis, not map work — so the input is left
    # untouched rather than adding an exchange for nothing.)
    d = docs.select("doc_id", minhash_sig(F.col("text")).alias("_sig"))
    return d.select(
        "doc_id",
        F.explode(F.array(
            F.concat_ws("|", F.element_at("_sig", 1),
                        F.element_at("_sig", 2)),
            F.concat_ws("|", F.element_at("_sig", 3),
                        F.element_at("_sig", 4)))).alias("band_key"))


def minhash_band_pairs(docs: DataFrame,
                       max_bucket: int = DEFAULT_MAX_BAND_BUCKET,
                       metrics_out: dict | None = None) -> DataFrame:
    """MinHash+LSH near-duplicate document pairs: 4 hashes, 2 bands of
    2; pairs sharing a band bucket (a < b).

    Buckets larger than ``max_bucket`` are dropped before the self-join
    (:func:`~ollie_spark.spark.materialize.cap_blocks`, shared with
    linking.lsh_candidate_pairs): one degenerate band key over millions
    of boilerplate docs must not emit O(n^2) pairs.  Pass
    ``metrics_out`` (a dict) to receive ``dropped_bands``, counted off
    the same materialized band frame the join reads, so pairs + metric
    cost ONE signature computation."""
    # materialized ONCE before self-joining: aliasing the lazy plan as
    # both sides makes Spark compute the minhash signature pipeline
    # (and re-scan the source) independently per side — at web scale
    # the signature map dominates the dedup stage, so that doubles it
    banded, dropped = cap_blocks(_minhash_banded(docs), ["band_key"],
                                 max_bucket)
    if metrics_out is not None:
        metrics_out["dropped_bands"] = dropped
    a, b = banded.alias("a"), banded.alias("b")
    return (a.join(b, "band_key")
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())


def simhash16(text_col) -> Column:
    """16-bit SimHash string from md5-nibble sign bits over distinct
    words.

    ONE aggregate pass accumulates all 16 bit counters (the linking
    minhash fold discipline, ``linking.minhash_signature``): words are
    md5-hashed once in a ``transform`` pre-pass, the per-bit +/-1 sums
    accumulate in a 16-slot array, and the ``finish`` lambda folds the
    counters to the bit string — so the accumulator is referenced, not
    recomputed, per bit.  Identical bit values to the former 16-pass
    form (one ``F.aggregate`` per bit, md5 recomputed per word per
    bit), with ~16x less per-row work and a far smaller codegen tree.
    """
    high = ("8", "9", "a", "b", "c", "d", "e", "f")
    hashes = F.transform(F.array_distinct(F.split(text_col, " ")),
                         lambda w: F.md5(w))
    zeros = F.array(*[F.lit(0) for _ in range(16)])
    folded = F.aggregate(
        hashes, zeros,
        lambda acc, h: F.array(*[
            acc[i] + F.when(F.substring(h, i + 1, 1).isin(*high),
                            F.lit(1)).otherwise(F.lit(-1))
            for i in range(16)]),
        lambda acc: F.concat(*[
            F.when(acc[i] >= 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(16)]))
    # NULL text: the legacy per-bit form scored every bit
    # when(NULL >= 0) -> '0'; the fold propagates NULL — coalesce to
    # the same all-zeros string so the semantics are unchanged
    return F.coalesce(folded, F.lit("0" * 16))


def token_jaccard(toks_a, toks_b) -> Column:
    return (F.size(F.array_intersect(toks_a, toks_b)).cast("double")
            / F.size(F.array_union(toks_a, toks_b)))


def _jaccard_blocked(docs: DataFrame, block_cols, tc_bucket):
    """(base, block_key_cols) for the Jaccard block join: base carries
    doc_id, block columns, distinct-token array, token count, and —
    in bucketed mode — the anchor bucket ``_bkt``."""
    # (r7: a spread_small_scan floor here measured neutral — left
    # untouched, see _minhash_banded)
    base = docs.select(
        "doc_id", *block_cols,
        F.array_distinct(F.split(F.col("text"), " ")).alias("toks"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("tc"))
    if tc_bucket is None:
        return base, list(block_cols) + ["tc"]
    base = base.withColumn("_bkt", F.floor(F.col("tc") / tc_bucket))
    return base, list(block_cols) + ["_bkt"]


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.8,
                        block_cols=("lang",),
                        tc_bucket: int | None = None,
                        max_block: int = DEFAULT_MAX_JACCARD_BLOCK,
                        metrics_out: dict | None = None) -> DataFrame:
    """Word-set Jaccard pairs within (block, token-count) blocks.

    ``tc_bucket=None`` (default, oracle-pinned) blocks on the EXACT
    token count — cheap but misses near-dups whose counts differ (e.g.
    a repeated word).  ``tc_bucket=w`` blocks on ``floor(tc / w)`` and
    probes each doc's neighbor buckets (b-1, b, b+1), recovering pairs
    within ~2w token-count drift at 3x candidate cost; Jaccard is
    verified exactly either way, so the knob trades cost for recall,
    never precision.

    Blocks larger than ``max_block`` are dropped before the self-join
    (:func:`~ollie_spark.spark.materialize.cap_blocks`, as in
    minhash_band_pairs): one degenerate (lang, token-count) key over
    millions of boilerplate docs must not emit O(block^2) pairs.  A dropped block's docs are excluded from both join sides
    (in bucketed mode they neither anchor nor probe), so candidates
    stay <= 3 * max_block per surviving probe row.  Pass
    ``metrics_out`` to receive ``dropped_blocks`` counted off the same
    materialized blocked frame the join reads (one tokenization serves
    pairs + metric)."""
    base, key_cols = _jaccard_blocked(docs, block_cols, tc_bucket)
    base, dropped = cap_blocks(base, key_cols, max_block)
    if metrics_out is not None:
        metrics_out["dropped_blocks"] = dropped
    if tc_bucket is None:
        a, b = base.alias("a"), base.alias("b")
        cond = (F.col("a.tc") == F.col("b.tc")) \
            & (F.col("a.doc_id") < F.col("b.doc_id"))
    else:
        # probe from the _bkt column the (checkpointed) base already
        # carries — one bucket definition, no duplicate floor() trees
        bucket = F.col("_bkt")
        probe = base.withColumn(
            "_pbkt", F.explode(F.array(bucket - 1, bucket, bucket + 1)))
        a, b = probe.alias("a"), base.alias("b")
        cond = (F.col("a._pbkt") == F.col("b._bkt")) \
            & (F.col("a.doc_id") < F.col("b.doc_id"))
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    jac = token_jaccard(F.col("a.toks"), F.col("b.toks"))
    out = (a.join(b, cond)
           .where(jac >= threshold)
           .select(F.col("a.doc_id").alias("doc_a"),
                   F.col("b.doc_id").alias("doc_b"),
                   F.round(jac, 4).alias("jaccard")))
    return out.distinct() if tc_bucket is not None else out


def text_quality(docs: DataFrame) -> DataFrame:
    """Token stats + stopword ratio + quality bucket (language-ID
    heuristic features).

    Two-step projection (the ``with_lang_id`` score-once shape): the
    token count and stopword count land as aliased columns and every
    derived expression references them as column refs — inlining them
    into one projection re-evaluates split(text) ~7x per row (Catalyst
    inlines each referenced subexpression into each use site)."""
    words = F.split(F.col("text"), " ")
    scored = docs.select(
        "doc_id", "lang", "text",
        F.size(words).cast("long").alias("_nt"),
        F.size(F.filter(words, _stopword_filter))
        .cast("double").alias("_stop"))
    nt, stop = F.col("_nt"), F.col("_stop")
    # bucket from the RAW ratio (matching the oracle's CASE on the
    # unrounded value); only the emitted column is rounded — a doc with
    # raw ratio in (0.05, 0.05005) must bucket 'high', not 'medium'
    stop_ratio = stop / nt
    avg_len = F.round(
        (F.length("text") - nt + 1).cast("double") / nt, 4)
    return scored.select(
        "doc_id", "lang",
        nt.alias("n_tokens"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        avg_len.alias("avg_word_len"),
        F.when(stop_ratio > 0.05, F.lit("high"))
        .when(nt >= 40, F.lit("medium"))
        .otherwise(F.lit("low")).alias("quality"))


# ------------------------------------------------------- language ID
#
# Marker-word language identification: per-language counts of
# high-frequency function words (the classic n-gram/profile heuristic
# reduced to unigram markers so the identical rule is expressible in
# any SQL engine — the DuckDB oracle mirrors it term for term).  The
# lexicons are public high-frequency function words; zh scores by CJK
# codepoint count.  Deterministic earliest-argmax tie-break; "und"
# (undetermined) when no marker fires.  At 100 TB this is a pure map —
# whole-stage codegen, no shuffle, no UDF.
LANG_MARKERS = (
    ("en", ("the", "and", "of", "is", "in", "to", "that", "with")),
    ("de", ("der", "die", "das", "und", "ist", "nicht", "ein", "mit")),
    ("fr", ("le", "la", "les", "et", "est", "une", "dans", "pour")),
    ("es", ("el", "los", "las", "es", "una", "por", "con", "como")),
)
CJK_RANGE = "一-鿿"


def _marker_count_factory(markers):
    # closure factory: binds THIS language's marker tuple (see the
    # higher-order-function lambda pitfall in CLAUDE.md)
    return lambda w: w.isin(*markers)


def lang_scores(text_col):
    """[(lang, score Column), ...] in deterministic priority order."""
    words = F.split(F.lower(text_col), " ")
    scores = [
        (lang,
         F.size(F.filter(words, _marker_count_factory(markers)))
         .cast("long"))
        for lang, markers in LANG_MARKERS]
    scores.append(
        ("zh", F.length(
            # run-consuming + (not a bare char class): an unquantified
            # single-char class costs one Java-regex match attempt +
            # replacement PER CHARACTER of every document (the
            # normalize_entity 10x lesson, linking.py); deleting runs
            # is value-identical
            F.regexp_replace(text_col, f"[^{CJK_RANGE}]+", ""))
         .cast("long")))
    return scores


def _argmax_chain(scores) -> Column:
    # when-chain built back to front so evaluation order matches the
    # priority order: first language whose score is >= every later
    # score and > 0 wins (deterministic earliest-argmax), else 'und'
    expr = F.lit("und")
    for i in range(len(scores) - 1, -1, -1):
        lang, s = scores[i]
        cond = s > 0
        for _, s2 in scores[i + 1:]:
            cond = cond & (s >= s2)
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def lang_id(text_col) -> Column:
    """Predicted language code ('und' when no marker fires) as a single
    Column — the same deterministic earliest-argmax CASE the SQL oracle
    expresses.

    NOTE: as one projection Catalyst inlines every score into every
    CASE branch (each ``split(lower(text))`` recomputed ~20x); for
    table-scale scoring use :func:`with_lang_id`, whose two-step
    projection computes each score once (CollapseProject keeps
    multi-referenced non-cheap aliases materialized)."""
    return _argmax_chain(lang_scores(text_col))


def with_lang_id(df: DataFrame) -> DataFrame:
    """``df`` + ``pred_lang``, the language predicted from ``text``, in
    the score-once shape.

    Scores land in an intermediate projection and the argmax CASE
    references them as columns, so the physical plan evaluates each
    language's marker count exactly once per row (verified: 4 lambda
    evaluations per row vs ~20 for the inlined single-column form) —
    the difference between one and five text tokenizations per
    document at 100 TB."""
    scores = lang_scores(F.col("text"))
    tmp = [f"_langscore_{lang}" for lang, _ in scores]
    scored = df.select("*", *[s.alias(t)
                              for (_, s), t in zip(scores, tmp)])
    chain = _argmax_chain([(lang, F.col(t))
                           for (lang, _), t in zip(scores, tmp)])
    return scored.select(*df.columns, chain.alias("pred_lang"))


def lang_id_oracle_sql(text_expr: str = "text") -> str:
    """The identical rule as portable SQL (DuckDB) — kept next to the
    Spark expression so the two cannot drift."""
    counts = []
    for lang, markers in LANG_MARKERS:
        inlist = ", ".join(f"'{m}'" for m in markers)
        counts.append(
            (lang,
             f"len(list_filter(string_split(lower({text_expr}), ' '), "
             f"w -> w IN ({inlist})))"))
    counts.append(
        ("zh",
         f"length(regexp_replace({text_expr}, '[^{CJK_RANGE}]+', '', 'g'))"))
    cases = []
    for i, (lang, s) in enumerate(counts):
        conds = [f"{s} > 0"] + [f"{s} >= {s2}" for _, s2 in counts[i + 1:]]
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + " ".join(cases) + " ELSE 'und' END"


def token_counts_from_words(words) -> tuple:
    """(whitespace tokens, BPE-ish subword estimate) columns from an
    ALREADY-PROJECTED word-array column.  Callers should let-bind the
    split into its own projection and pass the column ref — the two
    counts each embed their own copy of an inline ``split`` subtree,
    and codegen subexpression elimination does NOT fire across the
    aggregate HOF, so the split runs twice per row (measured 2-3x wall
    on the q16 shape; the two-step projection is the with_lang_id
    CollapseProject discipline, CLAUDE.md)."""
    sub = F.aggregate(
        words, F.lit(0).cast("long"),
        lambda acc, w: acc + F.floor((F.length(w) + 3) / 4).cast("long"))
    return F.size(words).cast("long").alias("ws_tokens"), \
        sub.alias("subword_tokens")


def doc_fingerprint(text_col) -> Column:
    """Rolling-hash-style document fingerprint: min md5 of word
    5-grams."""
    grams = word_shingles(text_col, 5)
    return F.array_min(F.transform(grams, lambda g: F.md5(g)))


def dot(a, b) -> Column:
    """Dot product: one flat double aggregate over zip_with."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def l2norm(a) -> Column:
    """sqrt(sum of squares) — precompute this PER ROW before any
    pairwise join: inside a cosine evaluated per candidate pair, each
    row's norm is recomputed once per partner (k array walks for k
    candidates where one suffices; guide §1.2 step 1 — don't compute
    things you throw away).  The pair generators store it next to the
    cell column and divide by the product of the stored norms."""
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine(a, b) -> Column:
    """Cosine similarity: three flat double aggregates.

    Deliberately NOT folded into one struct-accumulator pass: a
    measured same-session A/B (2,000 vectors, warm codegen) read the
    struct fold ~25% SLOWER — per-element struct allocation costs more
    than the two extra flat walks, unlike the string/array folds
    (minhash_sig, simhash16) where re-walking was the expensive part.

    For pairwise joins prefer ``dot``/``l2norm`` with the norms
    precomputed per row (bit-identical values: the same three
    aggregates, with the two sqrt factors evaluated once per row
    instead of once per pair)."""
    return dot(a, b) / (l2norm(a) * l2norm(b))


def sign_cell(vec_col, bits: int) -> Column:
    """IVF-style coarse cell: sign bits of the leading dimensions.

    ``bits`` is required: a fixed default makes within-cell joins
    quadratic as the corpus grows — callers pass an explicit pin
    (oracle-reproducible demos) or size it with ``auto_cell_bits``."""
    return F.concat(*[
        F.when(F.element_at(vec_col, i + 1) >= 0, F.lit("1"))
        .otherwise(F.lit("0")) for i in range(bits)])


# target rows per ANN cell when sizing the cell count from the corpus:
# 2^bits cells over n vectors -> ~n / 2^bits rows per cell, so the
# within-cell join is O(n * target) instead of O(n^2 / 2^bits_fixed).
ANN_TARGET_CELL_ROWS = 1024


def auto_cell_bits(n_rows: int, dim: int | None = None,
                   target_cell_rows: int = ANN_TARGET_CELL_ROWS) -> int:
    """Cell-count exponent scaled to corpus size: enough sign bits that
    the expected cell holds ~``target_cell_rows`` vectors (>= 4 bits;
    never more bits than the vector has dimensions).

    A *fixed* bit count makes the within-cell join O(n^2 / 2^bits) —
    still quadratic; sizing bits ~ log2(n) - log2(target) keeps pair
    counts ~linear in n as the corpus grows."""
    bits = max(4, math.ceil(math.log2(max(n_rows, 1)
                                      / target_cell_rows)))
    if dim is not None:
        bits = min(bits, dim)
    return bits


def probe_cells(vec_col, bits: int) -> Column:
    """Multi-probe cell set: the vector's own cell plus every
    Hamming-distance-1 flip (``bits + 1`` probes).  Sign-bit cells cut
    recall exactly when a near-duplicate straddles a hyperplane — the
    flipped probes recover those pairs at a bounded (bits+1)x candidate
    cost, the standard multi-probe LSH trade."""
    base = [F.when(F.element_at(vec_col, i + 1) >= 0, F.lit("1"))
            .otherwise(F.lit("0")) for i in range(bits)]
    flipped = [F.when(F.element_at(vec_col, i + 1) >= 0, F.lit("0"))
               .otherwise(F.lit("1")) for i in range(bits)]
    cells = [F.concat(*base)]
    for j in range(bits):
        cells.append(F.concat(*[flipped[i] if i == j else base[i]
                                for i in range(bits)]))
    return F.array(*cells)


def embedding_neardup_pairs(vecs: DataFrame, threshold: float = 0.62,
                            bits: int | None = None,
                            multi_probe: bool = True) -> DataFrame:
    """Embedding-cosine near-duplicate pairs over (``vec_id``, ``emb``)
    rows, sign-cell blocked.

    The library scale path: ``bits`` defaults to ``auto_cell_bits`` of
    the corpus size (one count job), so cell population — and with it
    the within-cell join cost — stays ~constant as the corpus grows.
    ``multi_probe`` joins each vector's Hamming-1 probe set against
    base cells so hyperplane-straddling near-dups aren't lost to the
    finer cells.  (q21's oracle wrapper pins bits=4, single-probe.)"""
    # parallelism floor (r7): the within-cell pair cosines run in the
    # join stage that scans this frame — a single-row-group source
    # would put every pair on one task
    vecs = spread_small_scan(vecs)
    if bits is None:
        # checkpoint FIRST, then probe: the corpus-size count and the
        # max-dim probe fold into ONE agg job over the materialized
        # partitions, so the source parquet is scanned exactly once per
        # call (the pre-r5 shape ran count + max-dim against the raw
        # source and then re-scanned it to materialize the cell frame).
        # The _cell column then derives LAZILY from this checkpoint —
        # a per-row sign projection is cheaper to recompute per join
        # side than a second full copy of the embedding corpus is to
        # store.
        vecs = materialize_once(vecs)
        probe = vecs.agg(
            F.count("*").alias("n"),
            F.max(F.size("emb")).alias("d")).first()
        # max over the corpus: null-safe (agg skips null vectors) and
        # deterministic, unlike first() on an unordered frame
        dim = int(probe["d"]) if probe["d"] is not None else 4
        bits = auto_cell_bits(probe["n"], dim=dim)
        base = (vecs.withColumn("_cell", sign_cell(F.col("emb"), bits))
                .withColumn("_nrm", l2norm(F.col("emb"))))
    else:
        # explicit bits: one materialization of the cell frame — the
        # probe side derives from the same frame, so without this the
        # source is scanned (and cells computed) per side (the
        # q12/q14/linking band-frame discipline).  The row's L2 norm
        # is stored alongside the cell (r7): the former per-pair
        # cosine recomputed both norms once per candidate partner.
        base = materialize_once(
            vecs.withColumn("_cell", sign_cell(F.col("emb"), bits))
            .withColumn("_nrm", l2norm(F.col("emb"))))
    if multi_probe:
        probed = base.withColumn(
            "_probe", F.explode(probe_cells(F.col("emb"), bits)))
        a = probed.alias("a")
        b = base.alias("b")
        joined = a.join(b, F.col("a._probe") == F.col("b._cell"))
    else:
        a, b = base.alias("a"), base.alias("b")
        joined = a.join(b, F.col("a._cell") == F.col("b._cell"))
    # bit-identical to round(cosine(a,b), 4): the same dot aggregate
    # divided by the product of the same sqrt-of-sum-of-squares values
    # — but the norms come from the per-row _nrm column instead of
    # being re-aggregated per candidate pair
    cos = F.round(dot(F.col("a.emb"), F.col("b.emb"))
                  / (F.col("a._nrm") * F.col("b._nrm")), 4)
    return (joined
            .where(F.col("a.vec_id") < F.col("b.vec_id"))
            .where(cos >= threshold)
            .select(F.col("a.vec_id").alias("vec_a"),
                    F.col("b.vec_id").alias("vec_b"),
                    cos.alias("cosine"))
            .distinct())


# --- training-data curation: deterministic sampling / pruning / stats ---

# per-stratum sample rates for the stratified-sample demo query (q24);
# thresholds are hex-string prefixes of md5 so BOTH engines (Spark and
# the DuckDB oracle) compare identically — on fixed-width lowercase
# hex, lexicographic order IS numeric order, so `md5 < '4000…'` keeps
# exactly a 0x4000/0x10000 = 25% slice, reproducibly, with no RNG
STRATIFIED_RATES = {"en": 0.25, "de": 0.5, "fr": 0.5}
STRATIFIED_DEFAULT_RATE = 0.75
_HEX_W = 4  # compare on 4 hex chars: rate granularity 1/65536


def rate_to_hex_threshold(rate: float) -> str:
    """0.25 -> '4000': the md5-prefix cutoff that keeps ~rate of keys.

    rate >= 1.0 returns 'g' (r7, advisor item): the former clamp to
    'ffff' made the strict ``h < thr`` comparison silently drop keys
    hashing exactly to 'ffff' (~1/65536 of rows) instead of keeping
    everything; 'g' sorts above every lowercase-hex prefix in BOTH
    engines, so the predicate is uniformly true."""
    if rate >= 1.0:
        return "g"
    return format(min(int(rate * (16 ** _HEX_W)), 16 ** _HEX_W - 1),
                  f"0{_HEX_W}x")


def stratified_hash_sample(df: DataFrame,
                           rates: dict | None = None,
                           default_rate: float = STRATIFIED_DEFAULT_RATE
                           ) -> DataFrame:
    """Deterministic per-stratum downsampling for training-data
    curation: keep a row iff the md5 of its ``doc_id`` falls under the
    hex threshold of its ``lang`` stratum.

    Spark's ``df.sample`` is seed-stable only per partitioning; a
    content-hash cutoff is stable under ANY repartition, resume, or
    engine (the DuckDB oracle spells the identical predicate), which
    is what a reproducible 100 TB curation run needs.  Shape at scale:
    pure map-side filter (md5 + CASE + string compare, whole-stage
    codegen), no shuffle, survives pushdown ordering — the scan still
    prunes columns."""
    rates = STRATIFIED_RATES if rates is None else rates
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, _HEX_W)
    thr = F.lit(rate_to_hex_threshold(default_rate))
    for stratum, rate in sorted(rates.items()):
        thr = F.when(F.col("lang") == stratum,
                     F.lit(rate_to_hex_threshold(rate))).otherwise(thr)
    return df.where(h < thr)


def neardup_representatives(docs: DataFrame) -> DataFrame:
    """Near-dup pruning keep-rule over the MinHash+LSH pair set: drop
    every doc that is the GREATER member of some near-dup pair, keep
    the rest.  The min-id member of each duplicate pair survives (the
    standard greedy representative rule — cheap, SQL-expressible, and
    order-independent; full transitive-closure canonicalization is the
    linking module's union-find/CC path when components matter).

    Shape at scale: the pair set is orders of magnitude smaller than
    the corpus (capped band join), so the anti-join broadcasts its
    dropped-id side; the corpus never shuffles."""
    pairs = minhash_band_pairs(docs)
    dropped = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return docs.join(F.broadcast(dropped), "doc_id", "left_anti")


def corpus_term_stats(docs: DataFrame, top_k: int = 20) -> DataFrame:
    """Top-k corpus terms by document frequency, with IDF — the
    vocabulary/statistics pass of a training-data pipeline.

    df(term) counts each term once per document (distinct tokens
    before the explode); idf = round(ln(N/df), 4).  Shape at scale:
    explode feeds a map-side-combining groupBy on term (partial
    counts), the total-N agg is one row broadcast back, and top-k is
    TakeOrdered — no global sort materializes the vocabulary."""
    per_doc = docs.select(F.explode(
        F.array_distinct(F.split(F.col("text"), " "))).alias("term"))
    term_df = (per_doc.where(F.col("term") != "")
               .groupBy("term").agg(F.count("*").alias("df")))
    n = docs.agg(F.count("*").alias("_n"))
    return (term_df.crossJoin(F.broadcast(n))
            .select("term", "df",
                    F.round(F.log(F.col("_n").cast("double")
                                  / F.col("df")), 4).alias("idf"))
            .orderBy(F.desc("df"), "term").limit(top_k))


DECONTAM_NGRAM = 8        # flag on any shared 8-word span
DECONTAM_BENCH_MOD = 97   # q27 demo benchmark slice: doc_id % 97 == 0


def contaminated_ids(docs: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Benchmark decontamination: ids of corpus docs sharing any
    ``DECONTAM_NGRAM``-word span with a benchmark/eval document — the
    docs a training run must drop so the benchmark stays honest.

    Shape at scale: benchmark suites are tiny next to a training
    corpus (MBs of n-grams vs 100 TB), so the distinct benchmark
    shingle set BROADCASTS and the corpus side is a map-side explode +
    broadcast semi-join — the corpus never shuffles; the final
    distinct is over flagged ids only (a small fraction).  Shingling
    is the O(len) let-bound ``word_shingles``."""
    bench_sh = (benchmark
                .select(F.explode(word_shingles(F.col("text"),
                                                DECONTAM_NGRAM))
                        .alias("sh"))
                .distinct())
    doc_sh = docs.select(
        "doc_id",
        F.explode(word_shingles(F.col("text"), DECONTAM_NGRAM))
        .alias("sh"))
    return (doc_sh.join(F.broadcast(bench_sh), "sh", "left_semi")
            .select("doc_id").distinct())


REPETITION_TOP2_MAX = 0.20   # flag above this top-2-gram word fraction
REPETITION_DUP5_MAX = 0.30   # flag above this duplicated-5-gram fraction


def _max_run(sorted_arr) -> Column:
    """Count of the most frequent element of a SORTED string array —
    the longest run of equal adjacent elements, in ONE fold pass.

    A map accumulator (``map_concat`` read-modify-write) would copy
    the whole accumulator per element — O(len * per-doc vocab) per
    document — so the mode is taken the sort-and-scan way instead:
    O(len log len) sort, O(len) fold, all codegen, no shuffle."""
    init = F.struct(F.lit(None).cast("string").alias("prev"),
                    F.lit(0).alias("run"), F.lit(0).alias("best"))

    def step(acc, g):
        # `run` appears twice (carry + best); both references are the
        # duplicated subtree of one comparison + add over lambda vars,
        # not a re-evaluated expensive array (the HOF let-binding rule
        # concerns embedded column subtrees, which `acc`/`g` are not).
        run = (F.when(g.eqNullSafe(acc["prev"]), acc["run"] + 1)
               .otherwise(F.lit(1)))
        return F.struct(g.alias("prev"), run.alias("run"),
                        F.greatest(acc["best"], run).alias("best"))

    return F.aggregate(sorted_arr, init, step, lambda acc: acc["best"])


def _rep_top2_frac(t) -> Column:
    """ROUND(2 * mode(2-grams) / n_words, 4) — shared by
    repetition_signals and curation_funnel so the rule cannot fork."""
    return F.round(2.0 * _max_run(F.array_sort(word_shingles(t, 2)))
                   / F.size(F.split(t, " ")), 4)


def _rep_dup5_frac(t) -> Column:
    """ROUND(1 - distinct/total 5-gram shingles, 4)."""
    s5 = word_shingles(t, 5)
    return F.round(1.0 - F.size(F.array_distinct(s5)) / F.size(s5), 4)


def repetition_signals(docs: DataFrame) -> DataFrame:
    """Gopher-style per-document repetition signals — the repetition
    slice of an LLM training-data quality filter (Rae et al. 2021,
    "Scaling Language Models", Table A1: fraction of the document
    taken by the most common n-gram; fraction of duplicated n-grams).

    Emits per doc:
      - ``n_words``          word count (``split`` on single spaces)
      - ``top_2gram_frac``   2 * count(most frequent word 2-gram) /
                             n_words — word-level variant of Gopher's
                             top-2-gram character fraction; overlapping
                             occurrences can push degenerate docs
                             above 1.0 (a score, not a probability)
      - ``dup_5gram_frac``   1 - distinct/total 5-gram shingles
      - ``repetitive``       1 iff either fraction exceeds its module
                             constant (REPETITION_TOP2_MAX/_DUP5_MAX —
                             interpolated into the DuckDB oracle so
                             the engines cannot desynchronize)

    Shape at scale: a pure projection — split + sort + one fold per
    document over the O(len) let-bound ``word_shingles`` arrays; no
    explode, no shuffle, whole-stage codegen around the HOFs.  The
    flag is a second projection over the aliased fraction columns
    (the CollapseProject discipline: a CASE over multi-referenced
    non-cheap aliases stays materialized; inlining would re-run the
    fold per branch)."""
    t = F.col("text")
    frac2 = _rep_top2_frac(t)
    dup5 = _rep_dup5_frac(t)
    scored = docs.select(
        F.col("doc_id"),
        F.size(F.split(t, " ")).cast("long").alias("n_words"),
        frac2.alias("top_2gram_frac"),
        dup5.alias("dup_5gram_frac"))
    return scored.select(
        "*",
        ((F.col("top_2gram_frac") > REPETITION_TOP2_MAX)
         | (F.col("dup_5gram_frac") > REPETITION_DUP5_MAX))
        .cast("int").alias("repetitive"))


TFIDF_TOP_K = 3


def tfidf_keywords(docs: DataFrame, k: int = TFIDF_TOP_K) -> DataFrame:
    """Per-document top-k TF-IDF keywords — the keyword/topic tagging
    pass of a training-data pipeline (and the per-doc complement of
    ``corpus_term_stats``' corpus-level vocabulary view).

    score = round((tf/n_toks) * ln(N/df), 6); ties broken by term so
    the top-k is deterministic across engines.  Shape at scale: the
    token explode feeds a map-side-combining groupBy on (doc, term);
    document frequency is a second map-side-combining groupBy on term
    over per-doc distinct tokens; the (term, df) vocabulary is MBs
    against a 100 TB corpus so it BROADCASTS back onto the tf side
    (the corpus-derived tf frame never shuffles again); the top-k
    window partitions by doc_id — bounded by per-doc vocabulary,
    never a global sort."""
    from pyspark.sql import Window

    words = F.split(F.col("text"), " ")
    toks = (docs.select(F.col("doc_id"), F.size(words).alias("n_toks"),
                        F.explode(words).alias("term"))
            .where(F.col("term") != ""))
    tf = (toks.groupBy("doc_id", "term", "n_toks")
          .agg(F.count("*").alias("c")))
    dfreq = (docs.select(F.col("doc_id"),
                         F.explode(F.array_distinct(words))
                         .alias("term"))
             .where(F.col("term") != "")
             .groupBy("term").agg(F.count("*").alias("df")))
    n = docs.agg(F.count("*").alias("_n"))
    scored = (tf.join(F.broadcast(dfreq), "term")
              .crossJoin(F.broadcast(n))
              .select(F.col("doc_id"), "term",
                      F.round((F.col("c") / F.col("n_toks"))
                              * F.log(F.col("_n").cast("double")
                                      / F.col("df")), 6)
                      .alias("score")))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"),
                                             F.asc("term"))
    return (scored.select("*", F.row_number().over(w).cast("long")
                          .alias("kw_rank"))
            .where(F.col("kw_rank") <= k))


BM25_K1 = 1.2      # term-frequency saturation (the standard default)
BM25_B = 0.75      # length-normalization strength (standard default)
BM25_TOP_K = 20


def bm25_search(docs: DataFrame, query_terms: tuple) -> DataFrame:
    """BM25 ranked retrieval over the corpus for a fixed term set —
    the inspect/decontaminate companion to ``tfidf_keywords`` (find
    the documents most about a benchmark's vocabulary).  Okapi BM25
    with the Lucene idf: ln((N - df + .5)/(df + .5) + 1), so idf is
    never negative.  k1 and b are ``BM25_K1`` and ``BM25_B``; the top
    ``BM25_TOP_K`` documents are returned.

    Shape at scale: the corpus is TOKENIZED ONCE — the token explode
    filters to the QUERY TERMS immediately, so the tf shuffle carries
    only matching rows (a few per doc), never the corpus vocabulary;
    the per-(doc, term) tf frame is materialized once and df is ONE
    row-count per term over it (tf holds exactly one row per matching
    doc-term pair), not a second corpus tokenization; the 1-row
    (N, avgdl) stats scan is the only other corpus pass.  df and
    stats broadcast back onto the tf side; top-k is TakeOrdered on
    the ROUNDED score with an id tie-break (the q29 convention — an
    unrounded order could let sub-1e-6 engine noise reshuffle the
    cutoff), never a global sort."""
    terms = list(query_terms)
    # let-bind the split: size() and explode() both reference the
    # alias, so the split runs once per row (CollapseProject keeps
    # multi-referenced non-cheap aliases materialized)
    words_of = docs.select(F.col("doc_id"),
                           F.split(F.col("text"), " ").alias("_w"))
    tf = materialize_once(
        words_of.select(F.col("doc_id"), F.size("_w").alias("n_toks"),
                        F.explode("_w").alias("term"))
        .where(F.col("term").isin(terms))
        .groupBy("doc_id", "term", "n_toks")
        .agg(F.count("*").alias("c")))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    stats = docs.agg(
        F.count("*").alias("_n"),
        F.avg(F.size(F.split(F.col("text"), " "))).alias("_avgdl"))
    idf = F.log((F.col("_n") - F.col("df") + 0.5)
                / (F.col("df") + 0.5) + 1.0)
    k1, b = BM25_K1, BM25_B
    norm = (F.col("c") + k1 * (1.0 - b
                               + b * F.col("n_toks") / F.col("_avgdl")))
    scored = (tf.join(F.broadcast(dfreq), "term")
              .crossJoin(F.broadcast(stats))
              .select(F.col("doc_id"),
                      (idf * F.col("c") * (k1 + 1.0) / norm).alias("s")))
    return (scored.groupBy("doc_id")
            .agg(F.round(F.sum("s"), 6).alias("bm25"),
                 F.count("*").alias("n_terms_matched"))
            .orderBy(F.desc("bm25"), F.asc("doc_id"))
            .limit(BM25_TOP_K))


CURATION_STAGES = ("ingest", "lang_id", "quality", "repetition",
                   "exact_dedup", "neardup", "decontaminate", "sample")


def curation_funnel(docs: DataFrame) -> DataFrame:
    """End-to-end training-data curation funnel — the composition a
    real 100 TB run chains: hold out the benchmark slice, then
    language-ID filter -> quality filter -> repetition filter ->
    exact dedup -> near-dup prune -> benchmark decontamination ->
    stratified sampling.  Returns the per-stage survivor counts
    ``(stage_idx, stage, n_docs)`` — the curation report every
    pipeline run ships with.

    Every stage rule is the SAME rule its standalone operator / oracle
    spells (q23/q15/q28/q11/q25/q27/q24), via shared expressions and
    constants, so the funnel oracle cross-checks the composition, not
    a re-derivation.  The language KEEP is spelled ``any marker score
    > 0`` — equivalent to ``lang_id != 'und'`` (the argmax chain
    returns 'und' iff every score is 0) but each marker count is
    evaluated ONCE; the oracle deliberately spells the CASE form, so
    the equivalence of the two spellings is itself cross-checked.

    Shape at scale:
    - stages 0-3 are pure per-doc predicates, so their four counts
      come from ONE corpus scan (cumulative conditional sums over a
      two-step flag projection — the CollapseProject discipline keeps
      each flag evaluated once);
    - the stage-3 survivor frame is materialized once and each join
      stage (dedup window on md5(text), capped LSH band join,
      broadcast decontamination anti-join, map-side sample) reads the
      previous materialized frame — at cluster scale these are the
      frames a StageWriter run would persist per stage anyway;
    - the result is a UNION of eight 1-row aggregates: no driver-side
      loop, one DataFrame out."""
    from pyspark.sql import Window

    bench = docs.where(F.col("doc_id") % DECONTAM_BENCH_MOD == 0)
    corpus = docs.where(F.col("doc_id") % DECONTAM_BENCH_MOD != 0)
    # the per-doc map stages: keep_quality is text_quality's
    # bucket-'low' rule negated; keep_rep negates repetition_signals'
    # flag via the shared _rep_* fraction expressions
    t = F.col("text")
    keep_lang = None
    for _, score in lang_scores(t):
        cond = score > 0
        keep_lang = cond if keep_lang is None else (keep_lang | cond)
    words = F.split(t, " ")
    nt = F.size(words)
    keep_quality = (
        (F.size(F.filter(words, _stopword_filter)).cast("double")
         / nt > 0.05) | (nt >= 40))
    keep_rep = ~((_rep_top2_frac(t) > REPETITION_TOP2_MAX)
                 | (_rep_dup5_frac(t) > REPETITION_DUP5_MAX))

    base = corpus.select(keep_lang.alias("_l"),
                         keep_quality.alias("_q0"),
                         keep_rep.alias("_r0"))
    flags = base.select(
        "_l", (F.col("_l") & F.col("_q0")).alias("_q"),
        (F.col("_l") & F.col("_q0") & F.col("_r0")).alias("_r"))
    head = flags.agg(
        F.count("*").alias("c0"),
        F.sum(F.col("_l").cast("long")).alias("c1"),
        F.sum(F.col("_q").cast("long")).alias("c2"),
        F.sum(F.col("_r").cast("long")).alias("c3"))
    head_rows = head.select(F.expr(
        "stack(4, 0, 'ingest', c0, 1, 'lang_id', c1, "
        "2, 'quality', c2, 3, 'repetition', c3) "
        "AS (stage_idx, stage, n_docs)"))

    s3 = materialize_once(
        corpus.where(keep_lang & keep_quality & keep_rep))
    w = Window.partitionBy(F.md5(t))
    s4 = materialize_once(
        s3.withColumn("_min_id", F.min("doc_id").over(w))
        .where(F.col("doc_id") == F.col("_min_id")).drop("_min_id"))
    s5 = materialize_once(neardup_representatives(s4))
    contam = contaminated_ids(s5, bench)
    s6 = materialize_once(
        s5.join(F.broadcast(contam), "doc_id", "left_anti"))
    s7 = stratified_hash_sample(s6)

    def stage_row(idx, name, frame):
        return frame.agg(F.count("*").alias("n_docs")).select(
            F.lit(idx).alias("stage_idx"), F.lit(name).alias("stage"),
            "n_docs")

    out = head_rows
    for idx, (name, frame) in enumerate(
            zip(CURATION_STAGES[4:], (s4, s5, s6, s7)), start=4):
        out = out.unionAll(stage_row(idx, name, frame))
    return out.orderBy("stage_idx")


# --- PII detection & redaction ------------------------------------------

# (kind, pattern, replacement) applied IN ORDER.  The patterns are
# deliberately the RE2-compatible subset (character classes + bounded
# repetition only: no lookaround, no backreferences, no ambiguous
# alternation) so the Java regex engine (Spark) and RE2 (the DuckDB
# oracle) match identical spans — Java's leftmost-first greedy and
# RE2's leftmost-longest agree on alternation-free patterns.  Order
# matters for redaction: the email pattern consumes its dotted domain
# before the IPv4 pattern can see it.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
     "<EMAIL>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
     "<IP>"),
    ("phone", r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
)

# deterministic PII planting for the q31 demo (the synthetic corpus
# carries no PII of its own): every doc gets an email, even doc_ids a
# phone, doc_id % 3 == 0 an IPv4 — varying per-kind counts so the
# detectors are falsifiable, replayable from doc_id alone (no RNG).
PII_PLANT_DOMAIN = "mail.example.com"


def plant_pii(docs: DataFrame) -> DataFrame:
    """Append deterministic synthetic PII to each document (demo input
    for :func:`pii_scrub`; the DuckDB oracle rebuilds the identical
    augmentation from ``doc_id``).  Pure projection."""
    did = F.col("doc_id")
    ds = did.cast("string")
    email = F.concat(F.lit(" Contact user"), ds,
                     F.lit("@" + PII_PLANT_DOMAIN))
    phone = F.when(did % 2 == 0, F.concat(
        F.lit(" or +1-555-"),
        F.lpad((did % 10000).cast("string"), 4, "0"))).otherwise("")
    ip = F.when(did % 3 == 0, F.concat(
        F.lit(" from 10."), (did % 223).cast("string"), F.lit("."),
        (did % 101).cast("string"), F.lit("."),
        (1 + did % 254).cast("string"))).otherwise("")
    return docs.withColumn(
        "text", F.concat(F.col("text"), email, phone, ip))


def pii_scrub(docs: DataFrame) -> DataFrame:
    """PII detection + redaction — the scrubbing pass every
    training-data pipeline runs before a corpus ships.  Per document:
    the count of each :data:`PII_PATTERNS` kind found in the ORIGINAL
    text, plus ``clean_text`` with every occurrence replaced by its
    typed placeholder (patterns applied in declaration order).

    Shape at scale: pure per-row projection (regexp_count +
    regexp_replace chain, whole-stage codegen), no shuffle, no Python
    boundary; the scan prunes to (id, text).  Counts are detected on
    the original text so kinds are independent of redaction order;
    redaction chains in PII_PATTERNS order so nested spans (an IP-like
    dotted domain inside an email) are consumed exactly once."""
    counts = [F.regexp_count(F.col("text"), F.lit(pat)).cast("long")
              .alias(f"n_{kind}") for kind, pat, _ in PII_PATTERNS]
    clean = F.col("text")
    for _, pat, repl in PII_PATTERNS:
        clean = F.regexp_replace(clean, pat, repl)
    return docs.select("doc_id", *counts, clean.alias("clean_text"))


# --- training-mixture weights -------------------------------------------

MIXTURE_MAX_WEIGHT = 5.0  # never upsample a stratum more than 5x


def mixture_weights(docs: DataFrame) -> DataFrame:
    """Per-stratum sampling weights that move the corpus toward a
    UNIFORM target mixture by token mass — the domain/language
    re-weighting step of a training-data pipeline (the DoReMi/Pile
    style mixture table, with the standard max-repetition cap so rare
    strata aren't epoch-ed into memorization).

    ``mix_weight = min(target_share / natural_share,
    MIXTURE_MAX_WEIGHT)``
    where ``natural_share = stratum_tokens / total_tokens`` and the
    uniform target is ``1 / n_strata``.  Shares and weights are
    ROUNDED to 6 places with the identical expression tree in the
    DuckDB oracle for float parity.

    Shape at scale: token counting is a map-side expression feeding a
    map-side-combining groupBy on the stratum (output rows == number
    of strata, i.e. tiny); the grand total is a 1-row aggregate
    broadcast back.  No per-document shuffle, one corpus scan."""
    per = docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " ")).cast("long"))
        .alias("n_tokens"))
    tot = per.agg(F.sum("n_tokens").alias("_tot"),
                  F.count("*").alias("_k"))
    natural = F.col("n_tokens").cast("double") / F.col("_tot")
    target = F.lit(1.0) / F.col("_k")
    return (per.crossJoin(F.broadcast(tot))
            .select("lang", "n_docs", "n_tokens",
                    F.round(natural, 6).alias("natural_share"),
                    F.round(F.least(F.lit(MIXTURE_MAX_WEIGHT),
                                    target / natural),
                            6).alias("mix_weight"))
            .orderBy("lang"))


# --- token-budget shard packing (distributed prefix sum) -----------------

SHARD_TOKEN_BUDGET = 2000  # demo budget: ~35 docs/shard on the corpora
PACK_RANGE_DOCS = 128      # id-range compression width for the scan


def pack_training_shards(docs: DataFrame,
                         budget: int = SHARD_TOKEN_BUDGET,
                         range_docs: int = PACK_RANGE_DOCS) -> DataFrame:
    """Assign documents to fixed-token-budget training shards in
    stable ``doc_id`` order: ``shard_id = floor(exclusive_prefix_sum /
    budget)`` — the sequence-packing plan a dataloader consumes.

    A global cumulative sum is a single-task window in the naive
    spelling (``Window.orderBy(id)`` with no partition), which is the
    classic 100 TB anti-shape.  This is the distributed two-level
    scan instead:

    1. per-range partial sums — ``groupBy(floor(id / range_docs))``,
       map-side combining, output is the corpus compressed by
       ``range_docs``×;
    2. running offsets over the COMPRESSED range frame (the only
       unpartitioned window, over corpus/range_docs rows — at 10^10
       docs and the production width 2^20 that is ~10^4 rows; deeper
       corpora recurse the same step);
    3. offsets broadcast-join back; the per-document cumsum window is
       PARTITIONED by range, so every range scans in parallel.

    ``cum_tokens`` is the inclusive prefix sum; a shard may overshoot
    the budget by less than one document (assignment is by exclusive
    start), which is the standard greedy packing rule."""
    from pyspark.sql import Window
    toks = docs.select(
        F.col("doc_id"),
        F.size(F.split(F.col("text"), " ")).cast("long")
        .alias("n_tokens"),
        F.floor(F.col("doc_id") / range_docs).alias("_rng"))
    rng_sums = toks.groupBy("_rng").agg(F.sum("n_tokens").alias("_rs"))
    w_rng = (Window.orderBy("_rng")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = rng_sums.select(
        "_rng",
        F.coalesce(F.sum("_rs").over(w_rng), F.lit(0).cast("long"))
        .alias("_off"))
    w_in = Window.partitionBy("_rng").orderBy("doc_id")
    return (toks.join(F.broadcast(offsets), "_rng")
            .select("doc_id", "n_tokens",
                    (F.col("_off") + F.sum("n_tokens").over(w_in))
                    .alias("cum_tokens"))
            .select("doc_id", "n_tokens", "cum_tokens",
                    F.floor((F.col("cum_tokens") - F.col("n_tokens"))
                            / budget).cast("bigint").alias("shard_id")))


# --- corpus-level line dedup (C4-style boilerplate removal) --------------

BOILERPLATE_PLANT = (
    # (modulus, line): doc_id % modulus == 0 gets the line appended.
    # mod 1 = every doc (definitely boilerplate at any corpus size),
    # mod 3 = frequent, mod 400 = 2 occurrences on the 500-doc test
    # corpora — BELOW the dedup threshold, so the op must keep it.
    (1, "Subscribe to our newsletter for updates."),
    (3, "All rights reserved."),
    (400, "Archived snapshot of this page."),
)
LINE_DUP_MIN = 3   # corpus occurrences at which a line is boilerplate


def plant_boilerplate(docs: DataFrame) -> DataFrame:
    """Append deterministic boilerplate lines to each document (demo
    input for :func:`line_dedup`; the DuckDB oracle rebuilds the
    identical augmentation from ``doc_id`` — no RNG, replayable).
    Pure projection; NULL text stays NULL (concat propagates)."""
    out = F.col("text")
    for mod, line in BOILERPLATE_PLANT:
        out = F.when(F.col("doc_id") % mod == 0,
                     F.concat(out, F.lit("\n" + line))).otherwise(out)
    return docs.withColumn("text", out)


def line_dedup(docs: DataFrame) -> DataFrame:
    """Corpus-level line deduplication — the C4 boilerplate rule
    (Raffel et al. 2020, §2.2 of the C4 construction): a line whose
    trimmed form occurs ``LINE_DUP_MIN``+ times ACROSS THE CORPUS is
    boilerplate (nav bars, cookie banners, license footers); drop
    every occurrence except the first (minimum ``(doc_id, line_no)``),
    and reassemble each document from its surviving lines in order.

    Output per document: ``n_lines``, ``n_kept``, ``clean_text``
    (NULL text -> NULL row values, the q28 convention).  Empty /
    whitespace-only lines never participate in counting and are
    always kept (they all share one md5 key and are structural, not
    boilerplate).

    Shape at scale: lines explode map-side; corpus frequencies come
    from a map-side-combining ``groupBy`` over fixed-width ``md5``
    keys (never a window over the line key — the degenerate
    boilerplate line IS the skewed key, and a window would funnel
    all its occurrences through one task; the groupBy ships only
    (key, partial-count, partial-min) rows).  The join back is an
    equi-join AQE can skew-split; reassembly is one groupBy on the
    doc id with per-doc-bounded state (sort_array over the doc's own
    lines)."""
    lines = (docs.where(F.col("text").isNotNull())
             .select("doc_id", F.posexplode(F.split(F.col("text"), "\n"))
                     .alias("_ln", "_line")))
    # BOTH the frequency agg and the join-back read the exploded
    # frame — materialize it once (the cap_blocks discipline) so
    # the corpus split/explode doesn't run twice
    keyed = materialize_once(lines.select(
        "doc_id", "_ln", "_line",
        F.md5(F.trim(F.col("_line"))).alias("_k")))
    sizes = (keyed.where(F.length(F.trim(F.col("_line"))) > 0)
             .groupBy("_k")
             .agg(F.count("*").alias("_c"),
                  F.min(F.struct(F.col("doc_id").alias("d"),
                                 F.col("_ln").alias("l"))).alias("_first")))
    ann = keyed.join(sizes, "_k", "left")
    keep = (F.col("_c").isNull()
            | (F.col("_c") < LINE_DUP_MIN)
            | ((F.col("_first.d") == F.col("doc_id"))
               & (F.col("_first.l") == F.col("_ln"))))
    per = (ann.select("doc_id", "_ln", "_line", keep.alias("_keep"))
           .groupBy("doc_id")
           .agg(F.count("*").alias("n_lines"),
                F.sum(F.col("_keep").cast("long")).alias("n_kept"),
                F.array_join(
                    F.transform(
                        F.filter(
                            F.sort_array(F.collect_list(
                                F.struct("_ln", "_line", "_keep"))),
                            lambda s: s["_keep"]),
                        lambda s: s["_line"]),
                    "\n").alias("clean_text")))
    return (docs.select("doc_id").join(per, "doc_id", "left")
            .select("doc_id", "n_lines", "n_kept", "clean_text"))


# --- cross-document duplicate span detection (Lee et al. style) ----------

DUPSPAN_NGRAM = 8  # window width in words, matches decontamination's


def duplicate_span_stats(docs: DataFrame) -> DataFrame:
    """Substring-level duplication signals — the cross-document
    counterpart of :func:`repetition_signals` (which is within-doc)
    and the detection half of exact-substring training-data dedup
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"): per document, how many of its DISTINCT
    ``DUPSPAN_NGRAM``-word spans also appear in at least one OTHER document's text, and the
    duplicated fraction.

    Output: ``n_spans`` (distinct n-gram windows), ``n_dup_spans``
    (those shared with >=1 other doc), ``dup_span_frac`` (rounded 6
    for cross-engine float parity); NULL text -> NULL row values.

    Shape at scale: spans come from :func:`word_shingles` (the
    let-bound O(len) construction), per-doc ``array_distinct``
    BEFORE exploding so the corpus-wide count of a span key equals
    its document frequency with a plain ``COUNT(*)`` — no
    countDistinct double shuffle; keys are fixed-width ``md5`` so
    the shuffle never carries span text and a degenerate span can't
    produce fat rows.  One map-side-combining groupBy + one
    equi-join back + one per-doc agg."""
    # (doc_id, fixed-width hash) only — materializing this narrow
    # frame is far cheaper than running the shingle construction
    # twice (the frequency agg AND the join-back both read it)
    hashed = materialize_once(
        docs.where(F.col("text").isNotNull())
        .select("doc_id",
                F.explode(F.array_distinct(
                    word_shingles(F.col("text"), DUPSPAN_NGRAM)))
                .alias("_sh"))
        .select("doc_id", F.md5(F.col("_sh")).alias("_h")))
    sizes = hashed.groupBy("_h").agg(F.count("*").alias("_docs"))
    per = (hashed.join(sizes, "_h")
           .groupBy("doc_id")
           .agg(F.count("*").alias("n_spans"),
                F.sum((F.col("_docs") >= 2).cast("long"))
                .alias("n_dup_spans")))
    return (docs.select("doc_id").join(per, "doc_id", "left")
            .select("doc_id", "n_spans", "n_dup_spans",
                    F.round(F.col("n_dup_spans") / F.col("n_spans"), 6)
                    .alias("dup_span_frac")))


# --- leakage-safe train/val/test split -----------------------------------

SPLIT_FRACTIONS = (("test", 0.1), ("val", 0.1))  # remainder = train
SPLIT_PAD_W = 12   # lpad width: lexicographic order == numeric id order


def leakage_safe_split(docs: DataFrame,
                       max_bucket: int = DEFAULT_MAX_BAND_BUCKET,
                       cc_local_threshold: int = 1_000_000,
                       metrics_out: dict | None = None) -> DataFrame:
    """Deterministic train/val/test assignment in which a near-dup
    CLUSTER never straddles a split — the leakage guarantee a plain
    per-doc hash split cannot give (if doc A is in train and its
    near-duplicate B in test, the benchmark is contaminated; and the
    guarantee must be transitive: A~B, B~C puts A and C on the same
    side even when A and C share no band, which is why this is
    connected components over the MinHash pair set, not q25's greedy
    pairwise keep-rule).  Split is chosen by md5 of the component
    REPRESENTATIVE, so membership moves with the cluster.

    doc ids are lpad-ed to :data:`SPLIT_PAD_W` so the CC min-label
    (lexicographic on strings) equals numeric min — the q24 trick —
    and ``rep_id`` casts back losslessly in both engines.

    Shape at scale: the pair set is a capped band join (orders of
    magnitude smaller than the corpus); only paired vertices enter
    the CC iteration (isolated docs short-circuit to component =
    self, linking.connected_components); the split itself is a pure
    projection over the component hash.  The corpus is scanned once
    for signatures; nothing all-pairs, no corpus shuffle.

    TWO documented limits of the guarantee, both observable:

    - a band bucket larger than ``max_bucket`` is dropped before the
      self-join (the cap-and-count discipline), so members of a
      mega-cluster of near-identical boilerplate may lose ALL their
      pairs and fall back to independent per-doc assignment.  Pass
      ``metrics_out`` to read ``dropped_bands`` — never silent; in a
      real funnel exact dedup (q30 stage 4) removes such
      byte-identical shapes before splitting.
    - the distributed min-label CC converges in O(graph diameter)
      rounds; a drift chain longer than connected_components'
      ``max_iter`` on that path warns and may split a component — keep
      the pair set under ``cc_local_threshold`` so the driver-side
      union-find (diameter-independent) resolves it."""
    from ollie_spark.spark.linking import connected_components

    def pad(c):
        return F.lpad(c.cast("string"), SPLIT_PAD_W, "0")

    pairs = minhash_band_pairs(docs, max_bucket=max_bucket,
                               metrics_out=metrics_out)
    cc = connected_components(
        pairs.select(pad(F.col("doc_a")).alias("norm_a"),
                     pad(F.col("doc_b")).alias("norm_b")),
        docs.select(pad(F.col("doc_id")).alias("norm")),
        local_threshold=cc_local_threshold)
    # two-step projection: the hash lands as an aliased column and the
    # CASE chain references it as a column ref — inlining it would
    # re-evaluate the md5 once per WHEN branch (the q23 trap)
    ann = cc.select("norm", "component",
                    F.substring(F.md5(F.col("component")), 1, 4)
                    .alias("_h"))
    h = F.col("_h")
    cum, split = 0.0, None
    for name, frac in SPLIT_FRACTIONS:
        cum += frac
        cut = F.lit(rate_to_hex_threshold(cum))
        split = (F.when(h < cut, name) if split is None
                 else split.when(h < cut, name))
    return ann.select(
        F.col("norm").cast("bigint").alias("doc_id"),
        F.col("component").cast("bigint").alias("rep_id"),
        split.otherwise("train").alias("split"))
