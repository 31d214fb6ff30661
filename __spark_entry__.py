"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG-extraction pipeline over a
deterministic interleaved-document corpus sized from sf0.001.
``queries()`` exposes the engine's operator surface (SURVEY.md §2.3
relational cross-index + the training-data-pipeline operators) against
the driver's parquet tables; ``oracle_sql()`` carries the DuckDB
equivalents.  KG-specific queries (pattern extraction, linking, n-ary)
are non-SQL-expressible and ship without oracles (rows-only checks).

Float discipline: aggregates that feed the value-hash comparison are
computed in DECIMAL and cast to DOUBLE at the end (bit-identical across
engines); cosine scores are rounded with an id tiebreak.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _t(spark, sf_dir, name):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dec(c):
    return c.cast("decimal(18,4)")


# --------------------------------------------------------------- flagship

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: interleaved docs -> triples -> linked graph mentions.

    Loads sf0.001 to size the corpus (doc count = documents rows), runs
    the full extraction pipeline, and returns scored mentions.
    """
    from ollie_spark.spark.corpus import corpus
    from ollie_spark.spark.pipeline import run_extraction

    sf_dir = "/root/testdata/sf0.001"
    n_docs = _t(spark, sf_dir, "documents").count()
    docs = corpus(spark, n_docs, seed=42)
    return run_extraction(docs).select(
        "doc_id", "span_idx", "arg1_text", "rel_text", "arg2_text",
        "openparse_conf", "conf", "pattern")


# ---------------------------------------------------------------- queries

def q01_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    disc = _dec(F.col("l_extendedprice")) * (F.lit(1).cast("decimal(18,4)")
                                             - _dec(F.col("l_discount")))
    return (li.where(F.col("l_shipdate") <= F.lit("1995-09-01"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(_dec(F.col("l_quantity"))).cast("double")
                 .alias("sum_qty"),
                 F.sum(_dec(F.col("l_extendedprice"))).cast("double")
                 .alias("sum_base_price"),
                 F.sum(disc).cast("double").alias("sum_disc_price"),
                 F.count("*").alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


def q02_top_customers(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    rev = (o.groupBy("o_custkey")
           .agg(F.sum(_dec(F.col("o_totalprice"))).cast("double")
                .alias("revenue"),
                F.count("*").alias("n_orders")))
    return (rev.join(F.broadcast(c), rev.o_custkey == c.c_custkey)
            .select(F.col("c_custkey").cast("long").alias("c_custkey"),
                    "c_name", "revenue", "n_orders")
            .orderBy(F.desc("revenue"), "c_custkey")
            .limit(10))


def q03_region_rollup(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy(F.col("r_name").alias("region"),
                     F.col("n_name").alias("nation"))
            .agg(F.count("*").alias("n_customers"),
                 F.sum(_dec(F.col("c_acctbal"))).cast("double")
                 .alias("total_acctbal"))
            .orderBy("region", "nation"))


def q04_frequent_parts_semijoin(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    freq = (li.groupBy("l_partkey").agg(F.count("*").alias("n"))
            .where(F.col("n") >= 8))
    return (li.join(F.broadcast(freq.select("l_partkey")), "l_partkey",
                    "left_semi")
            .groupBy("l_partkey")
            .agg(F.count("*").alias("n_lines"),
                 F.sum(_dec(F.col("l_quantity"))).cast("double")
                 .alias("total_qty"))
            .orderBy("l_partkey"))


def q05_diverse_suppliers(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_partkey")
            .agg(F.countDistinct("l_suppkey").alias("n_suppliers"),
                 F.count("*").alias("n_lines"))
            .where(F.col("n_suppliers") >= 3)
            .orderBy("l_partkey"))


def q06_topk_orders(spark, sf_dir):
    return (_t(spark, sf_dir, "orders")
            .select("o_orderkey", "o_custkey", "o_totalprice",
                    "o_orderpriority")
            .orderBy(F.desc("o_totalprice"), "o_orderkey")
            .limit(20))


def q07_running_window(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (ev.select("event_id", "user_id",
                      F.row_number().over(w).alias("rn"),
                      F.sum(_dec(F.col("value"))).over(w).cast("double")
                      .alias("running_value"))
            .where(F.col("rn") <= 20)
            .orderBy("user_id", "rn"))


def q08_event_rollup(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("user_id", "event_type")
            .agg(F.count("*").alias("n"),
                 F.sum(_dec(F.col("value"))).cast("double")
                 .alias("total_value"))
            .where(F.col("n") >= 2)
            .orderBy("user_id", "event_type"))


def q09_priority_stats(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (o.groupBy("o_orderpriority")
            .agg(F.count("*").alias("n_orders"),
                 F.countDistinct("o_custkey").alias("n_customers"),
                 F.min("o_orderdate").alias("first_order"),
                 F.max("o_orderdate").alias("last_order"))
            .orderBy("o_orderpriority"))


def q10_customers_without_orders(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (c.join(o.select(F.col("o_custkey").alias("c_custkey"))
                   .distinct(), "c_custkey", "left_anti")
            .select(F.col("c_custkey").cast("long").alias("c_custkey"),
                    "c_mktsegment")
            .orderBy("c_custkey"))


# ------------------------------------ training-data pipeline operators

def q11_dedup_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (d.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.countDistinct(F.md5(F.col("text"))).alias("n_distinct"))
            .orderBy("lang"))


from ollie_spark.spark.temporal import (  # noqa: E402
    HOPPING_SLIDE_MINUTES as _HOP_SLIDE_MIN,
    SESSION_GAP_MINUTES as _SESSION_GAP_MIN,
    TUMBLING_WINDOW_MINUTES as _TUMBLE_MIN)

# oracle constants derive from the ONE Python source (temporal.py) —
# a changed default there cannot silently desynchronize the oracles
_SESSION_GAP_US = _SESSION_GAP_MIN * 60_000_000
_HOUR_US = _TUMBLE_MIN * 60_000_000          # q41 tumbling width
_HALF_HOUR_US = _HOP_SLIDE_MIN * 60_000_000  # q42 slide (window=2*slide)

from ollie_spark.spark.textops import (BM25_B as _BM25_B,  # noqa: E402
                                       BM25_K1 as _BM25_K1,
                                       BM25_TOP_K as _BM25_TOP_K,
                                       DEFAULT_MAX_BAND_BUCKET as _MAX_BAND,
                                       DEFAULT_MAX_JACCARD_BLOCK as _MAX_BLOCK,
                                       MINHASH_SEEDS as _MINHASH_SEEDS,
                                       cosine as _lib_cosine,  # noqa: F401
                                       dot as _lib_dot,
                                       l2norm as _lib_l2norm,
                                       doc_fingerprint, minhash_band_pairs,
                                       ngram_jaccard_pairs, sign_cell,
                                       simhash16, text_quality,
                                       token_counts_from_words,
                                       spread_small_scan as _spread)


def q12_dedup_minhash(spark, sf_dir):
    """MinHash+LSH near-dup doc pairs (ollie_spark.spark.textops)."""
    return (minhash_band_pairs(_t(spark, sf_dir, "documents"))
            .orderBy("doc_a", "doc_b"))


def q13_dedup_simhash(spark, sf_dir):
    """SimHash cluster sizes per (lang, simhash)
    (ollie_spark.spark.textops.simhash16).  (r7: a parallelism floor
    on this scan measured neutral — the cost is per-process analysis
    of the fold expression, not per-doc map work — so none is added.)"""
    d = _t(spark, sf_dir, "documents")
    return (d.select("lang", simhash16(F.col("text")).alias("simhash"))
            .groupBy("lang", "simhash")
            .agg(F.count("*").alias("n"))
            .where(F.col("n") >= 2)
            .orderBy("lang", "simhash"))


def q14_ngram_jaccard_pairs(spark, sf_dir):
    """Word-set Jaccard >= 0.8 between same-lang docs, blocked on
    identical token count (ollie_spark.spark.textops)."""
    return (ngram_jaccard_pairs(_t(spark, sf_dir, "documents"),
                                threshold=0.8, block_cols=("lang",))
            .orderBy("doc_a", "doc_b"))


def q15_text_quality(spark, sf_dir):
    """Language/quality heuristics (ollie_spark.spark.textops)."""
    return text_quality(_t(spark, sf_dir, "documents")).orderBy("doc_id")


def q16_token_count(spark, sf_dir):
    """Whitespace tokens + a BPE-ish subword estimate per source.

    Two-step projection (r7): the split lands as its own aliased
    column, so both counts reference it instead of each re-running an
    embedded split per row (measured 2-3x on this shape)."""
    d = _t(spark, sf_dir, "documents")
    ws, sub = token_counts_from_words(F.col("_w"))
    per_doc = d.select("source", F.split(F.col("text"), " ").alias("_w")) \
               .select("source", ws, sub)
    return (per_doc.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("ws_tokens").alias("ws_tokens"),
                 F.sum("subword_tokens").alias("subword_tokens"))
            .orderBy("source"))


def q17_doc_fingerprint(spark, sf_dir):
    """Rolling-hash-style fingerprint: min md5 over word 5-grams."""
    d = _t(spark, sf_dir, "documents")
    return (d.select("doc_id",
                     doc_fingerprint(F.col("text")).alias("fingerprint"))
            .orderBy("doc_id"))


def q18_ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 neighbors of vec_id 0.

    Norms are precomputed per side (r7): the inline cosine re-ran the
    corpus row's norm AND the (constant) query norm once per row; the
    stored/broadcast norms leave one dot aggregate per row.  Values
    are bit-identical (same aggregates, same sqrt-product division)."""
    e = _t(spark, sf_dir, "embeddings") \
        .select("vec_id", F.transform("embedding",
                                      lambda x: x.cast("double"))
                .alias("emb")) \
        .withColumn("_nrm", _lib_l2norm(F.col("emb")))
    q = e.where(F.col("vec_id") == 0) \
         .select(F.col("emb").alias("qemb"),
                 F.col("_nrm").alias("_qnrm"))
    cos = F.round(_lib_dot(F.col("emb"), F.col("qemb"))
                  / (F.col("_nrm") * F.col("_qnrm")), 4)
    return (e.crossJoin(F.broadcast(q))
            .where(F.col("vec_id") != 0)
            .select("vec_id", cos.alias("cosine"))
            .orderBy(F.desc("cosine"), "vec_id")
            .limit(10))


def q19_ivf_bucketed_ann(spark, sf_dir):
    """IVF-style ANN: coarse cell = sign bits of the first 4 dims;
    search only the query's cell (the 100TB scale path: cells prune
    the candidate set before any distance math)."""
    e = _t(spark, sf_dir, "embeddings") \
        .select("vec_id", F.transform("embedding",
                                      lambda x: x.cast("double"))
                .alias("emb"))
    # norms precomputed per side (r7, see q18) — bit-identical values
    cells = e.withColumn("cell", sign_cell(F.col("emb"), 4)) \
             .withColumn("_nrm", _lib_l2norm(F.col("emb")))
    q = cells.where(F.col("vec_id") == 0) \
             .select(F.col("emb").alias("qemb"),
                     F.col("cell").alias("qcell"),
                     F.col("_nrm").alias("_qnrm"))
    cos = F.round(_lib_dot(F.col("emb"), F.col("qemb"))
                  / (F.col("_nrm") * F.col("_qnrm")), 4)
    return (cells.join(F.broadcast(q),
                       cells.cell == F.col("qcell"))
            .where(F.col("vec_id") != 0)
            .select("vec_id", "cell", cos.alias("cosine"))
            .orderBy(F.desc("cosine"), "vec_id")
            .limit(5))


def q21_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs, IVF-blocked: candidates
    share a sign cell (16 cells over 4 dims), verified by cosine >=
    0.62.  The cell join is the 100TB path — no all-pairs."""
    e = _spread(_t(spark, sf_dir, "embeddings")) \
        .select("vec_id", F.transform("embedding",
                                      lambda x: x.cast("double"))
                .alias("emb"))
    # norms precomputed per ROW (r7): the inline cosine re-aggregated
    # both rows' norms once per candidate pair — 3 array walks per
    # pair where 1 (the dot) suffices.  Bit-identical values.
    cells = e.withColumn("cell", sign_cell(F.col("emb"), 4)) \
             .withColumn("_nrm", _lib_l2norm(F.col("emb")))
    a, b = cells.alias("a"), cells.alias("b")
    cos = F.round(_lib_dot(F.col("a.emb"), F.col("b.emb"))
                  / (F.col("a._nrm") * F.col("b._nrm")), 4)
    return (a.join(b, "cell")
            .where(F.col("a.vec_id") < F.col("b.vec_id"))
            .where(cos >= 0.62)
            .select(F.col("a.vec_id").alias("vec_a"),
                    F.col("b.vec_id").alias("vec_b"),
                    cos.alias("cosine"))
            .orderBy("vec_a", "vec_b"))


def q22_ann_multiprobe(spark, sf_dir):
    """Multi-probe sign-cell near-dup pairs: each vector also probes
    its Hamming-1 neighbor cells, recovering hyperplane-straddling
    pairs single-probe q21 misses (ollie_spark.spark.textops.
    embedding_neardup_pairs; bits pinned to 4 for the oracle)."""
    from ollie_spark.spark.textops import embedding_neardup_pairs
    e = _t(spark, sf_dir, "embeddings") \
        .select("vec_id", F.transform("embedding",
                                      lambda x: x.cast("double"))
                .alias("emb"))
    return (embedding_neardup_pairs(e, threshold=0.5, bits=4,
                                    multi_probe=True)
            .orderBy("vec_a", "vec_b"))


def q23_lang_id(spark, sf_dir):
    """Marker-word language ID (ollie_spark.spark.textops.lang_id):
    predicted-vs-stored language confusion counts.  The synthetic
    corpus is English-like word soup under every stored tag, so the
    prediction column is exercised for determinism here and for
    correctness by the planted-multilingual unit test
    (tests/test_textops_scale.py)."""
    from ollie_spark.spark.textops import with_lang_id
    d = _t(spark, sf_dir, "documents")
    return (with_lang_id(d.select("lang", "text"))
            .groupBy("lang", "pred_lang")
            .agg(F.count("*").alias("n"))
            .orderBy("lang", "pred_lang"))


def q20_monthly_order_trend(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    month = F.date_trunc("month", F.col("o_orderdate"))
    return (o.groupBy(month.alias("month"))
            .agg(F.count("*").alias("n_orders"),
                 F.sum(_dec(F.col("o_totalprice"))).cast("double")
                 .alias("revenue"))
            .orderBy("month"))


def q24_stratified_hash_sample(spark, sf_dir):
    """Deterministic per-language downsample via md5-prefix cutoff
    (ollie_spark.spark.textops.stratified_hash_sample): reproducible
    under any repartition/resume, no RNG — the curation-sampling op of
    a training-data pipeline.  Pure map-side filter, no shuffle."""
    from ollie_spark.spark.textops import stratified_hash_sample
    d = _t(spark, sf_dir, "documents")
    return (stratified_hash_sample(d).select("doc_id", "lang")
            .orderBy("doc_id"))


def q25_neardup_prune(spark, sf_dir):
    """Near-dup pruning keep-rule over the q12 MinHash+LSH pair set
    (ollie_spark.spark.textops.neardup_representatives): drop the
    greater member of every pair, count survivors per language."""
    from ollie_spark.spark.textops import neardup_representatives
    d = _t(spark, sf_dir, "documents")
    return (neardup_representatives(d)
            .groupBy("lang").agg(F.count("*").alias("n_kept"))
            .orderBy("lang"))


def q26_corpus_term_stats(spark, sf_dir):
    """Top-20 corpus terms by document frequency with IDF
    (ollie_spark.spark.textops.corpus_term_stats): the vocabulary /
    statistics pass of a training-data pipeline."""
    from ollie_spark.spark.textops import corpus_term_stats
    return corpus_term_stats(_t(spark, sf_dir, "documents"))


def q27_decontaminate(spark, sf_dir):
    """Benchmark decontamination (ollie_spark.spark.textops.
    contaminated_ids): corpus docs sharing any 8-word span with the
    deterministic benchmark slice (doc_id % DECONTAM_BENCH_MOD == 0).
    Benchmark shingles broadcast; the corpus never shuffles."""
    from ollie_spark.spark.textops import (DECONTAM_BENCH_MOD,
                                           contaminated_ids)
    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % DECONTAM_BENCH_MOD == 0)
    cand = d.where(F.col("doc_id") % DECONTAM_BENCH_MOD != 0)
    return contaminated_ids(cand, bench).orderBy("doc_id")


def q28_repetition_signals(spark, sf_dir):
    """Gopher-style repetition quality signals
    (ollie_spark.spark.textops.repetition_signals): top-2-gram word
    fraction + duplicated-5-gram fraction per document, flagged
    against the module thresholds.  Pure projection, shuffle-free."""
    from ollie_spark.spark.textops import repetition_signals
    return (repetition_signals(_t(spark, sf_dir, "documents"))
            .orderBy("doc_id"))


def q29_tfidf_keywords(spark, sf_dir):
    """Per-document top-3 TF-IDF keywords
    (ollie_spark.spark.textops.tfidf_keywords): map-side-combining
    tf/df aggregations, broadcast vocabulary join, per-doc top-k
    window — the keyword-tagging pass of a curation pipeline."""
    from ollie_spark.spark.textops import tfidf_keywords
    return (tfidf_keywords(_t(spark, sf_dir, "documents"))
            .orderBy("doc_id", "kw_rank"))


def q30_curation_funnel(spark, sf_dir):
    """End-to-end curation funnel (ollie_spark.spark.textops.
    curation_funnel): benchmark holdout -> lang-ID -> quality ->
    repetition -> exact dedup -> near-dup prune -> decontamination ->
    stratified sample, reported as per-stage survivor counts.  The
    oracle recomputes the WHOLE composition in DuckDB from the same
    shared stage rules, so it cross-checks the chaining, not just the
    pieces."""
    from ollie_spark.spark.textops import curation_funnel
    return curation_funnel(_t(spark, sf_dir, "documents"))


def q31_pii_scrub(spark, sf_dir):
    """PII detection + redaction (ollie_spark.spark.textops.pii_scrub)
    over a deterministically PII-planted corpus (plant_pii: every doc
    an email, even doc_ids a phone, doc_id%3==0 an IPv4 — replayable
    from doc_id, no RNG).  Pure regexp projection, no shuffle; the
    oracle rebuilds the identical augmentation and the identical
    RE2-compatible regex chain from the shared PII_PATTERNS."""
    from ollie_spark.spark.textops import pii_scrub, plant_pii
    return (pii_scrub(plant_pii(_t(spark, sf_dir, "documents")))
            .orderBy("doc_id"))


def q32_mixture_weights(spark, sf_dir):
    """Training-mixture re-weighting table
    (ollie_spark.spark.textops.mixture_weights): per-language token
    mass -> natural share -> capped uniform-target sampling weight.
    One corpus scan, map-side-combining groupBy, 1-row broadcast
    total."""
    from ollie_spark.spark.textops import mixture_weights
    return mixture_weights(_t(spark, sf_dir, "documents"))


def q33_pack_shards(spark, sf_dir):
    """Token-budget shard packing
    (ollie_spark.spark.textops.pack_training_shards): global prefix
    sum spelled as the distributed two-level scan (per-range partials
    -> compressed-frame running offsets -> broadcast-joined
    range-partitioned windows) instead of the single-task
    Window.orderBy anti-shape."""
    from ollie_spark.spark.textops import pack_training_shards
    return (pack_training_shards(_t(spark, sf_dir, "documents"))
            .orderBy("doc_id"))


def q34_line_dedup(spark, sf_dir):
    """Corpus-level line dedup (ollie_spark.spark.textops.line_dedup)
    over a deterministically boilerplate-planted corpus
    (plant_boilerplate: every doc a newsletter line, doc_id%3 a
    license footer, doc_id%400 a rare line BELOW the threshold —
    replayable from doc_id).  The C4 rule: a line occurring
    LINE_DUP_MIN+ times corpus-wide is dropped everywhere but its
    first (doc_id, line_no) occurrence; map-side-combining groupBy
    over md5 line keys, never a window over the (skewed) line key."""
    from ollie_spark.spark.textops import line_dedup, plant_boilerplate
    return (line_dedup(plant_boilerplate(_t(spark, sf_dir, "documents")))
            .orderBy("doc_id"))


def q35_dup_spans(spark, sf_dir):
    """Cross-document duplicate-span signals
    (ollie_spark.spark.textops.duplicate_span_stats): per doc, the
    count and fraction of its distinct 8-word spans shared with
    at least one other document (Lee et al. 2022
    exact-substring dedup, detection half).  Per-doc array_distinct
    before explode so plain COUNT(*) is document frequency; md5 keys
    so the shuffle never carries span text."""
    from ollie_spark.spark.textops import duplicate_span_stats
    return (duplicate_span_stats(_t(spark, sf_dir, "documents"))
            .orderBy("doc_id"))


def q36_leakage_safe_split(spark, sf_dir):
    """Leakage-safe train/val/test split
    (ollie_spark.spark.textops.leakage_safe_split): connected
    components over the capped MinHash band-pair set, split chosen by
    md5 of the component representative so a near-dup cluster never
    straddles splits (transitively — unlike q25's greedy pair rule).
    The oracle recomputes the components with a RECURSIVE reachability
    CTE over the same banded pair construction, independently
    cross-checking the distributed CC path."""
    from ollie_spark.spark.textops import leakage_safe_split
    return (leakage_safe_split(_t(spark, sf_dir, "documents"))
            .orderBy("doc_id"))


def q37_sessionize(spark, sf_dir):
    """Gap-based sessionization
    (ollie_spark.spark.temporal.sessionize): a new session after a
    >30-min silence, per-user partitioned windows only (never a
    global ORDER BY ts — that is a SinglePartition at scale);
    timestamps compare in integer microseconds so the boundary rule
    is bit-exact across engines.  The output carries ts as BIGINT
    micros (temporal.epoch_us / DuckDB epoch_us) — raw timestamp
    columns would make the value hash depend on engine repr, micros
    cannot."""
    from ollie_spark.spark.temporal import epoch_us, sessionize
    res = sessionize(_t(spark, sf_dir, "events"))
    return (res.select("event_id", "user_id",
                       epoch_us("ts").alias("ts_us"), "session_id")
            .orderBy("event_id"))


def q38_asof_purchase(spark, sf_dir):
    """As-of attachment (ollie_spark.spark.temporal.asof_attach):
    each event carries the user's most recent strictly-prior purchase
    value — the as-of join spelled as last(ignorenulls) over a
    user-partitioned ROWS window instead of a range self-join
    (O(events x per-user-events)) or a global sort."""
    from ollie_spark.spark.temporal import asof_attach
    return asof_attach(_t(spark, sf_dir, "events")).orderBy("event_id")


def q39_json_props(spark, sf_dir):
    """Semi-structured column support: extract a typed field from the
    JSON props string (get_json_object, JVM-side — no UDF) and
    aggregate per event type; the oracle uses DuckDB's independent
    JSON parser (json_extract_string), so the extraction semantics
    are cross-engine checked."""
    ev = _t(spark, sf_dir, "events")
    # parse as double then truncate toward zero: a bare string->long
    # cast truncates in Spark but ROUNDS in DuckDB (and throws under
    # ANSI for fractional strings) — this spelling is engine-exact
    # even if a future corpus carries fractional k values
    k = (F.get_json_object(F.col("props"), "$.k")
         .cast("double").cast("long"))
    return (ev.select("event_type", k.alias("_k"))
            .groupBy("event_type")
            .agg(F.count("*").alias("n_events"),
                 F.sum("_k").alias("sum_k"),
                 F.round(F.avg("_k"), 6).alias("avg_k"))
            .orderBy("event_type"))


def q44_value_percentiles(spark, sf_dir):
    """Exact value percentiles per event type (F.percentile — the
    interpolating definition, bit-identical to DuckDB quantile_cont).
    Exact percentile buffers each group's values in the aggregation
    state, which is fine for bounded-cardinality group keys like
    event_type (the state is per-GROUP, values stream through
    partial buffers); for high-cardinality keys at 100 TB the scale
    path is approx_percentile (bounded-memory sketch), which is
    deliberately NOT used here because its approximation is
    engine-specific and could not be oracle-checked."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.percentile("value", 0.5), 6).alias("p50"),
                 F.round(F.percentile("value", 0.9), 6).alias("p90"),
                 F.round(F.percentile("value", 0.99), 6).alias("p99"))
            .orderBy("event_type"))


def q45_cohort_retention(spark, sf_dir):
    """Daily-cohort retention: users grouped by first-active date;
    day-1 / day-7 retention as the share active exactly at that
    offset.  The (user, day) activity frame is deduplicated FIRST, so
    each user contributes at most one row per day and the cohort size
    is sum(offset == 0) — one plain conditional-sum aggregation, no
    countDistinct (which would double-shuffle via expand) and no
    window.  Dates derive from the NTZ wall clock (to_date), so the
    cohort boundary is engine- and timezone-independent."""
    ev = _t(spark, sf_dir, "events")
    act = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    first = act.groupBy("user_id").agg(F.min("d").alias("cohort_date"))
    off = F.datediff(F.col("d"), F.col("cohort_date"))
    hit = lambda k: F.sum((off == k).cast("long"))  # noqa: E731
    return (act.join(first, "user_id")
            .groupBy("cohort_date")
            .agg(hit(0).alias("n_users"),
                 hit(1).alias("n_d1"),
                 hit(7).alias("n_d7"),
                 F.round(hit(1) / hit(0), 6).alias("ret_d1"),
                 F.round(hit(7) / hit(0), 6).alias("ret_d7"))
            .orderBy("cohort_date"))


def q48_rolling_daily(spark, sf_dir):
    """Per-user 7-day rolling activity (trailing-window user stats —
    the engagement feature a training pipeline joins onto examples):
    daily rollup first (shrinks events to one row per user-day), then
    a RANGE frame over the integer day number — RANGE, not ROWS,
    because missing days must still age out of the window; both
    engines order by the same BIGINT day so frame bounds are exact.
    Two shuffles total (daily agg + the same-keyed window sort)."""
    from ollie_spark.spark.temporal import epoch_us
    day_us = 86_400_000_000
    ev = _t(spark, sf_dir, "events")
    daily = (ev.select("user_id",
                       (epoch_us("ts") / day_us).cast("long")
                       .alias("day"),
                       _dec(F.col("value")).alias("_v"))
             .groupBy("user_id", "day")
             .agg(F.count("*").alias("n"),
                  F.sum("_v").alias("v")))
    w = (Window.partitionBy("user_id").orderBy("day")
         .rangeBetween(-6, 0))
    return (daily.select(
        "user_id", "day",
        F.sum("n").over(w).alias("n_7d"),
        F.sum("v").over(w).cast("double").alias("value_7d"))
        .orderBy("user_id", "day"))


def q49_rate_anomalies(spark, sf_dir):
    """Event-rate anomaly detection (the monitoring pass over an
    ingest feed): hourly event counts per type z-scored against the
    TRAILING 24 hours (RANGE frame, current hour excluded — a ROWS
    frame would silently shrink the baseline across gaps); hours with
    fewer than 12 baseline hours emit NULL z (insufficient history),
    as does a zero-variance baseline — both spelled identically in
    the oracle so the three-valued logic is cross-engine checked.

    Baseline semantics (deliberate): the hourly frame contains only
    hours with >= 1 event, so the mean/stddev are over ACTIVE hours in
    the trailing window — zero-event hours are excluded, not
    zero-filled.  For bursty types this biases the baseline high
    (spikes after quiet periods under-score); zero-filling would need
    a sequence+explode densification per type and a matching oracle
    respelling, deferred because the oracle text is frozen."""
    from ollie_spark.spark.temporal import epoch_us
    hour_us = 3_600_000_000
    ev = _t(spark, sf_dir, "events")
    hourly = (ev.select("event_type",
                        (epoch_us("ts") / hour_us).cast("long")
                        .alias("hr"))
              .groupBy("event_type", "hr")
              .agg(F.count("*").alias("n")))
    w = (Window.partitionBy("event_type").orderBy("hr")
         .rangeBetween(-24, -1))
    base_n = F.count("n").over(w)
    mu = F.avg("n").over(w)
    sd = F.stddev_samp(F.col("n").cast("double")).over(w)
    z = F.when((base_n >= 12) & (sd > 0),
               F.round((F.col("n") - mu) / sd, 6))
    return (hourly.select("event_type", "hr", "n",
                          F.round(mu, 6).alias("baseline_mean"),
                          z.alias("zscore"))
            .orderBy("event_type", "hr"))


def q47_data_quality(spark, sf_dir):
    """Constraint-battery data validation (the Deequ-style gate a
    pipeline runs before promoting a table): per-check violation
    counts — primary-key uniqueness, referential integrity
    (lineitem.l_orderkey in orders), null checks, and value-range
    rules.  All of one table's row-level checks fold into ONE
    conditional-sum aggregation over ONE scan; the FK check is a
    broadcast-able anti-join; the per-check rows unpivot via stack()
    from the three 1-row frames, so the whole battery costs two scans
    + one join regardless of how many checks are registered."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    viol = lambda c: F.sum(c.cast("long"))  # noqa: E731
    oc = o.agg(
        (F.count("*") - F.countDistinct("o_orderkey"))
        .alias("orders_pk_dup"),
        viol(F.col("o_totalprice") <= 0).alias("orders_nonpos_price"),
        viol(F.col("o_orderdate").isNull()).alias("orders_null_date"))
    lc = li.agg(
        viol((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50))
        .alias("lineitem_qty_range"),
        viol(F.col("l_shipdate").isNull())
        .alias("lineitem_null_shipdate"))
    fk = (li.join(o, li["l_orderkey"] == o["o_orderkey"], "left_anti")
          .agg(F.count("*").alias("lineitem_fk_orphans")))
    checks = ("orders_pk_dup", "orders_nonpos_price",
              "orders_null_date", "lineitem_qty_range",
              "lineitem_null_shipdate", "lineitem_fk_orphans")
    stack = ", ".join(f"'{c}', {c}" for c in checks)
    return (oc.crossJoin(lc).crossJoin(fk)
            .select(F.expr(f"stack({len(checks)}, {stack}) "
                           "as (check_name, n_violations)"))
            .orderBy("check_name"))


_FUNNEL_STEPS = ("signup", "view", "purchase")


def q46_conversion_funnel(spark, sf_dir):
    """Ordered conversion funnel (signup -> view -> purchase, each
    step STRICTLY after the previous step's first completion): per
    step, the earliest qualifying time is a map-side-combining
    conditional MIN per user, and each later step joins the previous
    step's tiny (user, t) frame back onto the filtered event stream —
    never a per-user collect_list (a whale user's full history in one
    row) and never a window over the raw events.  Times compare in
    integer micros (epoch_us both engines)."""
    from ollie_spark.spark.materialize import materialize_once
    from ollie_spark.spark.temporal import epoch_us
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", epoch_us("ts").alias("us"))
    s1, s2, s3 = _FUNNEL_STEPS
    # each step frame feeds BOTH the next step's join and its own
    # count — materialize_once per step, or every count re-runs the
    # whole upstream cascade (multi-consumer rule, CLAUDE.md)
    t1 = materialize_once(
        ev.where(F.col("event_type") == s1)
        .groupBy("user_id").agg(F.min("us").alias("t1")))
    t2 = materialize_once(
        ev.where(F.col("event_type") == s2).join(t1, "user_id")
        .where(F.col("us") > F.col("t1"))
        .groupBy("user_id").agg(F.min("us").alias("t2")))
    t3 = (ev.where(F.col("event_type") == s3).join(t2, "user_id")
          .where(F.col("us") > F.col("t2"))
          .groupBy("user_id").agg(F.min("us").alias("t3")))
    counts = (t1.agg(F.count("*").alias("n_step1"))
              .crossJoin(t2.agg(F.count("*").alias("n_step2")))
              .crossJoin(t3.agg(F.count("*").alias("n_step3"))))
    return counts.select(
        "n_step1", "n_step2", "n_step3",
        F.round(F.col("n_step2") / F.col("n_step1"), 6).alias("rate12"),
        F.round(F.col("n_step3") / F.col("n_step1"), 6).alias("rate13"))


_BM25_QUERY = ("dup", "query", "join")  # rare + common discriminators


def q43_bm25_search(spark, sf_dir):
    """BM25 ranked retrieval (ollie_spark.spark.textops.bm25_search):
    top-20 documents for a fixed query over the corpus — Okapi BM25
    with the non-negative Lucene idf; token explode filtered to the
    query terms BEFORE the tf shuffle, df + (N, avgdl) broadcast,
    TakeOrdered on the rounded score with a doc_id tie-break."""
    from ollie_spark.spark.textops import bm25_search
    return bm25_search(_t(spark, sf_dir, "documents"), _BM25_QUERY)


def q40_session_stats(spark, sf_dir):
    """Per-user session aggregates via Spark's NATIVE session_window
    (the streaming-capable gap-merge operator).  The merge is
    end-INCLUSIVE (an event at exactly window-end extends the session,
    i.e. a new session only when the gap is strictly > gap — same rule
    as q37's sessionize; pinned by a boundary test) — the oracle spells
    the rule independently as a lag/running-sum grouping, so the native
    operator's merge semantics are cross-engine checked."""
    from ollie_spark.spark.temporal import session_stats
    return (session_stats(_t(spark, sf_dir, "events"))
            .orderBy("user_id", "session_start_us"))


def q41_tumbling_rollup(spark, sf_dir):
    """Fixed event-time windows (native window()): epoch-aligned
    1-hour buckets per event type; the oracle recomputes the bucket
    with integer floor division over epoch micros."""
    from ollie_spark.spark.temporal import tumbling_rollup
    return (tumbling_rollup(_t(spark, sf_dir, "events"))
            .orderBy("window_start_us", "event_type"))


def q42_hopping_rollup(spark, sf_dir):
    """Hopping windows (1h window / 30min slide): every event lands in
    exactly window/slide = 2 buckets; the oracle materializes the two
    bucket assignments with a UNION ALL, checking Spark's internal
    window expansion."""
    from ollie_spark.spark.temporal import hopping_rollup
    return (hopping_rollup(_t(spark, sf_dir, "events"))
            .orderBy("window_start_us", "event_type"))


# ------------------------------------------- KG queries (no SQL oracle)

def kg_extract_mentions(spark, sf_dir):
    from ollie_spark.spark.corpus import corpus
    from ollie_spark.spark.pipeline import run_extraction
    n_docs = _t(spark, sf_dir, "documents").count()
    docs = corpus(spark, n_docs, seed=42)
    return run_extraction(docs).select(
        "doc_id", "span_idx", "arg1_text", "rel_text", "arg2_text",
        "conf")


def kg_graph_edges(spark, sf_dir):
    from ollie_spark.spark.corpus import corpus
    from ollie_spark.spark.linking import canonicalize
    from ollie_spark.spark.pipeline import run_extraction
    n_docs = min(_t(spark, sf_dir, "documents").count(), 2000)
    mentions = run_extraction(corpus(spark, n_docs, seed=42))
    _, _, edges = canonicalize(mentions)
    return edges.select("src_node", "rel", "dst_node", "weight")


def kg_pagerank(spark, sf_dir):
    """Weighted PageRank over the constructed KG
    (ollie_spark.spark.graph_analytics.pagerank): entity importance
    for ranking query results / canonical-label choice.  Iterative
    power iteration with per-round checkpointing (plan cannot grow
    with rounds), dangling mass folded back uniformly.  No SQL oracle
    (iterative float fixpoint); correctness is pinned by the
    independent Python power-iteration model in
    tests/test_graph_analytics.py on a crafted graph with dangling /
    parallel / weighted edges."""
    from ollie_spark.spark.graph_analytics import pagerank
    edges = kg_graph_edges(spark, sf_dir)
    return (pagerank(edges)
            .select("node", F.round("rank", 6).alias("rank"))
            .orderBy(F.desc("rank"), "node"))


def kg_training_pairs(spark, sf_dir):
    """KG-embedding training pairs
    (ollie_spark.spark.graph_analytics.kg_training_pairs): every
    positive triple of the constructed KG plus one deterministic
    md5-bucket corrupted negative, with corruptions colliding with a
    true triple FILTERED (false negatives poison embedding training).
    No driver SQL oracle (edges aren't a driver table), but the whole
    corruption is recomputed end-to-end in DuckDB over dumped triples
    in tests/test_graph_analytics.py (exact equality)."""
    from ollie_spark.spark.graph_analytics import \
        kg_training_pairs as _pairs
    return (_pairs(kg_graph_edges(spark, sf_dir))
            .orderBy("label", "src", "rel", "dst"))


def kg_media_features(spark, sf_dir):
    """Multimodal plumbing: media spans -> decode (deterministic stub)
    -> typed metadata + embeddings -> ANN cells."""
    from ollie_spark.spark.corpus import corpus
    from ollie_spark.spark.multimodal import (extract_media_features,
                                              media_ann_buckets,
                                              media_spans)
    n_docs = _t(spark, sf_dir, "documents").count()
    feats = extract_media_features(
        media_spans(corpus(spark, n_docs, seed=42)))
    # bits pinned to 4 here ONLY: this query's row set is a recorded
    # driver baseline; the library default auto-sizes from corpus size
    return media_ann_buckets(feats, bits=4).select(
        "doc_id", "span_idx", "kind", "media_ref", "width", "height",
        "duration_ms", "n_frames", "cell")


def kg_serialized_roundtrip(spark, sf_dir):
    """--serialized ingestion (reference OpenParse.scala:298-307):
    corpus sentences -> graph pickles -> run_extraction_serialized.
    Exercises serialize/deserialize round-trip + the pre-parsed
    pipeline end-to-end (rows-only check; non-SQL-expressible)."""
    from ollie_spark.spark.corpus import corpus
    from ollie_spark.spark.pipeline import (run_extraction_serialized,
                                            sentences)
    n_docs = min(_t(spark, sf_dir, "documents").count(), 500)
    sents = sentences(corpus(spark, n_docs, seed=42))

    def ser(batches):
        from ollie_spark.spark.synth import parse_text
        for pdf in batches:
            graphs = []
            for t in pdf["text"]:
                g = parse_text(t)
                graphs.append(g.serialize() if g is not None else None)
            yield pdf.assign(graph=graphs)[
                ["doc_id", "span_idx", "graph", "text"]]

    # text travels WITH the pickle: the graph serialization encodes
    # nodes only, and synthetic graphs don't cover every surface token,
    # so without the original text the sentence-level features would
    # drift from the direct path (cross-path equality is pinned by
    # test_kg_serialized_roundtrip_equals_direct_path)
    gdf = sents.mapInPandas(
        ser, "doc_id string, span_idx int, graph string, text string") \
        .where(F.col("graph").isNotNull())
    return run_extraction_serialized(gdf, text_col="text").select(
        "doc_id", "span_idx", "arg1_text", "rel_text", "arg2_text",
        "conf")


def kg_nary(spark, sf_dir):
    from ollie_spark.spark.corpus import corpus
    from ollie_spark.spark.nary import nary_extractions
    from ollie_spark.spark.pipeline import run_extraction
    n_docs = _t(spark, sf_dir, "documents").count()
    mentions = run_extraction(corpus(spark, n_docs, seed=42))
    return nary_extractions(mentions).select(
        "doc_id", "span_idx", "arg1_text", "rel_base", "n")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_pricing_summary": q01_pricing_summary,
        "q02_top_customers": q02_top_customers,
        "q03_region_rollup": q03_region_rollup,
        "q04_frequent_parts_semijoin": q04_frequent_parts_semijoin,
        "q05_diverse_suppliers": q05_diverse_suppliers,
        "q06_topk_orders": q06_topk_orders,
        "q07_running_window": q07_running_window,
        "q08_event_rollup": q08_event_rollup,
        "q09_priority_stats": q09_priority_stats,
        "q10_customers_without_orders": q10_customers_without_orders,
        "q11_dedup_exact": q11_dedup_exact,
        "q12_dedup_minhash": q12_dedup_minhash,
        "q13_dedup_simhash": q13_dedup_simhash,
        "q14_ngram_jaccard_pairs": q14_ngram_jaccard_pairs,
        "q15_text_quality": q15_text_quality,
        "q16_token_count": q16_token_count,
        "q17_doc_fingerprint": q17_doc_fingerprint,
        "q18_ann_cosine_topk": q18_ann_cosine_topk,
        "q19_ivf_bucketed_ann": q19_ivf_bucketed_ann,
        "q20_monthly_order_trend": q20_monthly_order_trend,
        "q21_embedding_neardup": q21_embedding_neardup,
        "q22_ann_multiprobe": q22_ann_multiprobe,
        "q23_lang_id": q23_lang_id,
        "q24_stratified_hash_sample": q24_stratified_hash_sample,
        "q25_neardup_prune": q25_neardup_prune,
        "q26_corpus_term_stats": q26_corpus_term_stats,
        "q27_decontaminate": q27_decontaminate,
        "q28_repetition_signals": q28_repetition_signals,
        "q29_tfidf_keywords": q29_tfidf_keywords,
        "q30_curation_funnel": q30_curation_funnel,
        "q31_pii_scrub": q31_pii_scrub,
        "q32_mixture_weights": q32_mixture_weights,
        "q33_pack_shards": q33_pack_shards,
        "q34_line_dedup": q34_line_dedup,
        "q35_dup_spans": q35_dup_spans,
        "q36_leakage_safe_split": q36_leakage_safe_split,
        "q37_sessionize": q37_sessionize,
        "q38_asof_purchase": q38_asof_purchase,
        "q39_json_props": q39_json_props,
        "q40_session_stats": q40_session_stats,
        "q41_tumbling_rollup": q41_tumbling_rollup,
        "q42_hopping_rollup": q42_hopping_rollup,
        "q43_bm25_search": q43_bm25_search,
        "q44_value_percentiles": q44_value_percentiles,
        "q45_cohort_retention": q45_cohort_retention,
        "q46_conversion_funnel": q46_conversion_funnel,
        "q47_data_quality": q47_data_quality,
        "q48_rolling_daily": q48_rolling_daily,
        "q49_rate_anomalies": q49_rate_anomalies,
        "kg_extract_mentions": kg_extract_mentions,
        "kg_graph_edges": kg_graph_edges,
        "kg_pagerank": kg_pagerank,
        "kg_training_pairs": kg_training_pairs,
        "kg_media_features": kg_media_features,
        "kg_nary": kg_nary,
        "kg_serialized_roundtrip": kg_serialized_roundtrip,
    }


def oracle_sql() -> dict[str, str]:
    seeds = _MINHASH_SEEDS
    mh = {f"mh{k}": (
        f"list_min(list_transform("
        f"  list_transform(range(0, greatest(len(string_split(text,' '))-3,0)+1),"
        f"    i -> array_to_string(string_split(text,' ')[i+1:i+3], ' ')),"
        f"  s -> md5(s || '#{seeds[k]}')))") for k in range(4)}
    # the oracle mirrors minhash_band_pairs' degenerate-band cap
    # (interpolated from DEFAULT_MAX_BAND_BUCKET so the two engines can
    # never silently desynchronize) so Spark and DuckDB agree at ANY
    # scale, not just where no bucket exceeds the cap
    banded = (
        "WITH d AS (SELECT doc_id, "
        + ", ".join(f"{v} AS mh{k}" for k, v in
                    ((k, mh[f'mh{k}']) for k in range(4)))
        + " FROM documents), "
        "banded AS ("
        "  SELECT doc_id, band_key FROM ("
        "    SELECT doc_id, mh0 || '|' || mh1 AS band_key FROM d"
        "    UNION ALL"
        "    SELECT doc_id, mh2 || '|' || mh3 AS band_key FROM d)"
        f"  QUALIFY COUNT(*) OVER (PARTITION BY band_key) <= {_MAX_BAND})")
    simhash_bits = " || ".join(
        f"(CASE WHEN list_sum(list_transform(words, w -> CASE WHEN "
        f"substr(md5(w), {i + 1}, 1) IN "
        f"('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) >= 0 "
        f"THEN '1' ELSE '0' END)" for i in range(16))
    cos = ("list_sum(list_transform(list_zip(a.emb, q.qemb), "
           "x -> x[1]*x[2])) / "
           "(sqrt(list_sum(list_transform(a.emb, x -> x*x))) * "
           "sqrt(list_sum(list_transform(q.qemb, x -> x*x))))")
    cos_ab = ("list_sum(list_transform(list_zip(a.emb, b.emb), "
              "x -> x[1]*x[2])) / "
              "(sqrt(list_sum(list_transform(a.emb, x -> x*x))) * "
              "sqrt(list_sum(list_transform(b.emb, x -> x*x))))")

    def _bit(i, flip=False):
        hi, lo = ("'0'", "'1'") if flip else ("'1'", "'0'")
        return f"(CASE WHEN emb[{i + 1}] >= 0 THEN {hi} ELSE {lo} END)"

    from ollie_spark.spark.textops import lang_id_oracle_sql
    _lang_case = lang_id_oracle_sql("text")
    from ollie_spark.spark.textops import (STRATIFIED_DEFAULT_RATE,
                                           STRATIFIED_RATES,
                                           rate_to_hex_threshold)
    _strat_case = ("CASE " + " ".join(
        f"WHEN lang = '{s}' THEN '{rate_to_hex_threshold(r)}'"
        for s, r in sorted(STRATIFIED_RATES.items()))
        + f" ELSE '{rate_to_hex_threshold(STRATIFIED_DEFAULT_RATE)}' END")
    from ollie_spark.spark.textops import (DECONTAM_BENCH_MOD as
                                           _BENCH_MOD,
                                           DECONTAM_NGRAM as _NG)
    _sh8 = (f"list_transform("
            f"range(0, greatest(len(string_split(text,' '))-{_NG},0)+1),"
            f" i -> array_to_string("
            f"string_split(text,' ')[i+1:i+{_NG}], ' '))")
    from ollie_spark.spark.textops import (REPETITION_DUP5_MAX as _REP5,
                                           REPETITION_TOP2_MAX as _REP2,
                                           TFIDF_TOP_K as _TFIDF_K)
    from ollie_spark.spark.textops import (MIXTURE_MAX_WEIGHT as _MIX_MAX,
                                           PII_PATTERNS as _PII,
                                           PII_PLANT_DOMAIN as _PII_DOM,
                                           SHARD_TOKEN_BUDGET as _SHARD_B)
    from ollie_spark.spark.textops import (BOILERPLATE_PLANT as _BP,
                                           DUPSPAN_NGRAM as _DSN,
                                           LINE_DUP_MIN as _LDM,
                                           SPLIT_FRACTIONS as _SPF,
                                           SPLIT_PAD_W as _SPW)
    # q36 split CASE from the cumulative fractions; the md5 input is
    # the lpad-ed representative, exactly what Spark's component
    # labels are (lexicographic min == numeric min at fixed width)
    _acc, _cuts = 0.0, []
    for _nm, _fr in _SPF:
        _acc += _fr
        _cuts.append((_nm, rate_to_hex_threshold(_acc)))
    _split_case = ("CASE " + " ".join(
        f"WHEN substr(md5(lpad(CAST(rep AS VARCHAR), {_SPW}, '0')), "
        f"1, 4) < '{thr}' THEN '{nm}'" for nm, thr in _cuts)
        + " ELSE 'train' END")
    # q34 augmentation mirrors plant_boilerplate's when-chain append
    # order exactly; the planted lines contain no quotes by
    # construction.  NULL text propagates through || in both engines.
    _plant = "text" + "".join(
        f" || CASE WHEN doc_id % {mod} = 0 THEN chr(10) || '{line}'"
        f" ELSE '' END" for mod, line in _BP)
    # q35 span fragment: the _sh8 shape parameterized by DUPSPAN_NGRAM
    _dsh = (f"list_transform("
            f"range(0, greatest(len(string_split(text,' '))-{_DSN},0)+1),"
            f" i -> array_to_string("
            f"string_split(text,' ')[i+1:i+{_DSN}], ' '))")
    # the q31 regexes interpolate VERBATIM from PII_PATTERNS (they are
    # the RE2-compatible subset by construction, and contain no quotes)
    _pii_counts = ", ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT)"
        f" AS n_{kind}" for kind, pat, _ in _PII)
    _pii_clean = "text"
    for _kind, _pat, _repl in _PII:
        _pii_clean = (f"regexp_replace({_pii_clean}, '{_pat}', "
                      f"'{_repl}', 'g')")

    base_cell = " || ".join(_bit(i) for i in range(4))
    # the vector's own cell + its 4 Hamming-1 flips (multi-probe set)
    probe_union = " UNION ALL ".join(
        "SELECT vec_id, emb, "
        + " || ".join(_bit(i, flip=(i == j)) for i in range(4))
        + " AS probe FROM c"
        for j in (-1, 0, 1, 2, 3))
    return {
        "q01_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                       AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
                       AS DOUBLE) AS sum_base_price,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                        * (CAST(1 AS DECIMAL(18,4))
                           - CAST(l_discount AS DECIMAL(18,4))))
                       AS DOUBLE) AS sum_disc_price,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1995-09-01'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus""",
        "q02_top_customers": """
            SELECT CAST(c.c_custkey AS BIGINT) AS c_custkey, c.c_name,
                   r.revenue, r.n_orders
            FROM (SELECT o_custkey,
                         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                             AS DOUBLE) AS revenue,
                         COUNT(*) AS n_orders
                  FROM orders GROUP BY o_custkey) r
            JOIN customer c ON r.o_custkey = c.c_custkey
            ORDER BY r.revenue DESC, c_custkey
            LIMIT 10""",
        "q03_region_rollup": """
            SELECT r.r_name AS region, n.n_name AS nation,
                   COUNT(*) AS n_customers,
                   CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
                       AS total_acctbal
            FROM customer c
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY region, nation ORDER BY region, nation""",
        "q04_frequent_parts_semijoin": """
            SELECT l_partkey, COUNT(*) AS n_lines,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                       AS total_qty
            FROM lineitem
            WHERE l_partkey IN (
                SELECT l_partkey FROM lineitem
                GROUP BY l_partkey HAVING COUNT(*) >= 8)
            GROUP BY l_partkey ORDER BY l_partkey""",
        "q05_diverse_suppliers": """
            SELECT l_partkey, COUNT(DISTINCT l_suppkey) AS n_suppliers,
                   COUNT(*) AS n_lines
            FROM lineitem GROUP BY l_partkey
            HAVING COUNT(DISTINCT l_suppkey) >= 3
            ORDER BY l_partkey""",
        "q06_topk_orders": """
            SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
            FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""",
        "q07_running_window": """
            SELECT event_id, user_id, rn, running_value FROM (
                SELECT event_id, user_id,
                       ROW_NUMBER() OVER w AS rn,
                       CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w
                           AS DOUBLE) AS running_value
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING))
            WHERE rn <= 20 ORDER BY user_id, rn""",
        "q08_event_rollup": """
            SELECT user_id, event_type, COUNT(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                       AS total_value
            FROM events GROUP BY user_id, event_type
            HAVING COUNT(*) >= 2 ORDER BY user_id, event_type""",
        "q09_priority_stats": """
            SELECT o_orderpriority, COUNT(*) AS n_orders,
                   COUNT(DISTINCT o_custkey) AS n_customers,
                   MIN(o_orderdate) AS first_order,
                   MAX(o_orderdate) AS last_order
            FROM orders GROUP BY o_orderpriority
            ORDER BY o_orderpriority""",
        "q10_customers_without_orders": """
            SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_mktsegment
            FROM customer
            WHERE c_custkey NOT IN (SELECT DISTINCT o_custkey FROM orders)
            ORDER BY c_custkey""",
        "q11_dedup_exact": """
            SELECT lang, COUNT(*) AS n_docs,
                   COUNT(DISTINCT md5(text)) AS n_distinct
            FROM documents GROUP BY lang ORDER BY lang""",
        "q12_dedup_minhash": banded + """
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a JOIN banded b USING (band_key)
            WHERE a.doc_id < b.doc_id
            GROUP BY doc_a, doc_b
            ORDER BY doc_a, doc_b""",
        "q13_dedup_simhash": f"""
            WITH s AS (
                SELECT lang,
                       {simhash_bits} AS simhash
                FROM (SELECT lang,
                             list_distinct(string_split(text, ' '))
                                 AS words
                      FROM documents))
            SELECT lang, simhash, COUNT(*) AS n FROM s
            GROUP BY lang, simhash HAVING COUNT(*) >= 2
            ORDER BY lang, simhash""",
        # mirrors ngram_jaccard_pairs' degenerate-block cap (QUALIFY on
        # the (lang, tc) block size, constant interpolated from
        # DEFAULT_MAX_JACCARD_BLOCK) so both engines agree at any scale
        "q14_ngram_jaccard_pairs": f"""
            WITH base AS (
                SELECT doc_id, lang,
                       list_distinct(string_split(text, ' ')) AS toks,
                       len(string_split(text, ' ')) AS tc
                FROM documents
                QUALIFY COUNT(*) OVER (PARTITION BY lang,
                    len(string_split(text, ' '))) <= {_MAX_BLOCK})
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                         / len(list_distinct(list_concat(a.toks, b.toks))),
                         4) AS jaccard
            FROM base a JOIN base b
              ON a.lang = b.lang AND a.tc = b.tc AND a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.8
            ORDER BY doc_a, doc_b""",
        "q15_text_quality": """
            SELECT doc_id, lang,
                   len(string_split(text, ' ')) AS n_tokens,
                   ROUND(CAST(len(list_filter(string_split(text, ' '),
                        w -> w IN ('the','a','of','and','to','in','is',
                                   'it'))) AS DOUBLE)
                        / len(string_split(text, ' ')), 4)
                       AS stopword_ratio,
                   ROUND(CAST(length(text) - len(string_split(text, ' '))
                              + 1 AS DOUBLE)
                         / len(string_split(text, ' ')), 4)
                       AS avg_word_len,
                   CASE WHEN CAST(len(list_filter(string_split(text, ' '),
                        w -> w IN ('the','a','of','and','to','in','is',
                                   'it'))) AS DOUBLE)
                        / len(string_split(text, ' ')) > 0.05 THEN 'high'
                        WHEN len(string_split(text, ' ')) >= 40
                            THEN 'medium'
                        ELSE 'low' END AS quality
            FROM documents ORDER BY doc_id""",
        "q16_token_count": """
            SELECT source, COUNT(*) AS n_docs,
                   CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                       AS ws_tokens,
                   CAST(SUM(list_sum(list_transform(string_split(text, ' '),
                       w -> (length(w) + 3) // 4))) AS BIGINT)
                       AS subword_tokens
            FROM documents GROUP BY source ORDER BY source""",
        "q17_doc_fingerprint": """
            SELECT doc_id,
                   list_min(list_transform(
                       list_transform(
                           range(0, greatest(len(string_split(text,' '))-5,
                                             0)+1),
                           i -> array_to_string(
                               string_split(text,' ')[i+1:i+5], ' ')),
                       g -> md5(g))) AS fingerprint
            FROM documents ORDER BY doc_id""",
        "q18_ann_cosine_topk": f"""
            WITH e AS (SELECT vec_id,
                              list_transform(embedding,
                                             x -> CAST(x AS DOUBLE)) AS emb
                       FROM embeddings),
                 q AS (SELECT emb AS qemb FROM e WHERE vec_id = 0)
            SELECT a.vec_id, ROUND({cos}, 4) AS cosine
            FROM e a, q
            WHERE a.vec_id != 0
            ORDER BY cosine DESC, a.vec_id LIMIT 10""",
        "q19_ivf_bucketed_ann": f"""
            WITH e AS (SELECT vec_id,
                              list_transform(embedding,
                                             x -> CAST(x AS DOUBLE)) AS emb
                       FROM embeddings),
                 c AS (SELECT vec_id, emb,
                              (CASE WHEN emb[1] >= 0 THEN '1' ELSE '0' END)
                              || (CASE WHEN emb[2] >= 0 THEN '1' ELSE '0'
                                  END)
                              || (CASE WHEN emb[3] >= 0 THEN '1' ELSE '0'
                                  END)
                              || (CASE WHEN emb[4] >= 0 THEN '1' ELSE '0'
                                  END) AS cell
                       FROM e),
                 q AS (SELECT emb AS qemb, cell AS qcell FROM c
                       WHERE vec_id = 0)
            SELECT a.vec_id, a.cell, ROUND({cos}, 4) AS cosine
            FROM c a, q
            WHERE a.cell = q.qcell AND a.vec_id != 0
            ORDER BY cosine DESC, a.vec_id LIMIT 5""",
        "q21_embedding_neardup": f"""
            WITH e AS (SELECT vec_id,
                              list_transform(embedding,
                                             x -> CAST(x AS DOUBLE)) AS emb
                       FROM embeddings),
                 c AS (SELECT vec_id, emb,
                              (CASE WHEN emb[1] >= 0 THEN '1' ELSE '0' END)
                              || (CASE WHEN emb[2] >= 0 THEN '1' ELSE '0'
                                  END)
                              || (CASE WHEN emb[3] >= 0 THEN '1' ELSE '0'
                                  END)
                              || (CASE WHEN emb[4] >= 0 THEN '1' ELSE '0'
                                  END) AS cell
                       FROM e)
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   ROUND({cos_ab}, 4) AS cosine
            FROM c a JOIN c b USING (cell)
            WHERE a.vec_id < b.vec_id
              AND ROUND({cos_ab}, 4) >= 0.62
            ORDER BY vec_a, vec_b""",
        "q22_ann_multiprobe": f"""
            WITH e AS (SELECT vec_id,
                              list_transform(embedding,
                                             x -> CAST(x AS DOUBLE)) AS emb
                       FROM embeddings),
                 c AS (SELECT vec_id, emb, {base_cell} AS cell FROM e),
                 p AS ({probe_union})
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   ROUND({cos_ab}, 4) AS cosine
            FROM p a JOIN c b ON a.probe = b.cell
            WHERE a.vec_id < b.vec_id
              AND ROUND({cos_ab}, 4) >= 0.5
            ORDER BY vec_a, vec_b""",
        "q20_monthly_order_trend": """
            SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
                       AS month,
                   COUNT(*) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                       AS revenue
            FROM orders GROUP BY month ORDER BY month""",
        "q23_lang_id": f"""
            SELECT lang, {_lang_case} AS pred_lang, COUNT(*) AS n
            FROM documents
            GROUP BY lang, pred_lang
            ORDER BY lang, pred_lang""",
        # thresholds interpolated from textops.STRATIFIED_RATES via the
        # same rate_to_hex_threshold, so both engines apply the
        # identical md5-prefix cutoff (lexicographic order on fixed-
        # width lowercase hex == numeric order)
        "q24_stratified_hash_sample": f"""
            SELECT doc_id, lang FROM documents
            WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                  < ({_strat_case})
            ORDER BY doc_id""",
        "q25_neardup_prune": banded + """
            SELECT lang, COUNT(*) AS n_kept FROM documents
            WHERE doc_id NOT IN (
                SELECT DISTINCT b.doc_id
                FROM banded a JOIN banded b USING (band_key)
                WHERE a.doc_id < b.doc_id)
            GROUP BY lang ORDER BY lang""",
        "q26_corpus_term_stats": """
            WITH n AS (SELECT COUNT(*) AS total FROM documents),
            t AS (SELECT unnest(list_distinct(string_split(text, ' ')))
                      AS term
                  FROM documents)
            SELECT term, COUNT(*) AS df,
                   ROUND(ln(CAST(n.total AS DOUBLE) / COUNT(*)), 4)
                       AS idf
            FROM t, n WHERE term <> ''
            GROUP BY term, n.total
            ORDER BY df DESC, term LIMIT 20""",
        # 8-gram spelling mirrors word_shingles(text, 8) exactly (the
        # same slice convention the q12 minhash oracle pins for n=3);
        # benchmark slice + n interpolated from the shared constants
        "q27_decontaminate": f"""
            WITH bench AS (
                SELECT DISTINCT unnest({_sh8}) AS sh
                FROM documents WHERE doc_id % {_BENCH_MOD} = 0),
            cand AS (
                SELECT doc_id, unnest({_sh8}) AS sh
                FROM documents WHERE doc_id % {_BENCH_MOD} <> 0)
            SELECT DISTINCT doc_id FROM cand JOIN bench USING (sh)
            ORDER BY doc_id""",
        # shingle spelling mirrors word_shingles(text, n) (the q12/q27
        # slice convention); thresholds interpolated from
        # textops.REPETITION_TOP2_MAX / _DUP5_MAX
        "q28_repetition_signals": f"""
            WITH sh AS (
                -- the CASE mirrors word_shingles' NULL guard: NULL
                -- text -> NULL shingles (DuckDB's greatest() skips
                -- NULLs, so the raw expression would emit a phantom
                -- shingle for NULL text)
                SELECT doc_id,
                       len(string_split(text, ' ')) AS n_words,
                       CASE WHEN text IS NULL THEN NULL ELSE
                         list_transform(
                           range(0, greatest(
                               len(string_split(text,' '))-2,0)+1),
                           i -> array_to_string(
                               string_split(text,' ')[i+1:i+2], ' '))
                       END AS s2,
                       CASE WHEN text IS NULL THEN NULL ELSE
                         list_transform(
                           range(0, greatest(
                               len(string_split(text,' '))-5,0)+1),
                           i -> array_to_string(
                               string_split(text,' ')[i+1:i+5], ' '))
                       END AS s5
                FROM documents),
            t2 AS (SELECT doc_id, MAX(c) AS top2 FROM (
                       SELECT doc_id, g, COUNT(*) AS c FROM (
                           SELECT doc_id, unnest(s2) AS g FROM sh)
                       GROUP BY doc_id, g)
                   GROUP BY doc_id),
            m AS (SELECT sh.doc_id, sh.n_words,
                         ROUND(2.0 * t2.top2 / sh.n_words, 4)
                             AS top_2gram_frac,
                         ROUND(1.0 - 1.0 * len(list_distinct(s5))
                                         / len(s5), 4)
                             AS dup_5gram_frac
                  FROM sh LEFT JOIN t2 USING (doc_id))
            SELECT doc_id, n_words, top_2gram_frac, dup_5gram_frac,
                   CAST((top_2gram_frac > {_REP2!r}
                         OR dup_5gram_frac > {_REP5!r}) AS INTEGER)
                       AS repetitive
            FROM m ORDER BY doc_id""",
        # top-k + tie-break mirror tfidf_keywords: rounded score DESC,
        # term ASC (deterministic across engines); k interpolated
        "q29_tfidf_keywords": f"""
            WITH toks AS (
                SELECT doc_id,
                       unnest(string_split(text, ' ')) AS term,
                       len(string_split(text, ' ')) AS n_toks
                FROM documents),
            tf AS (SELECT doc_id, term, n_toks, COUNT(*) AS c
                   FROM toks WHERE term <> ''
                   GROUP BY doc_id, term, n_toks),
            dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df
                      FROM toks WHERE term <> '' GROUP BY term),
            n AS (SELECT COUNT(*) AS nn FROM documents),
            scored AS (
                SELECT doc_id, term,
                       ROUND((1.0 * c / n_toks)
                             * ln(1.0 * n.nn / dfreq.df), 6) AS score
                FROM tf JOIN dfreq USING (term) CROSS JOIN n)
            SELECT doc_id, term, score,
                   CAST(row_number() OVER (
                       PARTITION BY doc_id
                       ORDER BY score DESC, term) AS BIGINT) AS kw_rank
            FROM scored
            QUALIFY kw_rank <= {_TFIDF_K}
            ORDER BY doc_id, kw_rank""",
        # the WHOLE curation composition, re-derived from the same
        # stage fragments the standalone oracles use (lang CASE,
        # q15 stopword rule, q28 repetition fractions, q12 banded
        # minhash over the stage-4 survivors, q27 8-gram shingles,
        # q24 md5-prefix cutoff).  The Spark side spells the lang
        # keep as `any marker score > 0`; this oracle spells
        # CASE <> 'und' — the equivalence of the two forms is
        # cross-checked on every run.
        "q30_curation_funnel": f"""
            WITH s0 AS (SELECT * FROM documents
                        WHERE doc_id % {_BENCH_MOD} <> 0),
            s1 AS (SELECT * FROM s0 WHERE ({_lang_case}) <> 'und'),
            s2 AS (SELECT * FROM s1 WHERE
                     CAST(len(list_filter(string_split(text, ' '),
                          w -> w IN ('the','a','of','and','to','in',
                                     'is','it'))) AS DOUBLE)
                       / len(string_split(text, ' ')) > 0.05
                     OR len(string_split(text, ' ')) >= 40),
            shx AS (SELECT doc_id,
                           len(string_split(text, ' ')) AS n_words,
                           list_transform(
                             range(0, greatest(
                                 len(string_split(text,' '))-2,0)+1),
                             i -> array_to_string(
                                 string_split(text,' ')[i+1:i+2], ' '))
                               AS g2,
                           list_transform(
                             range(0, greatest(
                                 len(string_split(text,' '))-5,0)+1),
                             i -> array_to_string(
                                 string_split(text,' ')[i+1:i+5], ' '))
                               AS g5
                    FROM s2),
            t2x AS (SELECT doc_id, MAX(c) AS top2 FROM (
                        SELECT doc_id, g, COUNT(*) AS c FROM (
                            SELECT doc_id, unnest(g2) AS g FROM shx)
                        GROUP BY doc_id, g)
                    GROUP BY doc_id),
            repx AS (SELECT shx.doc_id,
                            (ROUND(2.0 * t2x.top2 / shx.n_words, 4)
                                 > {_REP2!r}
                             OR ROUND(1.0 - 1.0 * len(list_distinct(g5))
                                          / len(g5), 4) > {_REP5!r})
                                AS repet
                     FROM shx JOIN t2x USING (doc_id)),
            s3 AS (SELECT s2.* FROM s2 JOIN repx USING (doc_id)
                   WHERE NOT repx.repet),
            s4 AS (SELECT * FROM s3
                   QUALIFY doc_id = MIN(doc_id)
                       OVER (PARTITION BY md5(text))),
            d AS (SELECT doc_id, {mh['mh0']} AS mh0, {mh['mh1']} AS mh1,
                         {mh['mh2']} AS mh2, {mh['mh3']} AS mh3
                  FROM s4),
            bandx AS (SELECT doc_id, band_key FROM (
                          SELECT doc_id, mh0 || '|' || mh1 AS band_key
                          FROM d
                          UNION ALL
                          SELECT doc_id, mh2 || '|' || mh3 AS band_key
                          FROM d)
                      QUALIFY COUNT(*) OVER (PARTITION BY band_key)
                          <= {_MAX_BAND}),
            s5 AS (SELECT * FROM s4 WHERE doc_id NOT IN (
                       SELECT DISTINCT b.doc_id
                       FROM bandx a JOIN bandx b USING (band_key)
                       WHERE a.doc_id < b.doc_id)),
            bsh AS (SELECT DISTINCT unnest({_sh8}) AS sh
                    FROM documents WHERE doc_id % {_BENCH_MOD} = 0),
            contam AS (SELECT DISTINCT doc_id FROM (
                           SELECT doc_id, unnest({_sh8}) AS sh FROM s5)
                       JOIN bsh USING (sh)),
            s6 AS (SELECT * FROM s5 WHERE doc_id NOT IN
                       (SELECT doc_id FROM contam)),
            s7 AS (SELECT * FROM s6 WHERE
                       substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                           < ({_strat_case}))
            SELECT * FROM (
                SELECT 0 AS stage_idx, 'ingest' AS stage,
                       COUNT(*) AS n_docs FROM s0
                UNION ALL SELECT 1, 'lang_id', COUNT(*) FROM s1
                UNION ALL SELECT 2, 'quality', COUNT(*) FROM s2
                UNION ALL SELECT 3, 'repetition', COUNT(*) FROM s3
                UNION ALL SELECT 4, 'exact_dedup', COUNT(*) FROM s4
                UNION ALL SELECT 5, 'neardup', COUNT(*) FROM s5
                UNION ALL SELECT 6, 'decontaminate', COUNT(*) FROM s6
                UNION ALL SELECT 7, 'sample', COUNT(*) FROM s7)
            ORDER BY stage_idx""",
        # augmentation + regex chain interpolated from plant_pii /
        # PII_PATTERNS so the two engines can never desynchronize;
        # counts are over the ORIGINAL (augmented) text, redaction
        # chains in declaration order — both mirrored exactly
        "q31_pii_scrub": f"""
            WITH aug AS (
                SELECT doc_id,
                       text || ' Contact user'
                            || CAST(doc_id AS VARCHAR)
                            || '@{_PII_DOM}'
                            || CASE WHEN doc_id % 2 = 0
                                 THEN ' or +1-555-' || lpad(CAST(
                                      doc_id % 10000 AS VARCHAR),
                                      4, '0')
                                 ELSE '' END
                            || CASE WHEN doc_id % 3 = 0
                                 THEN ' from 10.'
                                   || CAST(doc_id % 223 AS VARCHAR)
                                   || '.'
                                   || CAST(doc_id % 101 AS VARCHAR)
                                   || '.'
                                   || CAST(1 + doc_id % 254 AS VARCHAR)
                                 ELSE '' END AS text
                FROM documents)
            SELECT doc_id, {_pii_counts},
                   {_pii_clean} AS clean_text
            FROM aug ORDER BY doc_id""",
        "q32_mixture_weights": f"""
            WITH per AS (
                SELECT lang, COUNT(*) AS n_docs,
                       SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
                           AS n_tokens
                FROM documents GROUP BY lang),
            tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t,
                           COUNT(*) AS k FROM per)
            SELECT lang, n_docs, n_tokens,
                   ROUND(CAST(n_tokens AS DOUBLE) / t, 6)
                       AS natural_share,
                   ROUND(LEAST({_MIX_MAX!r}, (1.0 / k)
                         / (CAST(n_tokens AS DOUBLE) / t)), 6)
                       AS mix_weight
            FROM per CROSS JOIN tot ORDER BY lang""",
        # the oracle spells the NAIVE global cumsum (fine in DuckDB);
        # the Spark side is graded on producing the identical result
        # via the distributed two-level scan
        "q33_pack_shards": f"""
            WITH t AS (
                SELECT doc_id,
                       CAST(len(string_split(text, ' ')) AS BIGINT)
                           AS n_tokens
                FROM documents),
            c AS (SELECT doc_id, n_tokens,
                         SUM(n_tokens) OVER (ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
                  FROM t)
            SELECT doc_id, n_tokens,
                   CAST(cum_tokens AS BIGINT) AS cum_tokens,
                   CAST(FLOOR((cum_tokens - n_tokens)
                        / {_SHARD_B}) AS BIGINT) AS shard_id
            FROM c ORDER BY doc_id""",
        # the C4 line-dedup composition re-derived end-to-end: the
        # keep rule (empty-trim always kept, corpus count < threshold,
        # or first (doc_id, ln) occurrence) is spelled over windows
        # here because DuckDB runs at oracle scale; COALESCE mirrors
        # Spark's array_join('') when every line of a doc is dropped
        "q34_line_dedup": f"""
            WITH aug AS (SELECT doc_id, {_plant} AS text
                         FROM documents),
            lx AS (SELECT doc_id, u.ln AS ln, u.line AS line FROM (
                       SELECT doc_id,
                              unnest(list_transform(range(0, len(sp)),
                                  i -> {{'ln': i, 'line': sp[i+1]}}))
                                  AS u
                       FROM (SELECT doc_id,
                                    string_split(text, chr(10)) AS sp
                             FROM aug WHERE text IS NOT NULL))),
            fl AS (SELECT doc_id, ln, line,
                          (trim(line) = ''
                           OR COUNT(*) OVER (
                               PARTITION BY md5(trim(line))) < {_LDM}
                           OR ROW_NUMBER() OVER (
                               PARTITION BY md5(trim(line))
                               ORDER BY doc_id, ln) = 1) AS keep
                   FROM lx),
            agg AS (SELECT doc_id, COUNT(*) AS n_lines,
                           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END)
                                AS BIGINT) AS n_kept,
                           COALESCE(string_agg(
                               CASE WHEN keep THEN line END,
                               chr(10) ORDER BY ln), '') AS clean_text
                    FROM fl GROUP BY doc_id)
            SELECT d.doc_id, a.n_lines, a.n_kept, a.clean_text
            FROM documents d LEFT JOIN agg a USING (doc_id)
            ORDER BY d.doc_id""",
        "q35_dup_spans": f"""
            WITH sp AS (SELECT doc_id,
                               unnest(list_distinct({_dsh})) AS sh
                        FROM documents WHERE text IS NOT NULL),
            h AS (SELECT doc_id, md5(sh) AS hk FROM sp),
            sz AS (SELECT hk, COUNT(*) AS nd FROM h GROUP BY hk),
            per AS (SELECT doc_id, COUNT(*) AS n_spans,
                           CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0
                                    END) AS BIGINT) AS n_dup_spans
                    FROM h JOIN sz USING (hk) GROUP BY doc_id)
            SELECT d.doc_id, p.n_spans, p.n_dup_spans,
                   ROUND(1.0 * p.n_dup_spans / p.n_spans, 6)
                       AS dup_span_frac
            FROM documents d LEFT JOIN per p USING (doc_id)
            ORDER BY d.doc_id""",
        # independent recompute of the distributed CC path: transitive
        # reachability as a RECURSIVE CTE over the SAME capped banded
        # pair construction q12 uses; MIN(r) is the numeric spelling
        # of Spark's lexicographic min-label over lpad-ed ids
        "q36_leakage_safe_split":
        banded.replace("WITH ", "WITH RECURSIVE ", 1) + f"""
            , sym AS (SELECT DISTINCT a.doc_id AS id, b.doc_id AS nb
                      FROM banded a JOIN banded b USING (band_key)
                      WHERE a.doc_id <> b.doc_id),
            reach AS (
                SELECT doc_id AS id, doc_id AS r FROM documents
                UNION
                SELECT s.nb AS id, reach.r FROM reach
                JOIN sym s ON s.id = reach.id),
            rep AS (SELECT id AS doc_id, MIN(r) AS rep FROM reach
                    GROUP BY id)
            SELECT doc_id, CAST(rep AS BIGINT) AS rep_id,
                   {_split_case} AS split
            FROM rep ORDER BY doc_id""",
        # gap interpolated from temporal.SESSION_GAP_MINUTES; both
        # engines compare integer microseconds (epoch_us/unix_micros)
        # so boundary events are engine-independent
        "q37_sessionize": f"""
            WITH f AS (
                SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                       CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                              OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                                 > {_SESSION_GAP_US} THEN 1 ELSE 0
                       END AS new_s
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
            SELECT event_id, user_id, ts_us,
                   CAST(SUM(new_s) OVER (PARTITION BY user_id
                                         ORDER BY ts_us, event_id)
                        AS BIGINT) AS session_id
            FROM f ORDER BY event_id""",
        # DuckDB's IGNORE NULLS last_value over the same ROWS frame is
        # an independent spelling of the strictly-prior as-of rule
        "q38_asof_purchase": """
            SELECT event_id, user_id, event_type,
                   LAST_VALUE(CASE WHEN event_type = 'purchase'
                                   THEN value END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING)
                       AS last_purchase_value
            FROM events ORDER BY event_id""",
        # DuckDB's own JSON parser (json_extract_string) recomputes the
        # field Spark pulls with get_json_object — a cross-engine check
        # of the JSON-path semantics, not just the aggregate
        "q39_json_props": """
            SELECT event_type, COUNT(*) AS n_events,
                   CAST(SUM(CAST(TRUNC(CAST(json_extract_string(props,
                       '$.k') AS DOUBLE)) AS BIGINT)) AS BIGINT)
                       AS sum_k,
                   ROUND(AVG(CAST(TRUNC(CAST(json_extract_string(props,
                       '$.k') AS DOUBLE)) AS BIGINT)), 6) AS avg_k
            FROM events GROUP BY event_type ORDER BY event_type""",
        # independent lag/running-sum spelling of session_window's
        # merge rule: a window [t, t+gap) MERGES an event at exactly
        # t+gap (end-INCLUSIVE merge, pinned by
        # tests/test_temporal.py::test_session_stats_boundary), so a
        # new session starts strictly > gap; window end = last + gap
        "q40_session_stats": f"""
            WITH f AS (
                SELECT user_id, event_id, epoch_us(ts) AS us, value,
                       CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                              OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                                 > {_SESSION_GAP_US} THEN 1 ELSE 0
                       END AS new_s
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            s AS (SELECT user_id, us, value,
                         SUM(new_s) OVER (PARTITION BY user_id
                                          ORDER BY us, event_id) AS sid
                  FROM f)
            SELECT user_id, MIN(us) AS session_start_us,
                   MAX(us) + {_SESSION_GAP_US} AS session_end_us,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                       AS total_value
            FROM s GROUP BY user_id, sid
            ORDER BY user_id, session_start_us""",
        # tumbling bucket recomputed as integer floor division over
        # epoch micros (Spark's window() is epoch-aligned on the NTZ
        # wall clock)
        "q41_tumbling_rollup": f"""
            SELECT (epoch_us(ts) // {_HOUR_US}) * {_HOUR_US}
                       AS window_start_us,
                   event_type, COUNT(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                       AS total_value
            FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
        # hopping (1h/30m): each event belongs to exactly the slide-
        # aligned bucket containing it and the one slide earlier —
        # materialized via UNION ALL (valid because window = 2*slide)
        "q42_hopping_rollup": f"""
            WITH e AS (SELECT epoch_us(ts) AS us, event_type, value
                       FROM events),
            x AS (
                SELECT (us // {_HALF_HOUR_US}) * {_HALF_HOUR_US} AS ws,
                       event_type, value FROM e
                UNION ALL
                SELECT (us // {_HALF_HOUR_US}) * {_HALF_HOUR_US}
                           - {_HALF_HOUR_US} AS ws,
                       event_type, value FROM e)
            SELECT ws AS window_start_us, event_type,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                       AS total_value
            FROM x GROUP BY ws, event_type ORDER BY ws, event_type""",
        # Okapi BM25 with the Lucene idf, recomputed end-to-end
        # (k1/b/k and the query interpolated from the shared Python
        # constants); ordered by the ROUNDED score + doc_id so the
        # top-k cutoff cannot flip on sub-1e-6 float noise
        "q43_bm25_search": f"""
            WITH toks AS (
                SELECT doc_id,
                       unnest(string_split(text, ' ')) AS term,
                       len(string_split(text, ' ')) AS n_toks
                FROM documents),
            tf AS (SELECT doc_id, term, n_toks, COUNT(*) AS c
                   FROM toks WHERE term IN {_BM25_QUERY!r}
                   GROUP BY doc_id, term, n_toks),
            dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df
                      FROM toks WHERE term IN {_BM25_QUERY!r}
                      GROUP BY term),
            stats AS (SELECT COUNT(*) AS nn,
                             AVG(len(string_split(text, ' '))) AS avgdl
                      FROM documents),
            scored AS (
                SELECT doc_id,
                       ln((nn - df + 0.5) / (df + 0.5) + 1.0)
                         * c * ({_BM25_K1} + 1.0)
                         / (c + {_BM25_K1} * (1.0 - {_BM25_B}
                                + {_BM25_B} * n_toks / avgdl)) AS s
                FROM tf JOIN dfreq USING (term) CROSS JOIN stats)
            SELECT doc_id, ROUND(SUM(s), 6) AS bm25,
                   COUNT(*) AS n_terms_matched
            FROM scored GROUP BY doc_id
            ORDER BY bm25 DESC, doc_id LIMIT {_BM25_TOP_K}""",
        # quantile_cont is DuckDB's independent implementation of the
        # same interpolating exact-percentile definition F.percentile
        # uses — bit-identical, probed before rounding was added
        "q44_value_percentiles": """
            SELECT event_type, COUNT(*) AS n_events,
                   ROUND(quantile_cont(value, 0.5), 6) AS p50,
                   ROUND(quantile_cont(value, 0.9), 6) AS p90,
                   ROUND(quantile_cont(value, 0.99), 6) AS p99
            FROM events GROUP BY event_type ORDER BY event_type""",
        # per-user-per-day activity deduped first, so cohort size is
        # SUM(offset = 0) — mirrors the Spark no-countDistinct shape
        "q45_cohort_retention": """
            WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
                       FROM events),
            f AS (SELECT user_id, MIN(d) AS cohort_date FROM a
                  GROUP BY user_id),
            j AS (SELECT a.user_id, date_diff('day', f.cohort_date,
                                              a.d) AS o, f.cohort_date
                  FROM a JOIN f USING (user_id))
            SELECT cohort_date,
                   CAST(SUM(CASE WHEN o = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_users,
                   CAST(SUM(CASE WHEN o = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_d1,
                   CAST(SUM(CASE WHEN o = 7 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_d7,
                   ROUND(1.0 * SUM(CASE WHEN o = 1 THEN 1 ELSE 0 END)
                         / SUM(CASE WHEN o = 0 THEN 1 ELSE 0 END), 6)
                       AS ret_d1,
                   ROUND(1.0 * SUM(CASE WHEN o = 7 THEN 1 ELSE 0 END)
                         / SUM(CASE WHEN o = 0 THEN 1 ELSE 0 END), 6)
                       AS ret_d7
            FROM j GROUP BY cohort_date ORDER BY cohort_date""",
        # the same strictly-after conditional-min cascade, step names
        # interpolated from the shared tuple
        "q46_conversion_funnel": f"""
            WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
                       FROM events),
            s1 AS (SELECT user_id, MIN(us) AS t1 FROM e
                   WHERE event_type = '{_FUNNEL_STEPS[0]}'
                   GROUP BY user_id),
            s2 AS (SELECT e.user_id, MIN(us) AS t2
                   FROM e JOIN s1 USING (user_id)
                   WHERE event_type = '{_FUNNEL_STEPS[1]}' AND us > t1
                   GROUP BY e.user_id),
            s3 AS (SELECT e.user_id, MIN(us) AS t3
                   FROM e JOIN s2 USING (user_id)
                   WHERE event_type = '{_FUNNEL_STEPS[2]}' AND us > t2
                   GROUP BY e.user_id)
            SELECT (SELECT COUNT(*) FROM s1) AS n_step1,
                   (SELECT COUNT(*) FROM s2) AS n_step2,
                   (SELECT COUNT(*) FROM s3) AS n_step3,
                   ROUND(1.0 * (SELECT COUNT(*) FROM s2)
                         / (SELECT COUNT(*) FROM s1), 6) AS rate12,
                   ROUND(1.0 * (SELECT COUNT(*) FROM s3)
                         / (SELECT COUNT(*) FROM s1), 6) AS rate13""",
        # same battery recomputed with independent SQL spellings
        # (NOT EXISTS for the anti-join)
        "q47_data_quality": """
            WITH o AS (SELECT
                    COUNT(*) - COUNT(DISTINCT o_orderkey) AS pk_dup,
                    SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0
                        END) AS nonpos,
                    SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0
                        END) AS nulldate FROM orders),
            l AS (SELECT
                    SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                        THEN 1 ELSE 0 END) AS qtyrange,
                    SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0
                        END) AS nullship FROM lineitem),
            fk AS (SELECT COUNT(*) AS orphans FROM lineitem li
                   WHERE NOT EXISTS (SELECT 1 FROM orders o
                                     WHERE o.o_orderkey = li.l_orderkey))
            SELECT check_name, CAST(n_violations AS BIGINT)
                       AS n_violations
            FROM (
                SELECT 'orders_pk_dup' AS check_name,
                       pk_dup AS n_violations FROM o
                UNION ALL SELECT 'orders_nonpos_price', nonpos FROM o
                UNION ALL SELECT 'orders_null_date', nulldate FROM o
                UNION ALL SELECT 'lineitem_qty_range', qtyrange FROM l
                UNION ALL SELECT 'lineitem_null_shipdate', nullship
                          FROM l
                UNION ALL SELECT 'lineitem_fk_orphans', orphans FROM fk)
            ORDER BY check_name""",
        # same BIGINT day key and RANGE frame; DECIMAL sum cast DOUBLE
        # per the battery's bit-parity convention
        "q48_rolling_daily": """
            WITH daily AS (
                SELECT user_id, epoch_us(ts) // 86400000000 AS day,
                       COUNT(*) AS n,
                       SUM(CAST(value AS DECIMAL(18,4))) AS v
                FROM events GROUP BY user_id, day)
            SELECT user_id, day,
                   CAST(SUM(n) OVER w AS BIGINT) AS n_7d,
                   CAST(SUM(v) OVER w AS DOUBLE) AS value_7d
            FROM daily
            WINDOW w AS (PARTITION BY user_id ORDER BY day
                         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
            ORDER BY user_id, day""",
        # identical trailing-24h RANGE frame, current hour excluded;
        # the NULL rules (insufficient history, zero variance) are
        # spelled the same so three-valued logic is cross-checked
        "q49_rate_anomalies": """
            WITH hourly AS (
                SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
                       COUNT(*) AS n
                FROM events GROUP BY event_type, hr)
            SELECT event_type, hr, n,
                   ROUND(AVG(n) OVER w, 6) AS baseline_mean,
                   CASE WHEN COUNT(n) OVER w >= 12
                          AND STDDEV_SAMP(CAST(n AS DOUBLE)) OVER w > 0
                        THEN ROUND((n - AVG(n) OVER w)
                                   / STDDEV_SAMP(CAST(n AS DOUBLE))
                                     OVER w, 6)
                   END AS zscore
            FROM hourly
            WINDOW w AS (PARTITION BY event_type ORDER BY hr
                         RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING)
            ORDER BY event_type, hr""",
    }
