"""Physical-plan assertions: the optimizations SURVEY §4 promises must
actually appear in the executed plans."""

import __spark_entry__ as em

SF = "/root/testdata/sf0.001"


def _plan(spark, name):
    df = em.queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_and_column_pruning(spark):
    plan = _plan(spark, "q01_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan \
        or "PushedFilters: [" in plan
    # column pruning: p_retailprice et al. absent; ReadSchema is narrow
    assert "l_extendedprice" in plan
    assert "l_partkey" not in plan.split("ReadSchema")[1][:400]


def test_broadcast_join_for_dimensions(spark):
    plan = _plan(spark, "q03_region_rollup")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semi_join_is_broadcast(spark):
    plan = _plan(spark, "q04_frequent_parts_semijoin")
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan


def test_extraction_pipeline_is_shuffle_free(spark):
    from ollie_spark.spark.corpus import corpus
    from ollie_spark.spark.pipeline import run_extraction
    m = run_extraction(corpus(spark, 50, seed=42, partitions=2))
    plan = m._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_scoring_is_native_expression(spark):
    """The confidence score must be a JVM-side SQL expression (zip_with
    + aggregate over the broadcast weight literals), not a Python UDF."""
    from ollie_spark.spark.corpus import corpus
    from ollie_spark.spark.pipeline import run_extraction
    m = run_extraction(corpus(spark, 50, seed=42, partitions=2))
    plan = m._jdf.queryExecution().executedPlan().toString()
    assert "zip_with(features" in plan
    # exactly two python stages (corpus gen + extract), none for scoring
    assert plan.count("MapInPandas") == 2


def test_q12_band_join_reads_one_checkpointed_frame(spark):
    """Both sides of the minhash band self-join must scan the SAME
    materialized (checkpointed) banded frame: the signature pipeline
    runs once per document, not once per join side, and no minhash
    expression survives into the join plan (r4 materialize-once)."""
    plan = _plan(spark, "q12_dedup_minhash")
    assert plan.count("Scan ExistingRDD") == 2, \
        f"expected 2 checkpoint scans, plan:\n{plan}"
    assert "md5" not in plan, "signature pipeline leaked into join plan"
    assert "Window" not in plan, "band-cap window re-ran in the join plan"
    # (PLANS.md's formatted explain additionally shows both scans read
    # the same MapPartitionsRDD — one materialization, two readers)


def test_q14_jaccard_join_reads_one_checkpointed_frame(spark):
    """Same materialize-once contract for the Jaccard block self-join:
    both sides scan the checkpointed blocked frame; the tokenization
    runs once (the distinct-token arrays ARE in the checkpoint, so the
    join plan carries no split-of-text)."""
    plan = _plan(spark, "q14_ngram_jaccard_pairs")
    assert plan.count("Scan ExistingRDD") == 2, \
        f"expected 2 checkpoint scans, plan:\n{plan}"
    assert "split(text" not in plan, "tokenization leaked into join plan"


def test_linked_and_edges_plans_carry_no_normalization(spark):
    """r5 normalize-materialization contract: canonicalize's returned
    linked/edges frames must read the materialized _a1/_a2 columns —
    if the 3-regex normalize chain leaks back into their plans (the
    PushDownPredicate re-inlining trap), every downstream evaluation
    re-normalizes the full mention set (measured 20s/eval at 480k
    docs before the fix)."""
    from ollie_spark.spark.linking import canonicalize

    m = spark.createDataFrame(
        [("d1", 0, "The Cat", "chased", "a dog", 0.9, 0.9, "p")],
        "doc_id string, span_idx int, arg1_text string, rel_text "
        "string, arg2_text string, openparse_conf double, conf "
        "double, pattern string")
    linked, nodes, edges = canonicalize(m)
    for name, df in (("linked", linked), ("edges", edges)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "regexp_replace" not in plan, \
            f"normalization leaked back into the {name} plan:\n{plan}"


def test_pair_generator_sizing_carries_no_window(spark, monkeypatch):
    """r6 (judge item 1): the bucket/block cap's per-key sizing must be
    a map-side-combining groupBy + equi-join, never a window over the
    band key — a window colocates EVERY row of the most degenerate
    bucket on one task before the cap can drop it, exactly the failure
    the cap exists to prevent.  materialize_once is stubbed to identity
    inside materialize.cap_blocks (the one cap flow all three
    generators call) so the checkpoint cannot hide the sizing stage
    from the plan."""
    import ollie_spark.spark.linking as linking
    import ollie_spark.spark.materialize as materialize
    import ollie_spark.spark.textops as textops

    monkeypatch.setattr(materialize, "materialize_once", lambda df: df)

    docs = spark.createDataFrame(
        [("d1", "en", "a b c d e f"), ("d2", "en", "a b c d e g")],
        "doc_id string, lang string, text string")
    ents = spark.createDataFrame([("acme corp",), ("acme corporation",)],
                                 "norm string")
    # max cap of 1 forces every bucket over the cap, so the filter join
    # (and its groupBy sizing) stays in the returned plan — with the r7
    # identity-join skip, an uncapped-in-practice frame carries the
    # sizing only as an eager side job (still a groupBy, never a
    # window; the dropped==0 plans are covered by the next loop)
    frames = (
        textops.minhash_band_pairs(docs, max_bucket=1),
        textops.ngram_jaccard_pairs(docs, tc_bucket=16, max_block=1),
        linking.lsh_candidate_pairs(ents, max_bucket=1),
    )
    for df in frames:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan, \
            f"window-based bucket sizing returned:\n{plan}"
        assert "HashAggregate" in plan  # the groupBy sizing is present
    # dropped==0 short-circuit: the self-join reads the banded frame
    # directly, still with no window anywhere
    for df in (textops.minhash_band_pairs(docs),
               textops.ngram_jaccard_pairs(docs, tc_bucket=16),
               linking.lsh_candidate_pairs(ents)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan, \
            f"window-based bucket sizing returned:\n{plan}"


def test_whole_stage_codegen_on_relational(spark):
    """q01's final adaptive plan must run inside WholeStageCodegen
    stages (separate test, r6: the r5 normalization-plan test had
    accidentally absorbed these assertions into its own body, so they
    were skipped whenever the normalization asserts failed first)."""
    df = em.queries()["q01_pricing_summary"](spark, SF)
    df.collect()  # finalize the adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' marks WholeStageCodegen stages in the final AQE plan
    assert "*(" in plan
