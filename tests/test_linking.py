"""Entity linking, canonicalization, n-ary rollup, and
checkpoint/resume materialization tests."""

import pytest
from pyspark.sql import functions as F

from ollie_spark.spark.corpus import corpus
from ollie_spark.spark.linking import (canonicalize, connected_components,
                                       entity_mentions, lsh_candidate_pairs,
                                       minhash_signature, normalize_entity,
                                       salted_join)
from ollie_spark.spark.materialize import StageWriter, path_exists
from ollie_spark.spark.nary import nary_extractions
from ollie_spark.spark.pipeline import run_extraction


@pytest.fixture(scope="module")
def mentions(spark):
    return run_extraction(corpus(spark, 80, seed=42, partitions=4)).cache()


def test_normalize_entity(spark):
    df = spark.createDataFrame(
        [("The United States",), ("the united states",),
         ("  A  Big-Dog ",)], "text string")
    got = [r.n for r in
           df.select(normalize_entity(F.col("text")).alias("n")).collect()]
    assert got == ["united states", "united states", "big dog"]


def test_minhash_deterministic_and_local(spark):
    df = spark.createDataFrame([("barack obama",), ("barack obama",),
                                ("noah chen",)], "norm string")
    sigs = minhash_signature(df).collect()
    assert sigs[0].sig == sigs[1].sig
    assert sigs[0].sig != sigs[2].sig
    # plan must not shuffle: signature is a pure projection
    plan = minhash_signature(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_lsh_finds_near_duplicates(spark):
    ents = spark.createDataFrame(
        [("barack obama",), ("barack h obama",), ("noah chen",),
         ("acme corporation",), ("acme corp",)], "norm string")
    pairs = {(r.norm_a, r.norm_b) for r in
             lsh_candidate_pairs(ents, jaccard_threshold=0.3).collect()}
    assert ("barack h obama", "barack obama") in pairs
    assert not any("noah chen" in p for pr in pairs for p in pr)


def test_normalize_fused_regex_matches_legacy_chain(spark):
    """r5 perf: normalize_entity fuses punctuation-strip + whitespace
    collapse into one regex pass; it must be value-identical to the
    legacy two-pass chain on every input shape (unicode punctuation,
    tabs/newlines, leading determiners, all-junk strings)."""
    from pyspark.sql import functions as F
    from ollie_spark.spark.linking import DETERMINERS, normalize_entity

    def legacy(col):
        c = F.lower(col)
        c = F.regexp_replace(c, r"[^a-z0-9 ]", " ")
        c = F.regexp_replace(c, r"\s+", " ")
        c = F.trim(c)
        det = "|".join(DETERMINERS)
        c = F.regexp_replace(c, r"^(?:" + det + r") ", "")
        return F.trim(c)

    texts = ["The  Acme, Corp.!!", "  a\tdog\n", "£$%^", "", "the",
             "an apple — fruit", "O'Brien & Sons", "café au lait",
             "this THAT those", "x", "every 9th street", "木漢字",
             "a-b_c.d", "  the   the  thing  "]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    rows = df.select("t", normalize_entity(F.col("t")).alias("new"),
                     legacy(F.col("t")).alias("old")).collect()
    for r in rows:
        assert r.new == r.old, f"normalize drift on {r.t!r}: " \
                               f"{r.new!r} vs {r.old!r}"


def test_lsh_fused_metric_agrees_with_standalone(spark):
    """lsh_candidate_pairs reports the exact dropped-bucket count in
    metrics_out, counted off its own materialized band frame."""
    # 70 identical norms share every band bucket -> any cap < 70 drops
    # all 8 bands' buckets (one per band); distinct entities keep theirs
    ents = spark.createDataFrame(
        [("degenerate boilerplate entity",)] * 70
        + [(f"unique entity {i}",) for i in range(5)], "norm string")
    mo = {}
    pairs = lsh_candidate_pairs(ents, max_bucket=8, metrics_out=mo)
    pairs.count()
    assert mo["dropped_buckets"] == 8
    mo2 = {}
    lsh_candidate_pairs(ents, max_bucket=1000, metrics_out=mo2).count()
    assert mo2["dropped_buckets"] == 0


def test_canonicalize_reports_dropped_buckets(spark, mentions):
    """canonicalize threads metrics_out into the blocking stage: the
    dropped_buckets key lands alongside the stage timings."""
    from ollie_spark.spark.linking import canonicalize
    mo = {}
    linked, nodes, edges = canonicalize(mentions, metrics_out=mo)
    nodes.count()
    assert mo["dropped_buckets"] == 0
    assert "lsh_cc_sec" in mo and "canon_map_sec" in mo


def test_canonicalize_caches_out_collects_releasable_frames(spark,
                                                            mentions):
    """caches_out receives the two full-corpus cached frames (m_ann +
    canon) so long-lived callers can release them (r6, ADVICE): after
    unpersist the returned frames must still evaluate correctly (lazy
    recompute from lineage on the cluster path)."""
    caches = []
    linked, nodes, edges = canonicalize(mentions, caches_out=caches)
    assert len(caches) == 2
    n_edges = edges.count()
    for c in caches:
        c.unpersist()
    assert edges.count() == n_edges


def test_connected_components(spark):
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")],
        "norm_a string, norm_b string")
    verts = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("x",), ("y",), ("solo",)], "norm string")
    comp = {r.norm: r.component
            for r in connected_components(pairs, verts).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["x"] == comp["y"] == "x"
    assert comp["solo"] == "solo"


def test_connected_components_self_pair_vertex_gets_row(spark):
    """A degenerate self-pair (norm_a == norm_b) vertex is in the
    connected set (so not `isolated`) but has no src < dst edge — the
    union-find escape hatch must still emit a component row for it
    (r4 ADVICE fix: parent seeded from every connected vertex)."""
    pairs = spark.createDataFrame(
        [("loop", "loop"), ("a", "b")], "norm_a string, norm_b string")
    verts = spark.createDataFrame(
        [("loop",), ("a",), ("b",), ("solo",)], "norm string")
    comp = {r.norm: r.component
            for r in connected_components(pairs, verts).collect()}
    assert comp == {"loop": "loop", "a": "a", "b": "a", "solo": "solo"}


def test_frame_sig_probe_detects_label_change(spark):
    """The (count, hash-sum, hash-sum') convergence probe must move
    when any label changes — including a structured swap of component
    values between two rows, the collision shape a single hash SUM is
    weakest against — and be stable across row order/partitioning."""
    from ollie_spark.spark.linking import _frame_sig
    base = [("a", "a"), ("b", "a"), ("c", "c")]
    one_change = [("a", "a"), ("b", "b"), ("c", "c")]
    swapped = [("a", "c"), ("b", "a"), ("c", "a")]  # multiset of labels kept
    schema = "norm string, component string"
    sig = _frame_sig(spark.createDataFrame(base, schema),
                     ("norm", "component"))
    reordered = _frame_sig(
        spark.createDataFrame(list(reversed(base)), schema).repartition(3),
        ("norm", "component"))
    assert sig == reordered
    assert _frame_sig(spark.createDataFrame(one_change, schema),
                      ("norm", "component")) != sig
    assert _frame_sig(spark.createDataFrame(swapped, schema),
                      ("norm", "component")) != sig


def test_min_label_agrees_with_union_find_on_chain(spark):
    """Adversarial chain (diameter n-1): the distributed min-label loop
    needs O(diameter) rounds, and with enough of them it must label
    every vertex exactly as the driver-side union-find hatch does."""
    n = 30
    names = [f"v{i:02d}" for i in range(n)]
    pairs = spark.createDataFrame(
        [(names[i], names[i + 1]) for i in range(n - 1)],
        "norm_a string, norm_b string")
    verts = spark.createDataFrame([(x,) for x in names], "norm string")

    def labels(df):
        return {r.norm: r.component for r in df.collect()}

    ml = connected_components(pairs, verts, max_iter=40, local_threshold=0)
    uf = connected_components(pairs, verts)             # escape hatch
    assert labels(ml) == labels(uf) == {x: "v00" for x in names}


def test_union_find_escape_hatch_agrees_with_distributed(spark):
    """The driver-side union-find (small-graph escape hatch) must
    produce the same partition into components as the distributed
    min-label loop on random graphs — the two code paths are
    interchangeable by size threshold, so they must agree."""
    import random
    rng = random.Random(777)

    def groups(df):
        out = {}
        for r in df.collect():
            out.setdefault(r.component, set()).add(r.norm)
        return {frozenset(v) for v in out.values()}

    for trial in range(3):
        n = 24
        names = [f"u{i:02d}" for i in range(n)]
        edges = {tuple(sorted(rng.sample(names, 2))) for _ in range(20)}
        pairs = spark.createDataFrame(
            sorted(edges), "norm_a string, norm_b string")
        verts = spark.createDataFrame([(x,) for x in names], "norm string")
        uf = connected_components(pairs, verts)            # escape hatch
        ml = connected_components(pairs, verts, max_iter=40,
                                  local_threshold=0)
        assert groups(uf) == groups(ml), f"trial {trial}"


def test_min_label_warns_on_exhaustion(spark):
    """A chain longer than max_iter must warn, not silently split."""
    import warnings
    names = [f"c{i:02d}" for i in range(12)]
    pairs = spark.createDataFrame(
        [(names[i], names[i + 1]) for i in range(11)],
        "norm_a string, norm_b string")
    verts = spark.createDataFrame([(x,) for x in names], "norm string")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        connected_components(pairs, verts, max_iter=2,
                             local_threshold=0).collect()
    assert any("max_iter" in str(x.message) for x in w)


def test_fused_salted_link_matches_broadcast_path(spark):
    """Above the broadcast threshold the fused melt-join-pivot must
    produce exactly the same linked rows as the broadcast path."""
    rows = [(f"d{i}", 0, "Barack Obama", "visited",
             f"City {i % 7}", 0.9) for i in range(40)]
    rows.append(("dx", 0, "Barack Obama", "visited", "Oslo", 0.8))
    mentions = spark.createDataFrame(
        rows, "doc_id string, span_idx int, arg1_text string, "
              "rel_text string, arg2_text string, conf double")
    bc_linked, bc_nodes, bc_edges = canonicalize(
        mentions, salt=4, broadcast_map_threshold=1_000_000)
    fu_linked, fu_nodes, fu_edges = canonicalize(
        mentions, salt=4, broadcast_map_threshold=0)
    key = ["doc_id", "span_idx", "arg1_node", "arg2_node"]
    assert (sorted(map(tuple, bc_linked.select(*key).collect()))
            == sorted(map(tuple, fu_linked.select(*key).collect())))
    assert bc_edges.count() == fu_edges.count()


def test_salted_join_correctness(spark):
    big = spark.createDataFrame(
        [("k1", i) for i in range(50)] + [("k2", i) for i in range(3)],
        "k string, v int")
    small = spark.createDataFrame([("k1", "A"), ("k2", "B")],
                                  "k string, tag string")
    got = salted_join(big, small, "k", salt=4)
    assert got.count() == 53
    assert got.where("k = 'k1' and tag = 'A'").count() == 50


def test_canonicalize_end_to_end(mentions):
    linked, nodes, edges = canonicalize(mentions, salt=4)
    assert linked.count() == mentions.count()  # every mention linked
    n = nodes.collect()
    assert len(n) > 0
    assert all(r.mention_count >= 1 and r.canonical for r in n)
    e = edges.collect()
    assert all(r.weight >= 1 for r in e)
    # graph is consistent: edge endpoints exist in nodes
    node_ids = {r.node_id for r in n}
    assert all(r.src_node in node_ids and r.dst_node in node_ids for r in e)


def test_nary_rollup(spark):
    from ollie_spark.spark.corpus import DOCUMENTS_SCHEMA
    docs = spark.createDataFrame(
        [("nd-0", [("text", "Samir Dawson moved from Tokyo to Delhi .",
                    None, 0)])], schema=DOCUMENTS_SCHEMA)
    m = run_extraction(docs)
    nary = nary_extractions(m).collect()
    assert len(nary) == 1
    r = nary[0]
    assert r.arg1_text == "Samir Dawson" and r.rel_base == "moved"
    assert [(s.prep, s.arg2) for s in r.suffixes] == [
        ("from", "Tokyo"), ("to", "Delhi")]


def test_nary_pattern_is_independent_of_hash_seed():
    """The preposition alternation embedded in kg_nary's plan must not
    follow the set iteration order of SIMPLE_PREPOSITIONS: two processes
    with different hash seeds print the same pattern."""
    import os
    import subprocess
    import sys
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = "from ollie_spark.spark.nary import _TRAIL_RE; print(_TRAIL_RE)"
    out = [subprocess.run(
        [sys.executable, "-c", code], cwd=root, check=True,
        capture_output=True, text=True,
        env={**os.environ, "PYTHONHASHSEED": seed}).stdout
        for seed in ("0", "1")]
    assert out[0] == out[1] and out[0].startswith("^(.*) (")


def test_stage_writer_resume(spark, mentions, tmp_path):
    w = StageWriter(spark, str(tmp_path), n_buckets=8)
    r1 = w.run_stage("mentions", mentions)
    assert sorted(r1["buckets"]) == list(range(8))
    assert r1["rows"] == mentions.count()
    # resume: nothing pending
    r2 = w.run_stage("mentions", mentions)
    assert r2["buckets"] == [] and r2["rows"] == 0
    # simulate partial completion: only some buckets in manifest
    w2 = StageWriter(spark, str(tmp_path / "partial"), n_buckets=8)
    r3 = w2.run_stage("mentions", mentions, buckets=[0, 1, 2])
    assert sorted(w2.completed_buckets("mentions")) == [0, 1, 2]
    r4 = w2.run_stage("mentions", mentions)   # picks up the rest
    assert sorted(r4["buckets"]) == [3, 4, 5, 6, 7]
    total = w2.read_stage("mentions").count()
    assert total == mentions.count()
    # lineage metrics exist per bucket
    metrics = w2.metrics("mentions")
    assert metrics.select("bucket").distinct().count() == 8


@pytest.mark.parametrize("buckets", [None, [0, 1, 2], [5]],
                         ids=["full", "partial", "one"])
def test_stage_writer_manifest_rows_match_written_buckets(
        spark, mentions, tmp_path, buckets):
    """The manifest's per-bucket ``rows`` equal the rows the write left
    in each bucket, for a full run, a partial one and one bucket."""
    w = StageWriter(spark, str(tmp_path), n_buckets=8)
    r = w.run_stage("mentions", mentions, buckets=buckets)
    written = {row.bucket: row["count"] for row in
               w.read_stage("mentions").groupBy("bucket").count()
               .collect()}
    manifest = {row.bucket: row.rows for row in
                w.metrics("mentions").collect()}
    assert sorted(manifest) == (buckets or list(range(8)))
    assert manifest == {b: written.get(b, 0) for b in manifest}
    assert set(written) <= set(manifest)
    assert r["rows"] == sum(written.values()) > 0


def test_stage_writer_resume_scheme_qualified_root(spark, mentions,
                                                   tmp_path):
    """r6: manifest probe must work on Hadoop-FS URIs, not just
    driver-local paths — completed_buckets probes via the Hadoop
    FileSystem (materialize.path_exists), so resume survives an
    object-store root.  Exercised with an explicit file: scheme."""
    root = "file://" + str(tmp_path / "uri_root")
    w = StageWriter(spark, root, n_buckets=4)
    assert w.completed_buckets("mentions") == set()   # no-manifest path
    w.run_stage("mentions", mentions, buckets=[0, 1])
    assert sorted(w.completed_buckets("mentions")) == [0, 1]
    # a FRESH writer (new run, same root) resumes just the remainder
    r = StageWriter(spark, root, n_buckets=4).run_stage("mentions",
                                                        mentions)
    assert sorted(r["buckets"]) == [2, 3]
    assert spark.read.parquet(f"{root}/mentions/data").count() \
        == mentions.count()


def test_path_exists_on_scheme_qualified_root(spark, tmp_path):
    """path_exists answers through the Hadoop FileSystem of the path's
    scheme: False before the directory exists, True after.  A manifest
    directory with no parquet in it still reads as no buckets."""
    root = "file://" + str(tmp_path / "probe_root")
    assert not path_exists(spark, root)
    (tmp_path / "probe_root" / "mentions" / "manifest").mkdir(
        parents=True)
    assert path_exists(spark, root)
    assert path_exists(spark, f"{root}/mentions/manifest")
    w = StageWriter(spark, root, n_buckets=4)
    assert w.completed_buckets("mentions") == set()


def test_canonicalize_merges_alias_surface_forms(spark):
    """'Acme Corporation' and 'the Acme Corp' mentions resolve to one
    canonical node through blocking + CC + salted join."""
    rows = []
    for i in range(6):
        rows.append((f"d{i}", 0, "Alice Baker", "founded",
                     "Acme Corporation", 0.9))
    for i in range(6, 10):
        rows.append((f"d{i}", 0, "Alice Baker", "founded",
                     "the Acme Corp", 0.9))
    mentions = spark.createDataFrame(
        rows, "doc_id string, span_idx int, arg1_text string, "
              "rel_text string, arg2_text string, conf double")
    linked, nodes, edges = canonicalize(mentions, salt=2)
    arg2_nodes = {r.arg2_node for r in linked.collect()}
    assert len(arg2_nodes) == 1, arg2_nodes
    node = nodes.where(F.col("node_id").isin(list(arg2_nodes))).collect()
    assert len(node) == 1
    assert set(node[0].aliases) == {"acme corporation", "acme corp"}
    assert node[0].mention_count == 10
    e = edges.collect()
    assert len(e) == 1 and e[0].weight == 10


def test_salted_join_spreads_hot_key(spark):
    """A head entity (90% of mentions) must not land on one reducer:
    the salted join spreads the hot key across the salt space."""
    rows = [("d%d" % i, 0, "Barack Obama", "visited", "Oslo", 0.9)
            for i in range(450)]
    rows += [("e%d" % i, 0, f"Person {i}", "visited", "Oslo", 0.9)
             for i in range(50)]
    mentions = spark.createDataFrame(
        rows, "doc_id string, span_idx int, arg1_text string, "
              "rel_text string, arg2_text string, conf double")
    m = (mentions
         .withColumn("_a1", normalize_entity(F.col("arg1_text"))))
    canon = spark.createDataFrame(
        [("barack obama", "n0")]
        + [(f"person {i}", f"n{i+1}") for i in range(50)],
        "norm string, node_id string") \
        .withColumnRenamed("norm", "_a1")
    joined = salted_join(m, canon, "_a1", salt=8, keep_salt=True)
    assert joined.count() == 500
    # the shuffle key is (entity, salt): the hot entity must occupy
    # multiple salt buckets (AQE coalesces toy data into one physical
    # partition, so the salt distribution is the observable mechanism)
    salts = (joined.where(F.col("node_id") == "n0")
             .select("_salt").distinct().count())
    assert salts >= 4, f"hot key spread over only {salts} salt buckets"


def test_stage_writer_rejects_bucket_count_drift(spark, mentions,
                                                 tmp_path):
    """Resuming a stage with a different n_buckets would silently
    mis-assign rows to manifest-completed buckets (pmod over a new
    modulus) — the writer must refuse instead."""
    root = str(tmp_path / "drift")
    StageWriter(spark, root, n_buckets=8).run_stage("mentions",
                                                    mentions,
                                                    buckets=[0, 1])
    w_bad = StageWriter(spark, root, n_buckets=4)
    with pytest.raises(ValueError, match="n_buckets"):
        w_bad.run_stage("mentions", mentions)
    # the ORIGINAL bucketing still resumes fine
    r = StageWriter(spark, root, n_buckets=8).run_stage("mentions",
                                                        mentions)
    assert sorted(r["buckets"]) == [2, 3, 4, 5, 6, 7]


def _mention_frame(spark, triples):
    return spark.createDataFrame(
        [(a, r, b, 0.9) for a, r, b in triples],
        "arg1_text string, rel_text string, arg2_text string, "
        "conf double")


def test_incremental_link_three_tiers(spark):
    """Exact / attach / novel resolution against an existing map, with
    the stability contract (existing ids never change) and the tier
    metrics observable."""
    from ollie_spark.spark.linking import canonicalize, incremental_link

    batch_a = _mention_frame(spark, [
        ("Barack Obama", "visited", "Chicago"),
        ("barack obama", "born in", "Hawaii"),
    ])
    _, nodes_a, _ = canonicalize(batch_a)
    # the persisted (norm, node_id) map a production run would store
    existing = (nodes_a.select(F.explode("aliases").alias("norm"),
                               F.col("node_id")))
    old_ids = {r.norm: r.node_id for r in existing.collect()}

    batch_b = _mention_frame(spark, [
        ("Barack Obama", "met", "Angela Merkel"),      # exact: obama
        ("Barack H Obama", "spoke in", "Chicago"),     # attach + exact
        ("Quantum Widget", "made by", "Quantum Widgets"),  # novel pair
    ])
    mo = {}
    linked, delta = incremental_link(batch_b, existing, metrics_out=mo)
    delta_map = {r.norm: r.node_id for r in delta.collect()}
    rows = linked.collect()

    # exact: known norms keep their OLD ids in the linked output
    by_arg1 = {r.arg1_text: r.arg1_node for r in rows}
    assert by_arg1["Barack Obama"] == old_ids["barack obama"]
    # attach: the near-duplicate spelling lands on the existing node
    assert delta_map["barack h obama"] == old_ids["barack obama"]
    assert by_arg1["Barack H Obama"] == old_ids["barack obama"]
    # novel: the widget pair clusters together under a FRESH id
    w1, w2 = delta_map["quantum widget"], delta_map["quantum widgets"]
    assert w1 == w2
    assert w1 not in set(old_ids.values())
    # delta only ADDS rows; nothing in the existing map was touched
    assert set(delta_map) & set(old_ids) == set()
    assert mo["n_exact"] >= 2 and mo["n_attached"] == 1
    assert mo["n_novel"] == len(delta_map) - mo["n_attached"]


def test_incremental_link_equals_batch_when_map_empty(spark):
    """With an empty existing map every norm is novel, so the
    incremental clustering must reproduce the batch canonicalize
    node assignment exactly (same LSH + CC + labels)."""
    from ollie_spark.spark.linking import canonicalize, incremental_link

    batch = _mention_frame(spark, [
        ("Acme Corp", "acquired", "Globex"),
        ("Acme Corporation", "sued", "Initech"),
        ("Globex", "hired", "Hank Scorpio"),
    ])
    _, nodes, _ = canonicalize(batch)
    want = {r.norm: r.node_id
            for r in nodes.select(F.explode("aliases").alias("norm"),
                                  "node_id").collect()}
    empty = batch.sparkSession.createDataFrame(
        [], "norm string, node_id string")
    _, delta = incremental_link(batch, empty)
    got = {r.norm: r.node_id for r in delta.collect()}
    assert got == want


def test_incremental_link_attach_drops_are_counted(spark):
    """A hot existing-map band excluded by the cap means near-dups
    mint fresh ids instead of attaching — the per-increment
    dropped_bands_attach metric must surface it (never silent)."""
    from ollie_spark.spark.linking import incremental_link

    # "aabaab" and "abaaba" have the SAME char-3-gram set, so their
    # minhash signatures — hence ALL 8 of their band keys — are
    # identical: with max_bucket=1 every one of those bands is over
    # the cap
    existing = spark.createDataFrame(
        [("aabaab", "n1"), ("abaaba", "n1")],
        "norm string, node_id string")
    batch = _mention_frame(spark, [("Aabaabx", "made", "Widget")])
    mo = {}
    _, delta = incremental_link(batch, existing, metrics_out=mo,
                                max_bucket=1)
    assert mo["dropped_bands_attach"] == 8
    # with every old band over the cap, the near-dup went novel
    dm = {r.norm: r.node_id for r in delta.collect()}
    assert dm["aabaabx"] != "n1"
    # and the releasable-caches hook mirrors canonicalize's contract
    caches = []
    incremental_link(batch, existing, caches_out=caches)
    assert len(caches) >= 5
    for c in caches:
        c.unpersist()


def test_incremental_link_attaches_through_same_increment_hop(spark):
    """A norm whose only near-dup link is to a norm ATTACHED in the
    same increment must still reach the existing node (two-hop
    attach): old='abcdefghij' (8 grams), new1 adds 5 chars (jaccard
    vs old 8/13 = 0.61 -> direct attach), new2 adds 10 (vs old 8/18 =
    0.44 FAILS, vs new1 13/18 = 0.72 -> hop-2 attach)."""
    from ollie_spark.spark.linking import incremental_link

    existing = spark.createDataFrame(
        [("abcdefghij", "nX")], "norm string, node_id string")
    batch = _mention_frame(spark, [
        ("abcdefghijklmno", "r", "Other"),
        ("abcdefghijklmnopqrst", "r", "Other2")])
    mo = {}
    _, delta = incremental_link(batch, existing, metrics_out=mo)
    dm = {r.norm: r.node_id for r in delta.collect()}
    assert dm["abcdefghijklmno"] == "nX"
    assert dm["abcdefghijklmnopqrst"] == "nX"
    assert mo["n_attached_hop2"] == 1
    assert mo["n_attached"] == 2  # hop2 rows count as attached


def test_incremental_link_precomputed_banded_map_is_equivalent(spark):
    """Passing a caller-maintained band_entities frame (the across-
    increment amortization) must yield the identical delta map as the
    re-band-per-increment path, and the extend recipe
    (band_entities(map) ∪ band_entities(delta)) must equal a fresh
    banding of the grown map."""
    from ollie_spark.spark.linking import band_entities, incremental_link
    from ollie_spark.spark.materialize import materialize_once

    existing = spark.createDataFrame(
        [("barack obama", "nA"), ("acme corporation", "nB")],
        "norm string, node_id string")
    batch = _mention_frame(spark, [
        ("Barack H Obama", "met", "Quantum Widget")])
    _, d_fresh = incremental_link(batch, existing)
    banded = materialize_once(band_entities(existing))
    _, d_pre = incremental_link(batch, existing,
                                existing_banded=banded)
    fresh = {(r.norm, r.node_id) for r in d_fresh.collect()}
    pre = {(r.norm, r.node_id) for r in d_pre.collect()}
    assert fresh == pre and fresh

    # extend recipe == fresh banding of the union map
    grown = existing.unionByName(d_pre.select("norm", "node_id"))
    ext = banded.unionByName(band_entities(d_pre))
    a = {(r.norm, r.band_key) for r in band_entities(grown).collect()}
    b = {(r.norm, r.band_key) for r in ext.collect()}
    assert a == b
    banded.unpersist()


def test_incremental_link_randomized_stability_properties(spark):
    """Seeded randomized property check over near-dup entity families:
    (1) every new-batch norm resolves to exactly one node; (2) the
    delta never touches an existing norm; (3) exact hits reuse the
    existing id; (4) the whole resolution is content-deterministic
    (two runs, identical delta) — the property stream_link's replay
    idempotence rests on."""
    import random

    from ollie_spark.spark.linking import incremental_link

    rng = random.Random(2719)
    bases = [f"entity {rng.randrange(10**6)} corp" for _ in range(30)]
    variants = [b + s for b in bases
                for s in ("", " inc", "oration", " x")]
    rng.shuffle(variants)
    a_surf, b_surf = variants[:60], variants[60:]
    batch_a = _mention_frame(
        spark, [(s, "rel", "obj") for s in a_surf])
    batch_b = _mention_frame(
        spark, [(s, "rel", "obj") for s in b_surf])

    from ollie_spark.spark.linking import canonicalize
    _, nodes_a, _ = canonicalize(batch_a)
    emap = nodes_a.select(F.explode("aliases").alias("norm"), "node_id")
    old = {r.norm: r.node_id for r in emap.collect()}

    linked, delta = incremental_link(batch_b, emap)
    dm = {r.norm: r.node_id for r in delta.collect()}
    rows = linked.collect()

    assert set(dm) & set(old) == set()                       # (2)
    full = {**old, **dm}
    for r in rows:                                           # (1)+(3)
        norm = r.arg1_text.lower().strip()
        assert r.arg1_node == full[norm], norm
    b_norms = {r[0].lower().strip()
               for r in batch_b.select("arg1_text").collect()}
    assert b_norms <= set(full)                              # coverage

    _, delta2 = incremental_link(batch_b, emap)
    dm2 = {r.norm: r.node_id for r in delta2.collect()}
    assert dm2 == dm                                         # (4)


# ------------------------- r7: local blocking escape hatch equivalence

def test_python_xxhash64_matches_spark(spark):
    """The pure-python xxhash64 replica (xxh64.py) must be bit-exact
    against F.xxhash64 for the field shapes the blocking stage hashes:
    (string,), (string, int literal) — plus unicode/empty edge cases
    the ASCII norms never hit, so the parity is not corpus-shaped."""
    import random
    import string as _string

    from ollie_spark.spark.xxh64 import xxhash64

    rng = random.Random(99)
    cases = ["", "a", "ab", "abc", "héllo ☃ 中文",
             "x" * 31, "x" * 32, "x" * 33, "y" * 100]
    cases += ["".join(rng.choice(_string.printable)
                      for _ in range(rng.randrange(0, 64)))
              for _ in range(40)]
    df = spark.createDataFrame([(s,) for s in cases], "s string")
    rows = df.select(
        "s", F.xxhash64("s").alias("h0"),
        *[F.xxhash64("s", F.lit(i)).alias(f"h{i + 1}")
          for i in range(4)]).collect()
    for r in rows:
        assert xxhash64(r.s) == r.h0, repr(r.s)
        for i in range(4):
            assert xxhash64(r.s, i) == r[f"h{i + 1}"], (repr(r.s), i)


def test_local_blocking_matches_distributed(spark, mentions):
    """canonicalize's r7 small-entity escape hatch must produce the
    SAME nodes/edges/linked rows and the same dropped_buckets metric
    as the distributed blocking path on the real extraction corpus
    (the closed-vocab norms: multi-word names, near-dup surface forms,
    numbers)."""
    def run(threshold):
        mo = {}
        linked, nodes, edges = canonicalize(
            mentions, metrics_out=mo, local_blocking_threshold=threshold)
        n = {(r.node_id, r.canonical, tuple(sorted(r.aliases)),
              r.mention_count) for r in nodes.collect()}
        e = {(r.src_node, r.rel, r.dst_node, r.weight, round(r.conf, 9))
             for r in edges.collect()}
        lk = {(r.doc_id, r.span_idx, r.arg1_node, r.arg2_node)
              for r in linked.collect()}
        return n, e, lk, mo["dropped_buckets"]

    local = run(10_000)       # hatch fires (corpus has ~300 norms)
    dist = run(0)             # forced distributed path
    assert local[0] == dist[0], "nodes diverge"
    assert local[1] == dist[1], "edges diverge"
    assert local[2] == dist[2], "linked mentions diverge"
    assert local[3] == dist[3], "dropped_buckets metric diverges"


def test_local_blocking_short_and_colliding_norms(spark):
    """Hatch vs distributed on adversarial synthetic norms: shorter
    than one shingle (len < 3), exact duplicates of surface forms,
    near-dup chains, and disjoint singletons."""
    triples = [
        ("ab", "r", "acme corp"), ("ab", "r", "acme corporation"),
        ("acme corporatio", "r", "zz"), ("x", "r", "unrelated thing"),
        ("1 2 3 4", "r", "1 2 3 5"),
    ]
    rows = [(f"d{i}", 0, a, r, b, 0.9, 0.9, "p")
            for i, (a, r, b) in enumerate(triples)]
    m = spark.createDataFrame(
        rows, "doc_id string, span_idx int, arg1_text string, rel_text "
              "string, arg2_text string, openparse_conf double, conf "
              "double, pattern string")

    def run(threshold):
        linked, nodes, edges = canonicalize(
            m, local_blocking_threshold=threshold)
        return ({(r.node_id, tuple(sorted(r.aliases)))
                 for r in nodes.collect()},
                {(r.src_node, r.rel, r.dst_node)
                 for r in edges.collect()})

    assert run(10_000) == run(0)


def test_canonicalize_empty_mentions(spark):
    """Empty, correctly typed mentions give empty linked/nodes/edges
    with the same schemas on the driver hatch (default threshold: 0
    norms) and the forced distributed path (-1; 0 would still take the
    hatch with 0 norms) — the schemas a non-empty input gets."""
    schema = ("doc_id string, span_idx int, arg1_text string, "
              "rel_text string, arg2_text string, conf double")
    empty = spark.createDataFrame([], schema)
    one = spark.createDataFrame(
        [("d0", 0, "Acme Corp", "owns", "Widget Co", 0.9)], schema)
    want = [f.schema for f in canonicalize(one)]
    for threshold in (2_000, -1):
        outs = canonicalize(empty, local_blocking_threshold=threshold)
        assert [f.count() for f in outs] == [0, 0, 0], threshold
        assert [f.schema for f in outs] == want, threshold
