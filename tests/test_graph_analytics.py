"""PageRank vs an independent driver-side model on a crafted graph
exercising: weighted contribution split, parallel-edge
pre-aggregation, a dangling sink (mass redistribution), and an
isolated-but-referenced vertex.  Plan/lineage discipline: the rank
frame is checkpointed per round, so the final plan must not grow with
the iteration count (the iterative-lineage rule from linking CC)."""

import pytest

from ollie_spark.spark.graph_analytics import PAGERANK_DAMPING, pagerank

# (src, dst, weight); b->a appears twice (parallel edges must merge);
# d is a dangling sink; c receives from two sources
EDGES = [
    ("a", "b", 1.0),
    ("b", "c", 2.0),
    ("b", "a", 0.5),
    ("b", "a", 0.5),      # parallel edge: b->a total weight 1.0
    ("a", "c", 3.0),
    ("c", "d", 1.0),      # d has no out-edges: dangling
]


def _model(iters, d=PAGERANK_DAMPING, edges=EDGES):
    """Independent dict-based power iteration (same float spelling) —
    the ONE reference model, shared by the crafted-graph test and the
    real-KG end-to-end test (two copies could pin different semantics)."""
    w = {}
    for s, t, wt in edges:
        w[(s, t)] = w.get((s, t), 0.0) + wt
    out = {}
    for (s, _t), wt in w.items():
        out[s] = out.get(s, 0.0) + wt
    verts = sorted({v for e in w for v in e})
    n = len(verts)
    r = {v: 1.0 / n for v in verts}
    for _ in range(iters):
        dangling = sum(r[v] for v in verts if v not in out)
        base = (1.0 - d) / n + d * dangling / n
        nxt = {v: base for v in verts}
        for (s, t), wt in w.items():
            nxt[t] += d * r[s] * (wt / out[s])
        r = nxt
    return r


def _edges_df(spark):
    return spark.createDataFrame(
        EDGES, "src_node string, dst_node string, weight double")


def test_pagerank_matches_model(spark):
    got = {r.node: r.rank
           for r in pagerank(_edges_df(spark), iterations=10).collect()}
    want = _model(10)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], rel=1e-9), v
    assert sum(got.values()) == pytest.approx(1.0, rel=1e-9)
    # the two-source vertex outranks the single-source one
    assert got["c"] > got["b"]


def test_pagerank_unweighted_differs_from_weighted(spark):
    """weight_col=None must treat b->c and b->a equally where the
    weighted run sends b's mass 2:1 toward c."""
    wt = {r.node: r.rank
          for r in pagerank(_edges_df(spark), iterations=5).collect()}
    uw = {r.node: r.rank
          for r in pagerank(_edges_df(spark), weight_col=None,
                            iterations=5).collect()}
    assert wt["c"] > uw["c"]


def test_pagerank_plan_does_not_grow_with_iterations(spark):
    p3 = pagerank(_edges_df(spark), iterations=3)
    p6 = pagerank(_edges_df(spark), iterations=6)
    s3 = p3._jdf.queryExecution().executedPlan().toString()
    s6 = p6._jdf.queryExecution().executedPlan().toString()
    # each result reads ONE checkpointed rank frame + the vertex and
    # contribution sides — iteration count must not appear in the plan
    assert len(s6) <= len(s3) * 1.5
    assert s6.count("Scan ExistingRDD") == s3.count("Scan ExistingRDD")


def test_kg_pagerank_matches_model_on_real_kg(spark):
    """End-to-end pin over the ACTUAL constructed KG (sf0.001 corpus,
    same path the kg_pagerank driver query takes): the distributed
    result must match the driver-side power-iteration model recomputed
    from the collected edge list — so extraction-edge integration,
    weight aggregation, and the iteration all cross-check on real
    data, not only the crafted graph."""
    import __spark_entry__ as em
    from ollie_spark.spark.graph_analytics import PAGERANK_ITERATIONS

    sfd = "/root/testdata/sf0.001"
    edges = [(r.src_node, r.dst_node, float(r.weight))
             for r in em.kg_graph_edges(spark, sfd).collect()]
    got = {r.node: r.rank
           for r in em.queries()["kg_pagerank"](spark, sfd).collect()}

    r = _model(PAGERANK_ITERATIONS, edges=edges)
    assert set(got) == set(r)
    for v, rv in r.items():
        assert got[v] == pytest.approx(round(rv, 6), abs=2e-6), v


def test_pagerank_empty_edges_returns_empty_frame(spark):
    empty = spark.createDataFrame(
        [], "src_node string, dst_node string, weight double")
    out = pagerank(empty, iterations=3)
    assert out.columns == ["node", "rank"]
    assert out.count() == 0


def test_kg_training_pairs_match_duckdb_recompute(spark, tmp_path):
    """The deterministic md5-bucket corruption recomputed end-to-end
    in DuckDB over the dumped positive triples must reproduce the
    Spark pairs exactly (bucket assignment, arg-min pick, and the
    false-negative filter), on the real constructed KG."""
    import duckdb

    import __spark_entry__ as em
    from ollie_spark.spark.graph_analytics import kg_training_pairs

    edges = em.kg_graph_edges(spark, "/root/testdata/sf0.001")
    got = sorted(map(tuple, kg_training_pairs(edges).collect()))
    assert got, "no pairs — vacuous"
    n_pos = sum(1 for r in got if r[3] == 1)
    n_neg = len(got) - n_pos
    assert 0 < n_neg <= n_pos

    pq = str(tmp_path / "pos.parquet")
    edges.select("src_node", "rel", "dst_node").distinct() \
        .write.parquet(pq)
    con = duckdb.connect()
    want = sorted(con.execute(f"""
        WITH pos AS (SELECT DISTINCT src_node AS src, rel,
                            dst_node AS dst FROM '{pq}/*.parquet'),
        nodes AS (SELECT node, substr(md5(node), 1, 1) AS b FROM (
            SELECT src AS node FROM pos
            UNION SELECT dst FROM pos)),
        tb AS (SELECT src, rel, dst,
                      md5(src || chr(31) || rel || chr(31) || dst)
                          AS th FROM pos),
        neg0 AS (SELECT t.src, t.rel, t.th,
                        arg_min(n.node, md5(n.node || chr(31) || t.th))
                            AS neg
                 FROM tb t JOIN nodes n ON substr(t.th, 1, 1) = n.b
                 GROUP BY t.src, t.rel, t.dst, t.th),
        neg AS (SELECT n0.src, n0.rel, n0.neg AS dst FROM neg0 n0
                WHERE NOT EXISTS (SELECT 1 FROM pos p
                                  WHERE p.src = n0.src
                                    AND p.rel = n0.rel
                                    AND p.dst = n0.neg))
        SELECT src, rel, dst, CAST(1 AS INT) AS label FROM pos
        UNION ALL
        SELECT src, rel, dst, CAST(0 AS INT) FROM neg""").fetchall())
    assert got == want


def test_kg_training_pairs_negatives_are_filtered_and_deterministic(spark):
    edges = spark.createDataFrame(
        [("a", "r", "b", 1.0), ("a", "r", "c", 1.0),
         ("b", "r", "c", 1.0)],
        "src_node string, rel string, dst_node string, weight double")
    from ollie_spark.spark.graph_analytics import kg_training_pairs
    p1 = sorted(map(tuple, kg_training_pairs(edges).collect()))
    p2 = sorted(map(tuple, kg_training_pairs(edges).collect()))
    assert p1 == p2                                  # deterministic
    pos = {(s, r, d) for s, r, d, lb in p1 if lb == 1}
    negs = [(s, r, d) for s, r, d, lb in p1 if lb == 0]
    assert pos == {("a", "r", "b"), ("a", "r", "c"), ("b", "r", "c")}
    for t in negs:                                   # filtered
        assert t not in pos


def test_pagerank_zero_weight_source_conserves_mass(spark):
    """A source whose out-edge weights sum to 0 must not leak rank
    mass (advisor item): with the r7 non-positive-weight filter it
    loses its out-edges and is treated as dangling, so ranks still
    sum to 1."""
    from ollie_spark.spark.graph_analytics import pagerank

    edges = spark.createDataFrame(
        [("a", "b", 0.0),   # zero-weight out-edge: 'a' must go dangling
         ("b", "c", 1.0), ("c", "a", 2.0), ("c", "b", -1.0)],
        "src_node string, dst_node string, weight double")
    ranks = {r.node: r.rank for r in pagerank(edges).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9, ranks
    assert set(ranks) == {"a", "b", "c"}
