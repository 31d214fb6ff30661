"""Graph analytics over the constructed KG: weighted PageRank (the
entity-importance score a KG consumer ranks query results and picks
canonical labels with).

Spark-first iterative shape, same discipline as the linking module's
connected components (linking.py): ranks are a narrow one-row-per-
vertex frame; every power-iteration round is two shuffles (join ranks
onto edges by src, aggregate contributions by dst) over the EDGE
frame, whose lineage is truncated once up front; the per-round rank
frame is localCheckpoint-ed so the plan cannot grow with rounds (the
iterative-lineage rule from linking.connected_components — on a real
cluster spell it ``.checkpoint()``).  Dangling mass (vertices with no
out-edges) is folded back uniformly each round, so total rank mass
stays 1 and disconnected sinks do not leak score.

At cluster scale the per-round shuffles are the cost: bucket the edge
table by src (and pre-aggregate parallel edges) once, and every
round's src-side join is co-located; the dst aggregation is a
map-side-combining sum.  A tolerance-based stop would reuse the
one-agg convergence probe pattern (linking._frame_sig); a FIXED
iteration count is used instead so results are deterministic for the
driver contract and the tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .materialize import materialize_once

PAGERANK_DAMPING = 0.85
PAGERANK_ITERATIONS = 10


def pagerank(edges: DataFrame, weight_col: str | None = "weight",
             iterations: int = PAGERANK_ITERATIONS) -> DataFrame:
    """Weighted PageRank by ``iterations`` rounds of power iteration;
    returns (node, rank) with ranks summing to 1.  Parallel edges are
    pre-aggregated; ``weight_col=None`` means unweighted (every edge
    weight 1).  Contributions split per-source proportionally to edge
    weight: contrib(s->d) = rank(s) * w(s,d) / W(s).

    Per-round job shape: the dangling mass is a 1-row aggregate
    cross-joined (broadcast) into the rank-update plan — no per-round
    driver collect — and it is skipped entirely when the graph has no
    dangling vertices (one upfront count).  Superseded rank frames
    are unpersisted as soon as the next round materializes (the GraphX
    discipline), so a run holds at most two rank frames."""
    damping = PAGERANK_DAMPING
    w = (F.col(weight_col).cast("double") if weight_col
         else F.lit(1.0))
    # non-positive weights are dropped BEFORE aggregation (r7, advisor
    # item): a source whose out-weights summed to 0 got _frac = 0/0,
    # silently vanishing its rank mass each round — it has out-edges,
    # so it is not in the dangling set — and ranks no longer summed to
    # 1 (the documented invariant).  With the filter a zero-weight
    # edge simply is not an edge: its source (if it remains in the
    # graph at all) becomes dangling, and a vertex touching only
    # non-positive edges leaves the vertex set.
    e = materialize_once(
        edges.select(F.col("src_node").alias("_s"),
                     F.col("dst_node").alias("_d"), w.alias("_w"))
        .where(F.col("_w") > 0)
        .groupBy("_s", "_d").agg(F.sum("_w").alias("_w")))
    out_w = e.groupBy("_s").agg(F.sum("_w").alias("_ow"))
    # normalized edge transition fraction, computed once
    trans = materialize_once(
        e.join(out_w, "_s").select(
            "_s", "_d", (F.col("_w") / F.col("_ow")).alias("_frac")))
    verts = materialize_once(
        e.select(F.col("_s").alias("node"))
        .union(e.select(F.col("_d").alias("node"))).distinct())
    n = verts.count()
    if n == 0:
        return verts.select("node", F.lit(1.0).alias("rank"))
    # dangling-node set, materialized once: the per-round dangling
    # term must not re-aggregate out-weights over the edge frame
    dangling_nodes = materialize_once(
        verts.join(out_w.select(F.col("_s").alias("node")),
                   "node", "left_anti"))
    any_dangling = dangling_nodes.count() > 0

    ranks = materialize_once(
        verts.select("node", F.lit(1.0 / n).alias("rank")))
    for _ in range(iterations):
        if any_dangling:
            dangling_mass = (ranks.join(dangling_nodes, "node",
                                        "left_semi")
                             .agg(F.coalesce(F.sum("rank"), F.lit(0.0))
                                  .alias("_dm")))
            base = (F.lit((1.0 - damping) / n)
                    + F.lit(damping / n) * F.col("_dm"))
        else:
            base = F.lit((1.0 - damping) / n)
        contribs = (ranks.join(trans, ranks["node"] == trans["_s"])
                    .groupBy(F.col("_d").alias("node"))
                    .agg(F.sum(F.col("rank") * F.col("_frac"))
                         .alias("_c")))
        nxt = verts.join(contribs, "node", "left")
        if any_dangling:
            nxt = nxt.crossJoin(F.broadcast(dangling_mass))
        prev = ranks
        ranks = materialize_once(
            nxt.select("node",
                       (base + F.lit(damping)
                        * F.coalesce(F.col("_c"), F.lit(0.0)))
                       .alias("rank")))
        prev.unpersist()
    return ranks


def kg_training_pairs(edges: DataFrame) -> DataFrame:
    """(src, rel, dst, label) training pairs for KG-embedding models
    (TransE-style): every distinct positive triple plus one FILTERED
    corrupted negative — the destination replaced by a pseudo-random
    node, with corruptions that collide with a true triple dropped
    (false negatives poison embedding training).

    Fully deterministic and cross-engine recomputable: the corruption
    is md5-keyed, never an RNG.  Each triple hashes to one of 16
    one-hex-digit md5-prefix node buckets and takes the bucket node
    minimizing md5(node || triple-hash) — so the candidate join costs
    |triples| x |nodes| / 16, never a cross join and never a globally
    indexed node table (row_number over nodes would be a
    SinglePartition sort).  A wider prefix would suit web-scale node
    counts; on small graphs it leaves empty buckets, and a triple
    whose bucket is empty yields no negative row (it does not
    error)."""
    sep = F.lit("\x1f")
    # pos feeds FIVE consumers (both node projections, the triple
    # hash, the anti-join, the final union) — materialize it once or
    # the edge-producing pipeline re-evaluates per consumer
    pos = materialize_once(
        edges.select(F.col("src_node").alias("src"), "rel",
                     F.col("dst_node").alias("dst")).distinct())
    nodes = (pos.select(F.col("src").alias("node"))
             .union(pos.select(F.col("dst").alias("node"))).distinct()
             .withColumn("_b", F.substring(F.md5("node"), 1, 1)))
    # F.concat, NOT concat_ws: concat_ws silently SKIPS null fields
    # where the DuckDB recompute's `||` propagates NULL — concat
    # matches the oracle (a null-field triple hashes to NULL, joins
    # nothing, and yields no negative, identically in both engines)
    tb = (pos.withColumn(
        "_th", F.md5(F.concat(F.col("src"), sep, F.col("rel"), sep,
                              F.col("dst"))))
        .withColumn("_b", F.substring("_th", 1, 1)))
    neg = (tb.join(nodes, "_b")
           .groupBy("src", "rel", "dst", "_th")
           .agg(F.min_by("node",
                         F.md5(F.concat(F.col("node"), sep,
                                        F.col("_th"))))
                .alias("neg_dst"))
           .select("src", "rel", F.col("neg_dst").alias("dst"))
           .join(pos, ["src", "rel", "dst"], "left_anti"))
    return (pos.withColumn("label", F.lit(1).cast("int"))
            .unionByName(neg.withColumn("label",
                                        F.lit(0).cast("int"))))
