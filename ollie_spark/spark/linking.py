"""Entity linking and canonicalization over extracted mentions.

north_rule stage (2): normalize arguments, block near-duplicate surface
forms with MinHash/LSH, resolve blocks into canonical entities via
connected components, and join canonical ids back onto mentions with a
*salted* equi-join so head entities ("Obama"-class keys that dominate a
web corpus) cannot pin a single reducer.

Scale notes (100 TB / 10^12 docs):
- MinHash signatures are computed **without any explode or shuffle**:
  one `transform`/`array_min` expression per hash seed over the char
  3-gram array — pure whole-stage-codegen map work over the *distinct*
  entity strings (cardinality « mention count).
- LSH banding self-joins on the band key only; hot buckets are capped
  by `materialize.cap_blocks` (and counted in ``metrics_out`` as
  `dropped_buckets`) so one degenerate band cannot produce O(n^2)
  pairs.
- Connected components resolves small pair sets with a driver-side
  min-root union-find; larger ones run min-label propagation — O(graph
  diameter) join+agg rounds, tiny for shallow star-like near-dup
  blocks, with a loud warning if max_iter exhausts.
- Batch (`canonicalize`) and incremental (`incremental_link`) linking
  share each step: `_annotate` (normalize), `_cluster` (driver hatch
  or LSH + CC), `cap_blocks` and `_attach`; every band frame is built
  with the module constants `NUM_HASHES`/`BANDS`.
- The final mentions->canonical join salts the canonical map S ways and
  hashes mentions into the same salt space: mention skew spreads over S
  reducers while the map side only replicates S×.  AQE skew-join stays
  on as a second line of defense.

Reference parity: argument normalization mirrors FindCommon.cleanArg
(bootstrap/FindCommon.scala:25, determiner strip) + lowercasing; the
reference has no linking stage (single machine, exact string keys) —
this stage is the distributed generalization the north_rule requires.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ollie_spark.spark.materialize import cap_blocks, materialize_once

DETERMINERS = ("the", "a", "an", "this", "that", "these", "those", "some",
               "any", "each", "every", "its", "his", "her", "their", "our")

# MinHash/LSH blocking config (like textops.MINHASH_SEEDS): band frames
# built with other values would never share a band key
NUM_HASHES = 16
BANDS = 8
JACCARD_THRESHOLD = 0.5            # char-3-gram pair verification
LOCAL_BLOCKING_THRESHOLD = 2_000   # distinct norms; see _cluster
# the mentions -> canonical link join (_link_join): broadcast the map up
# to this many distinct entities, else salt it this many ways
BROADCAST_MAP_THRESHOLD = 1_000_000
SALT_WAYS = 8


def normalize_entity(col):
    """lowercase, strip punctuation, drop a leading determiner.

    One fused pass replaces the former punctuation-strip +
    whitespace-collapse pair: any maximal run of non-alphanumerics
    (spaces included) becomes a single space, which is exactly what
    ``[^a-z0-9 ] -> ' '`` followed by ``\\s+ -> ' '`` produced —
    value-equivalence is pinned by
    test_linking.test_normalize_fused_regex_matches_legacy_chain, and
    the kg_graph_edges DuckDB recompute oracle still spells the legacy
    two-pass form, so the engines cross-check the equivalence on real
    data every run."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^a-z0-9]+", " ")
    c = F.trim(c)
    det = "|".join(DETERMINERS)
    c = F.regexp_replace(c, r"^(?:" + det + r") ", "")
    return F.trim(c)


def entity_mentions(mentions: DataFrame) -> DataFrame:
    """One row per argument occurrence: (doc_id, span_idx, side, text,
    norm)."""
    sides = []
    for side in ("arg1", "arg2"):
        sides.append(mentions.select(
            "doc_id", "span_idx",
            F.lit(side).alias("side"),
            F.col(f"{side}_text").alias("text"),
            normalize_entity(F.col(f"{side}_text")).alias("norm")))
    return sides[0].unionByName(sides[1]).where(F.col("norm") != "")


def minhash_signature(df: DataFrame) -> DataFrame:
    """Add ``sig: array<bigint>`` — MinHash over the char 3-gram
    shingles of ``norm``.

    All map-side: shingling via transform(sequence(...)), each signature
    slot an array_min over seeded xxhash64.  No explode, no shuffle.
    """
    df = df.withColumn("_shingles", _char3_grams("norm"))

    # ONE aggregate pass computes all NUM_HASHES signature slots: the
    # accumulator is the running per-seed minimum array, each element
    # contributes its NUM_HASHES seeded hashes via zip_with/least.
    # Identical values to the per-seed array_min(transform(...)) form,
    # but a single expression tree instead of NUM_HASHES of them —
    # the per-seed forest cost ~83s of cold Catalyst/codegen work per
    # session (9.5s warm, data-independent) on the 16-hash default.
    # NB: lambdas must take exactly the declared parameter count —
    # pyspark HOFs change semantics with arity (transform passes
    # (elem, index) to 2-param lambdas), hence no default-arg seeds.
    long_max = (1 << 63) - 1
    init = F.array(*[F.lit(long_max).cast("long")
                     for _ in range(NUM_HASHES)])
    sig = F.aggregate(
        "_shingles", init,
        lambda acc, x: F.zip_with(
            acc,
            F.array(*[F.xxhash64(x, F.lit(s)) for s in range(NUM_HASHES)]),
            lambda a, h: F.least(a, h)))
    return df.withColumn("sig", sig).drop("_shingles")


def _lsh_banded(entities: DataFrame) -> DataFrame:
    """(norm, band_key): minhash signatures banded — the SINGLE band
    construction the pair generator, band_entities and incremental_link
    read."""
    rows = NUM_HASHES // BANDS
    sigs = minhash_signature(entities.select("norm"))
    return sigs.select(
        "norm",
        F.explode(F.array(*[
            F.xxhash64(F.concat_ws(
                ",", *[F.element_at("sig", b * rows + r + 1).cast("string")
                       for r in range(rows)]), F.lit(b))
            for b in range(BANDS)])).alias("band_key"))


def lsh_candidate_pairs(entities: DataFrame,
                        jaccard_threshold: float = JACCARD_THRESHOLD,
                        max_bucket: int = 64,
                        metrics_out: dict | None = None) -> DataFrame:
    """(norm_a, norm_b) near-duplicate candidates, verified by token
    Jaccard.  ``entities`` must have distinct ``norm``.

    Pass ``metrics_out`` (a dict) to receive ``dropped_buckets``, the
    number of band buckets over ``max_bucket`` (see
    :func:`~ollie_spark.spark.materialize.cap_blocks`).  Both self-join
    sides and the sizing read one materialized band frame, so pairs +
    metric cost one signature computation."""
    kept, dropped = cap_blocks(_lsh_banded(entities), ["band_key"],
                               max_bucket)
    if metrics_out is not None:
        metrics_out["dropped_buckets"] = dropped
    a = kept.alias("a")
    b = kept.alias("b")
    pairs = (a.join(b, "band_key")
             .where(F.col("a.norm") < F.col("b.norm"))
             .select(F.col("a.norm").alias("norm_a"),
                     F.col("b.norm").alias("norm_b"))
             .distinct())

    # verify candidates with exact char-3-gram Jaccard — the same
    # feature space the MinHash blocking approximates, so abbreviation
    # variants ("acme corp" / "acme corporation") survive where
    # token-level Jaccard would reject them
    return pairs.where(_char3_jaccard("norm_a", "norm_b")
                       >= F.lit(jaccard_threshold))


def _char3_grams(c: str):
    """Distinct char 3-grams of a string column (the whole string when
    shorter than 3) — the shingle set MinHash signs and Jaccard
    verifies."""
    col = F.col(c)
    return F.array_distinct(F.when(
        F.length(col) < 3, F.array(col)
    ).otherwise(
        F.transform(F.sequence(F.lit(1), F.length(col) - 2),
                    lambda i: col.substr(i, F.lit(3)))))


def _char3_jaccard(a: str, b: str):
    """Exact char-3-gram Jaccard between two string columns — the ONE
    verification rule every LSH candidate path applies (batch pair
    generation and incremental attach share it, no mirrored copy)."""
    ga, gb = _char3_grams(a), _char3_grams(b)
    return (F.size(F.array_intersect(ga, gb))
            / F.size(F.array_union(ga, gb)))


def band_entities(entities: DataFrame) -> DataFrame:
    """Public (norm, band_key) band frame — the incremental-linking
    amortization handle: band the canonical map once, keep it
    persisted across increments, extend it with the delta's bands
    (`band_entities(delta_map)`) instead of re-banding the whole map
    per batch.  Delegates to the single shared band construction."""
    return _lsh_banded(entities.select("norm").distinct())


def _frame_sig(df: DataFrame, cols) -> tuple:
    """Probabilistic row-set equality signature: (count, sum of
    xxhash64(cols), sum of xxhash64(cols, 1)) in ONE agg job.  The
    second sum is a DERIVED hash, not an independent family — pyspark's
    xxhash64 takes no seed, so appending lit(1) continues the first
    hash's state over one extra word.  The collision argument is
    correspondingly weaker but still sound for this use: two distinct
    row sets are treated equal only if both 64-bit sums agree, and a
    structured value swap that preserves sum(h(x)) must also preserve
    sum(g(h-state(x))) — implausible for xxhash64's avalanche even
    though g is a fixed function of the same stream (the check remains
    probabilistic, not exact).  decimal(38,0) keeps the sums exact
    (and ANSI-safe) at any row count."""
    cs = [F.col(c) for c in cols]
    r = df.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*cs).cast("decimal(38,0)")).alias("h1"),
        F.sum(F.xxhash64(*cs, F.lit(1)).cast("decimal(38,0)")).alias("h2")
    ).first()
    return (r["n"], r["h1"], r["h2"])


def _union_find(edges) -> dict:
    """{vertex: component} over an iterable of (a, b) edges: min-root
    union-find, so every component is labelled by its minimum vertex —
    the same label the distributed min-label loop converges to.  Shared
    by both driver-side paths (connected_components' escape hatch and
    _local_blocking_components)."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def _components_frame(spark, rows) -> DataFrame:
    """Ship driver-resolved (norm, component) rows back to Spark.

    A pandas frame lands, with Arrow enabled, as a JVM LocalRelation,
    so every downstream evaluation is JVM-only — the plain-list form
    becomes a pickled python RDD that spins python workers on EACH
    evaluation of the plan (measured 3.6s cold / 0.5s warm per count at
    32 cores vs 0.25s for the Arrow path).  The schema is explicit: an
    empty row list has no values to infer one from."""
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["norm", "component"]),
        "norm string, component string")


def connected_components(pairs: DataFrame, vertices: DataFrame,
                         max_iter: int = 15,
                         local_threshold: int = 1_000_000) -> DataFrame:
    """Distributed connected components: (norm, component) per vertex.

    Only vertices that occur in ``pairs`` enter the iteration — at web
    scale almost all entities are isolated (component = self) and must
    not be dragged through the join rounds.

    When the candidate-pair set is small (<= local_threshold, counted),
    components resolve with a driver-side union-find and broadcast back
    — the same small-side escape hatch as a broadcast join; the
    distributed loop remains the path for genuinely large near-dup
    graphs.

    Driver-memory bound for the escape hatch (measured r6, this repo's
    /tmp harness): 1M pairs over 667k vertices with ~20-char entity
    keys = +494 MB driver RSS (peak 631 MB incl. the Spark driver
    itself) — collected Rows + the parent dict, linear in pairs, so
    budget ~0.5 GB per 1M pairs at the default threshold.  Drivers
    with <2 GB of headroom should pass a smaller ``local_threshold``;
    correctness is unaffected either way (the distributed loop computes
    the same components, property-tested in tests/test_linking.py).

    The distributed path is min-label propagation — O(graph diameter)
    rounds.  Near-dup blocks are shallow star-like clusters, so the
    diameter is tiny in practice; if the loop exhausts ``max_iter``
    while labels are still changing it emits a warning (components may
    be split) rather than failing silently."""
    sym = (pairs.select(F.col("norm_a").alias("src"),
                        F.col("norm_b").alias("dst"))
           .unionByName(pairs.select(F.col("norm_b").alias("src"),
                                     F.col("norm_a").alias("dst"))))
    # static frame consumed every round + collected by the escape
    # hatch — materialize once (localCheckpoint local / persist+count
    # on a cluster).  The per-ROUND label frames below stay
    # localCheckpoint: iterative lineage must be TRUNCATED (persist
    # alone leaves each round's plan referencing the previous round's,
    # blowing up Catalyst planning time); the cluster spelling there is
    # reliable .checkpoint() with a checkpoint dir.
    sym = materialize_once(sym)
    connected_verts = sym.select(F.col("src").alias("norm")).distinct()
    isolated = (vertices.select("norm")
                .join(connected_verts, "norm", "left_anti")
                .select("norm", F.col("norm").alias("component")))

    n_pairs = sym.count() // 2
    if n_pairs == 0:
        return isolated
    if n_pairs <= local_threshold:
        # ONE collect serves both the edge list and the vertex seed
        # (r7: the former separate connected_verts.collect() was a
        # whole extra job + distinct shuffle per canonicalize call):
        # src <= dst keeps each undirected edge once AND keeps
        # self-pairs, whose endpoints are exactly the vertices that
        # appear in `sym` with no src < dst edge — so seeding parent
        # from the collected endpoints covers every connected vertex,
        # the same set connected_verts holds.
        #
        # collect off the CHECKPOINTED symmetric set, not the lazy
        # `pairs` plan — collecting `pairs` would re-run the whole
        # LSH candidate generation (minhash + band self-join), doubling
        # the most expensive stage of every canonicalize() call.
        # Union-find is direction/order-insensitive, so either edge
        # orientation works.
        edges_local = (sym.where(F.col("src") <= F.col("dst"))
                       .select("src", "dst").collect())
        roots = _union_find((r.src, r.dst) for r in edges_local)
        return (_components_frame(pairs.sparkSession, list(roots.items()))
                .unionByName(isolated))

    labels = connected_verts.select(
        "norm", F.col("norm").alias("component"))
    # convergence probe: the vertex set is fixed, so the label frame
    # changed iff its (count, hash-sum, hash-sum') signature moved —
    # ONE agg job per round instead of a join + count (see _frame_sig
    # for the collision argument).
    sig = _frame_sig(labels, ("norm", "component"))
    changed = True
    for _ in range(max_iter):
        nbr = (sym.join(labels, sym.dst == labels.norm)
               .groupBy("src").agg(F.min("component").alias("nbr_min")))
        new = (labels.join(nbr, labels.norm == nbr.src, "left")
               .select(labels.norm,
                       F.least(F.col("component"),
                               F.coalesce("nbr_min", F.col("component")))
                       .alias("component")))
        new = new.localCheckpoint(eager=True)
        new_sig = _frame_sig(new, ("norm", "component"))
        changed = new_sig != sig
        labels, sig = new, new_sig
        if not changed:
            break
    if changed:
        import warnings
        warnings.warn(
            f"connected_components: min-label loop exhausted "
            f"max_iter={max_iter} with labels still changing — "
            f"components may be split (graph diameter > max_iter); "
            f"raise max_iter",
            RuntimeWarning, stacklevel=2)
    return labels.unionByName(isolated)


def _local_blocking_components(norms, max_bucket: int):
    """Driver-side replica of lsh_candidate_pairs + connected_components
    over a small distinct-norm list -> ([(norm, component)], dropped).

    Value-identical to the distributed path by construction: signatures
    use the bit-exact xxhash64 replica (ollie_spark.spark.xxh64, parity
    property-tested against F.xxhash64), band keys hash the same
    comma-joined signature-slot strings (Long.toString == str(int) for
    every long), buckets over max_bucket are dropped and counted the
    same way, candidate pairs are verified with the same exact
    char-3-gram Jaccard, and components come from the same min-root
    union-find as connected_components' escape hatch (the labels the
    distributed min-label loop converges to).
    Equivalence on real corpus norms is pinned by
    test_linking.test_local_blocking_matches_distributed.

    Cost model: ~(len(norm) shingles x (1 byte-hash + NUM_HASHES int
    finalizers)) per norm in pure python — ~0.5 ms/norm at 16 hashes,
    so LOCAL_BLOCKING_THRESHOLD (2,000 norms, ~1 s single-core, a few
    hundred KB of driver memory) stays well under the distributed
    path's ~5 s of fixed job overhead."""
    from collections import defaultdict

    from .xxh64 import hash_bytes, hash_int, SPARK_SEED

    rows_per = NUM_HASHES // BANDS

    def signed(h):
        return h - (1 << 64) if h >= (1 << 63) else h

    def grams(norm):
        if len(norm) < 3:
            return {norm}
        return {norm[i:i + 3] for i in range(len(norm) - 2)}

    buckets = defaultdict(list)
    gram_cache = {}
    for norm in norms:
        sh = grams(norm)
        gram_cache[norm] = sh
        # xxhash64(shingle, seed) chains: bytes-hash once per shingle,
        # then one int finalizer per seed
        sig = [None] * NUM_HASHES
        for g in sh:
            hb = hash_bytes(g.encode("utf-8"), SPARK_SEED)
            for s in range(NUM_HASHES):
                v = signed(hash_int(s, hb))
                if sig[s] is None or v < sig[s]:
                    sig[s] = v
        for b in range(BANDS):
            key = ",".join(str(sig[b * rows_per + r])
                           for r in range(rows_per))
            bk = hash_int(b, hash_bytes(key.encode("utf-8"), SPARK_SEED))
            buckets[bk].append(norm)

    dropped = 0
    cand = set()
    for members in buckets.values():
        if len(members) > max_bucket:
            dropped += 1
            continue
        uniq = sorted(set(members))
        for i, a in enumerate(uniq):
            for b in uniq[i + 1:]:
                cand.add((a, b))

    def verified(a, b):
        ga, gb = gram_cache[a], gram_cache[b]
        return len(ga & gb) / len(ga | gb) >= JACCARD_THRESHOLD

    roots = _union_find((a, b) for a, b in cand if verified(a, b))
    return [(n, roots.get(n, n)) for n in norms], dropped


def salted_join(big: DataFrame, small: DataFrame, key: str,
                salt: int = SALT_WAYS, keep_salt: bool = False,
                salt_cols=None) -> DataFrame:
    """Equi-join where ``big`` is heavily skewed on ``key``: replicate
    ``small`` ``salt`` ways, spray ``big`` across the salt space so the
    shuffle key becomes (key, salt) and a head entity spans ``salt``
    reducers instead of one.

    The salt is a hash of ``salt_cols`` (default: every ``big`` column),
    so it is stable across task retries — a retried stage re-salts each
    row identically, keeping output partitioning deterministic.  Pass
    the row-identity columns (e.g. ``("doc_id", "span_idx")``) when
    ``big`` is wide."""
    cols = list(salt_cols) if salt_cols is not None else big.columns
    salted_small = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)])))
    salted_big = big.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in cols]),
               F.lit(salt)).cast("int"))
    joined = salted_big.join(salted_small, [key, "_salt"])
    return joined if keep_salt else joined.drop("_salt")


def _annotate(mentions: DataFrame) -> DataFrame:
    """``mentions`` + normalized ``_a1``/``_a2`` argument columns, the
    front end both canonicalize and incremental_link materialize once.

    Materialize: a filter or join key on an aliased computed column is
    pushed through the projection and re-inlined (PushDownPredicate —
    the Catalyst CSE trap, CLAUDE.md), so without a barrier the
    4-regex normalize chain re-ran per consumer (counts rollup, link
    join, edges rollup: 21s + 17s + 17s at 480k docs / 16 cores, vs
    ~10s for the one materialized pass).

    Coalesce (r7): extraction hands over cores*4 partitions, and every
    consumer of the stored frame would schedule that many mostly-empty
    tasks per job.  coalesce to defaultParallelism (shuffle-free, a
    no-op when there are fewer partitions, so a big cluster keeps its
    parallelism) halved the canonicalize wall at sandbox scale
    (interleaved A/B: 4.4-8.6 -> 2.2-3.2 s, identical outputs)."""
    cores = mentions.sparkSession.sparkContext.defaultParallelism
    return (mentions.coalesce(max(int(cores), 1))
            .withColumn("_a1", normalize_entity(F.col("arg1_text")))
            .withColumn("_a2", normalize_entity(F.col("arg2_text"))))


def _cluster(entities: DataFrame, n_entities: int,
             local_threshold: int = LOCAL_BLOCKING_THRESHOLD,
             max_bucket: int = 64,
             metrics_out: dict | None = None) -> DataFrame:
    """(norm, component) for every norm of ``entities`` (``n_entities``
    distinct norms) — the one clustering step of canonicalize and of
    incremental_link's novel tier; ``metrics_out`` receives
    ``dropped_buckets`` on both paths.

    At or below ``local_threshold`` norms (r7 escape hatch) banding,
    cap, candidate pairs, Jaccard verification AND connected
    components resolve driver-side in one collect, value-identical to
    the distributed path (see _local_blocking_components); ~1 s and a
    few hundred KB at 2,000 norms.  Above it: lsh_candidate_pairs +
    connected_components, plan-pinned by tests/test_plans.py."""
    if n_entities <= local_threshold:
        norms = [r.norm for r in entities.collect()]
        comp_rows, dropped = _local_blocking_components(norms, max_bucket)
        if metrics_out is not None:
            metrics_out["dropped_buckets"] = dropped
        return _components_frame(entities.sparkSession, comp_rows)
    pairs = lsh_candidate_pairs(entities, max_bucket=max_bucket,
                                metrics_out=metrics_out)
    return connected_components(pairs, entities)


def canonicalize(mentions: DataFrame, salt: int = SALT_WAYS,
                 broadcast_map_threshold: int = BROADCAST_MAP_THRESHOLD,
                 metrics_out: dict | None = None,
                 caches_out: list | None = None,
                 local_blocking_threshold: int = LOCAL_BLOCKING_THRESHOLD):
    """-> (linked_mentions, nodes, edges) DataFrames.

    nodes(node_id, canonical, aliases, mention_count)
    edges(src_node, rel, dst_node, weight, conf)
    linked mentions gain arg1_node / arg2_node columns.

    Normalizes once (``_annotate``), clusters the distinct norms
    (``_cluster``, driver hatch at <= ``local_blocking_threshold``).

    The mentions->canonical join picks its strategy from the map size
    (counted once off the persisted map):
    - map <= broadcast_map_threshold distinct entities: broadcast both
      arg joins — the mention stream never shuffles, and salting is
      pointless overhead (a broadcast join has no reducer to skew).
    - bigger: the two arg lookups are FUSED into one salted join — melt
      (row_key, side, norm) long, join the map once, pivot the two
      sides back, rejoin on row_key.  One full-row shuffle instead of
      two, and the skewed lookup shuffles only narrow rows.

    ``metrics_out`` (optional dict) receives the stage wall-time split
    — ``normalize_sec`` (one materialized pass of argument
    normalization that every downstream consumer reads),
    ``lsh_cc_sec`` (blocking + connected components, eager) and
    ``canon_map_sec`` (canonical-map materialize + count) — plus
    ``dropped_buckets``, counted off the blocking stage's own
    materialized band frame (no second signature computation).

    ``caches_out`` (optional list) receives the two full-corpus cached
    frames this call creates — ``m_ann`` (annotated mentions) and
    ``canon`` (the canonical map) — so callers can ``unpersist()`` them
    once the returned frames are materialized (written / collected).
    On the cluster path ``materialize_once`` persists but cannot know
    the consumer lifetime; without a release, repeated canonicalize()
    calls in a long-lived session stack full-corpus caches.  (The
    remaining internal frames are per-distinct-entity — orders of
    magnitude smaller — and LRU-evictable.)
    """
    import time as _time

    t0 = _time.monotonic()
    m_ann = materialize_once(_annotate(mentions))
    if caches_out is not None:
        caches_out.append(m_ann)
    if metrics_out is not None:
        metrics_out["normalize_sec"] = round(_time.monotonic() - t0, 3)

    # melt the stored norm columns (entity_mentions' shape, minus the
    # re-normalization it would do from raw text)
    ments = (m_ann.select(F.col("arg1_text").alias("text"),
                          F.col("_a1").alias("norm"))
             .unionByName(
                 m_ann.select(F.col("arg2_text").alias("text"),
                              F.col("_a2").alias("norm")))
             .where(F.col("norm") != ""))
    surface_counts = ments.groupBy("norm", "text").count()
    # persist: this per-distinct-entity frame (tiny next to mentions)
    # feeds the LSH signatures, the CC vertex set, the isolated-vertex
    # anti-join, AND the canonical-map join — without the persist each
    # consumer re-runs the mention normalization + two shuffles
    counts = (surface_counts.groupBy("norm")
              .agg(F.max_by("text", F.struct("count", "text"))
                   .alias("surface"),
                   F.sum("count").alias("n"))).persist()
    t0 = _time.monotonic()
    # the count that picks _cluster's path also materializes the
    # persisted counts frame, which both paths read
    comp = _cluster(counts.select("norm"), counts.count(),
                    local_blocking_threshold, metrics_out=metrics_out)
    if metrics_out is not None:
        metrics_out["lsh_cc_sec"] = round(_time.monotonic() - t0, 3)

    # the canonical map is per-distinct-entity (small next to mentions)
    # and feeds three downstream consumers — persist once
    t0 = _time.monotonic()
    canon = (counts.join(comp, "norm")
             .withColumn("node_id", F.col("component"))
             .persist())
    if caches_out is not None:
        caches_out.append(canon)
    n_map = canon.count()
    # counts' last consumer just materialized into the canon cache —
    # release it so repeated canonicalize() calls don't stack caches.
    # (canon itself stays persisted: the returned linked/nodes/edges
    # frames read it lazily — its lifetime is the caller's.)
    counts.unpersist()
    if metrics_out is not None:
        metrics_out["canon_map_sec"] = round(_time.monotonic() - t0, 3)

    # tie-breaks are DETERMINISTIC (r7): max_by on the bare count left
    # equal-count ties to partition row order, so `canonical` could
    # flip between runs/cluster shapes (and between the distributed
    # blocking path and its escape hatch) — the struct ordering keeps
    # the max count and breaks ties by greatest surface string
    nodes = (canon.groupBy("node_id")
             .agg(F.max_by("surface", F.struct("n", "surface"))
                  .alias("canonical"),
                  F.collect_set("norm").alias("aliases"),
                  F.sum("n").alias("mention_count")))

    # the link reads the materialized normalized frame — no
    # re-normalization, and the edges rollup's repeated evaluations of
    # `linked` scan stored columns instead of re-running the pipeline
    linked = _link_join(m_ann, canon.select("norm", "node_id"), n_map,
                        broadcast_map_threshold, salt)

    edges = (linked.groupBy(
        F.col("arg1_node").alias("src_node"),
        F.lower(F.col("rel_text")).alias("rel"),
        F.col("arg2_node").alias("dst_node"))
        .agg(F.count("*").alias("weight"),
             F.max("conf").alias("conf")))
    return linked, nodes, edges


def _link_join(m_ann: DataFrame, norm_to_node: DataFrame, n_map: int,
               broadcast_map_threshold: int, salt: int) -> DataFrame:
    """The mentions -> (arg1_node, arg2_node) lookup, strategy picked
    from the map size (shared by canonicalize and incremental_link —
    one spelling of the broadcast/salted switch)."""
    if n_map <= broadcast_map_threshold:
        j1 = m_ann.join(F.broadcast(
            norm_to_node.withColumnRenamed("norm", "_a1")
            .withColumnRenamed("node_id", "arg1_node")), "_a1")
        j2 = j1.join(F.broadcast(
            norm_to_node.withColumnRenamed("norm", "_a2")
            .withColumnRenamed("node_id", "arg2_node")), "_a2")
        return j2.drop("_a1", "_a2")
    return _fused_salted_link(m_ann, norm_to_node, salt=salt)


def _attach(bands: DataFrame, ref_bands: DataFrame,
            ref_map: DataFrame) -> DataFrame:
    """(norm, node_id): the attach rule both incremental hops apply.  A
    norm of ``bands`` attaches to a ``ref_bands`` norm (both (norm,
    band_key)) sharing a band with char-3-gram Jaccard >=
    JACCARD_THRESHOLD, and takes the MIN ``ref_map`` node_id over its
    matches (deterministic greedy tie rule).  Only verified pairs join
    ``ref_map``."""
    ref = ref_bands.select("band_key", F.col("norm").alias("_ref"))
    return (bands.join(ref, "band_key")
            .select("norm", "_ref").distinct()
            .where(_char3_jaccard("norm", "_ref")
                   >= F.lit(JACCARD_THRESHOLD))
            .join(ref_map.withColumnRenamed("norm", "_ref"), "_ref")
            .groupBy("norm").agg(F.min("node_id").alias("node_id")))


def incremental_link(new_mentions: DataFrame, existing_map: DataFrame,
                     max_bucket: int = 64,
                     metrics_out: dict | None = None,
                     caches_out: list | None = None,
                     existing_banded: DataFrame | None = None):
    """-> (linked_new_mentions, delta_map): link a NEW mention batch
    against an existing canonical map without re-clustering the whole
    corpus — the daily-update path at 10^12 docs, where a full
    canonicalize() re-run both recomputes everything and (worse)
    can churn node ids the downstream KG already references.

    ``existing_map`` is (norm, node_id) — ``canonicalize``'s canon
    frame projected, or the union of previous delta_maps.

    Stability contract: rows of ``existing_map`` are NEVER reassigned.
    New norms (normalized by canonicalize's own ``_annotate``) resolve
    in three tiers:
    1. exact: norm already in the map -> its existing node_id;
    2. attach (``_attach``): near-duplicate of an existing norm (the
       same banded MinHash blocking, band cap and char-3-gram Jaccard
       verification as the batch path) -> the existing node_id, MIN
       across multiple matches (deterministic greedy tie rule);
    3. novel: the remainder clusters among ITSELF through canonicalize's
       own ``_cluster`` (the driver hatch for small increments,
       distributed LSH + CC above) and mints new node ids.  A new id is
       a min-norm component label over norms disjoint from the map, and
       every existing id is a min-norm over mapped norms — so fresh
       ids cannot collide with existing ones.

    Known divergence from a full batch recompute (standard for
    incremental linking): attachment is per-norm greedy, so evidence
    in the new batch that two EXISTING nodes are the same entity does
    not merge them, and transitive attach chains are followed for at
    most TWO hops (a norm near-dup only of a same-increment attached
    norm still attaches; longer chains mint fresh ids) — cluster-level
    merges and longer chains are deferred to the next full
    canonicalize().  ``metrics_out`` receives n_exact / n_attached
    / n_novel plus ``dropped_bands_attach`` (hot existing-map bands the
    cap excluded — near-dups of those entities mint fresh ids instead
    of attaching, so the drift is observable, never silent;
    ``dropped_buckets`` keeps its batch meaning: the NOVEL tier's own
    clustering) so drift is observable per increment.

    ``caches_out`` (canonicalize's convention): receives every frame
    this call materializes so a repeated caller — stream_link runs one
    call PER MICRO-BATCH — can release them once the outputs are
    written; without it a long-lived session stacks per-batch
    checkpoint/persist blocks.

    Scale shape: the new batch's norms are the small side everywhere;
    the existing map is banded once per increment — or ZERO times
    when the caller maintains the banded frame across increments via
    ``existing_banded`` (seed it with ``band_entities(map)``, extend
    with ``band_entities(delta_map)`` after each call; it is
    per-distinct-entity, MBs against a 100 TB corpus) — and its
    degenerate bands are capped like the batch path; the final
    mention join reuses the broadcast/salted switch (_link_join)."""
    def _mat(df):
        out = materialize_once(df)
        if caches_out is not None:
            caches_out.append(out)
        return out

    m_ann = _mat(_annotate(new_mentions))
    norms = (m_ann.select(F.col("_a1").alias("norm"))
             .unionByName(m_ann.select(F.col("_a2").alias("norm")))
             .where(F.col("norm") != "").distinct())
    unknown = _mat(norms.join(existing_map, "norm", "left_anti"))

    b_new = _mat(_lsh_banded(unknown))
    # the map-side band frame is read TWICE (sizes + the kept-join
    # probe) and its minhash pipeline is the dominant blocking cost —
    # cap_blocks materializes it once per increment, or better: pass
    # ``existing_banded`` (band_entities of the map, maintained by
    # unioning band_entities(delta_map) after each increment) and the
    # map is never re-banded at all; a caller-owned frame is NOT
    # added to caches_out (its lifetime spans increments)
    if existing_banded is not None:
        # stale-frame guard: a frame that doesn't cover the map never
        # shares a band key with it, so every near-dup would silently
        # mint a fresh id, and n_attached=0 looks healthy.  The probe
        # norms are COLLECTED once (r7: a lazy limit(1)-without-order
        # frame is nondeterministic across its two evaluations); a
        # handful of norms rather than one catches frames stale for a
        # subset of the map, and the expected hit count is BANDS x
        # probes by construction (_lsh_banded emits exactly BANDS rows
        # per norm), so no second count job.
        sample_norms = [r.norm for r in
                        existing_map.select("norm").limit(3).collect()]
        if sample_norms:
            import pandas as pd

            spark = new_mentions.sparkSession
            probe = spark.createDataFrame(
                pd.DataFrame({"norm": sample_norms}))
            hits = (_lsh_banded(probe)
                    .join(existing_banded, ["norm", "band_key"],
                          "left_semi").count())
            want = BANDS * len(sample_norms)
            if hits != want:
                raise ValueError(
                    "existing_banded does not match existing_map: "
                    f"{len(sample_norms)} probe norms matched "
                    f"{hits}/{want} band keys — rebuild it with "
                    "band_entities(existing_map)")
        b_old = existing_banded
    else:
        b_old = _lsh_banded(existing_map.select("norm").distinct())
    # attach-tier drops are NOT silent: a hot existing band over the
    # cap means new near-dup spellings of its entities mint fresh ids
    # instead of attaching (permanent drift until the next full
    # canonicalize) — surfaced per increment
    b_old_kept, dropped = cap_blocks(b_old, ["band_key"], max_bucket)
    if existing_banded is None and caches_out is not None:
        caches_out.append(b_old_kept)
    if metrics_out is not None:
        metrics_out["dropped_bands_attach"] = dropped
    attached = _mat(_attach(b_new, b_old_kept, existing_map))

    # SECOND attach hop: a norm whose only near-dup link is to a norm
    # attached in THIS increment would otherwise fall through to the
    # novel tier and mint a fresh id (a silent one-hop transitive
    # divergence from the batch result).  b_new already holds bands
    # for every unknown norm, so the hop is a self-join of the
    # existing frame filtered two ways — no new signature work.
    # Chains longer than two hops remain deferred to the next full
    # canonicalize (see Known divergence) and land in n_novel.
    hop2 = _mat(_attach(b_new.join(attached, "norm", "left_anti"),
                        b_new.join(attached, "norm", "left_semi"),
                        attached))
    attached = _mat(attached.unionByName(hop2))
    if metrics_out is not None:
        metrics_out["n_attached_hop2"] = hop2.count()

    novel = _mat(unknown.join(attached, "norm", "left_anti"))
    n_novel = novel.count()
    fresh = (_cluster(novel, n_novel, max_bucket=max_bucket,
                      metrics_out=metrics_out)
             .select("norm", F.col("component").alias("node_id")))

    delta_map = _mat(attached.unionByName(fresh))
    full_map = existing_map.unionByName(delta_map)
    n_map = full_map.count()
    if metrics_out is not None:
        metrics_out["n_exact"] = norms.count() - unknown.count()
        metrics_out["n_attached"] = attached.count()
        metrics_out["n_novel"] = n_novel
    linked = _link_join(m_ann, full_map, n_map, BROADCAST_MAP_THRESHOLD,
                        SALT_WAYS)
    return linked, delta_map


# the salt of the fused link is keyed on the melted row identity —
# shared with scripts/skew_demo.py so the demo measures the exact
# production shuffle keying (no hand-mirrored copy to drift)
LINK_SALT_COLS = ("_rk1", "_rk2", "side")


def _keyed_long_mentions(m: DataFrame):
    """(keyed, long) for the fused link: mention rows with the 128-bit
    row-key pair, and the melted (row_key, side, norm) frame.  The row
    key is two derived xxhash64 values over every mention column —
    collision odds are negligible even at 10^12 rows, and identical
    duplicate rows sharing a key still link correctly (they pivot to
    the same node pair)."""
    cols = [F.col(c) for c in m.columns]
    keyed = m.withColumn("_rk1", F.xxhash64(*cols)) \
             .withColumn("_rk2", F.xxhash64(*cols, F.lit(1)))
    long = keyed.select(
        "_rk1", "_rk2",
        F.explode(F.array(
            F.struct(F.lit("a1").alias("side"), F.col("_a1").alias("norm")),
            F.struct(F.lit("a2").alias("side"), F.col("_a2").alias("norm"))
        )).alias("s")).select("_rk1", "_rk2", "s.side", "s.norm")
    return keyed, long


def _fused_salted_link(m: DataFrame, norm_to_node: DataFrame,
                       salt: int) -> DataFrame:
    """Both arg lookups in ONE salted join: melt (row_key, side, norm)
    long, join the canonical map once, pivot the sides back, rejoin
    (see ``_keyed_long_mentions`` for the row-key construction)."""
    keyed, long = _keyed_long_mentions(m)
    hit = salted_join(long, norm_to_node, "norm", salt=salt,
                      salt_cols=LINK_SALT_COLS)
    pivoted = (hit.groupBy("_rk1", "_rk2")
               .agg(F.max(F.when(F.col("side") == "a1",
                                 F.col("node_id"))).alias("arg1_node"),
                    F.max(F.when(F.col("side") == "a2",
                                 F.col("node_id"))).alias("arg2_node"))
               .where(F.col("arg1_node").isNotNull()
                      & F.col("arg2_node").isNotNull()))
    return (keyed.join(pivoted, ["_rk1", "_rk2"])
            .drop("_rk1", "_rk2", "_a1", "_a2"))
