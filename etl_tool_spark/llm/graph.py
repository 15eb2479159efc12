"""Distributed connected components over near-duplicate PAIRS.

Pairwise near-dup output (MinHash LSH / SimHash banding / embedding
LSH — llm/dedup.py, llm/similarity.py) is not yet a dedup policy: if
A~B and B~C but A~C missed the threshold, pairwise drop-higher-id
would keep A and C as "unique" even though they are transitively tied
to the same cluster. The fixpoint here collapses pairs into groups so
a corpus keeps exactly one representative per component (the min id).

Algorithm: min-label propagation. Every vertex starts labeled with its
own id; each round a vertex takes the minimum label among itself and
its neighbors; the fixpoint is reached when no label changes. Rounds
to converge = component diameter. Near-dup components are shallow
star-ish clusters (a template document + its variants), so in practice
this is 2-4 rounds; ``max_iter`` bounds the pathological chain case
and the function raises rather than returning a half-merged labeling.
The logarithmic-round alternative for deep components — alternating
large-star/small-star (Kiveris et al., "Connected Components in
MapReduce and Beyond") — is ``connected_components_star``: same
labeling contract, O(log n) rounds regardless of diameter, at the cost
of two shuffles per round instead of one. Pick label propagation for
shallow near-dup clusters, the star variant when components can be
long chains (e.g. temporally drifting duplicates).

Scale shape per round: one shuffle join (labels ⋈ edges on vertex) +
one min-aggregation — both partition on the vertex id, so AQE reuses
the layout. ``localCheckpoint`` (eager) truncates lineage per round:
without it the plan doubles each iteration and the job dies on plan
explosion long before data size matters. On a cluster, checkpointing
to HDFS (``checkpoint``) trades recompute-on-executor-loss for
durability; local mode keeps the cheap variant.

Checkpoint lifecycle: every superseded round's blocks (and the edges
frame's, on exit) are unpersisted as soon as the next round is
materialized — a fixpoint that pins every round would grow executor
storage by O(V) per iteration and, worse, per CALL on a long-lived
session. Only the RETURNED labels frame stays pinned (its data IS the
checkpoint); it is released by the context cleaner when the caller
drops the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class ConvergenceError(RuntimeError):
    """Raised when max_iter rounds did not reach the labeling fixpoint."""


def _checkpoint_rdd(df: DataFrame):
    """The pinned RDD behind a materialized localCheckpoint frame (its
    analyzed plan is a LogicalRDD wrapping exactly the persisted RDD).
    None when the handle can't be reached — cleanup then falls back to
    the context cleaner, never to an error."""
    try:
        return df._jdf.queryExecution().analyzed().rdd()
    except Exception:  # pragma: no cover - py4j surface drift
        return None


def release_checkpoint(df: DataFrame) -> None:
    """Unpersist a localCheckpoint frame's blocks now, not at JVM GC."""
    rdd = _checkpoint_rdd(df)
    if rdd is not None:
        rdd.unpersist(False)


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst",
                         max_iter: int = 25) -> DataFrame:
    """(id, label) for every vertex appearing in ``edges``; ``label`` is
    the minimum vertex id of the component. Vertices not in any edge are
    absent (callers left-join and coalesce to the vertex's own id)."""
    e0 = edges.select(F.col(src).cast("long").alias("u"),
                      F.col(dst).cast("long").alias("v"))
    # materialize the INPUT edges before symmetrizing: the union below
    # duplicates its child subtree, and CC inputs are typically the
    # engine's most expensive subplans (LSH candidate generation with
    # Arrow signature stages, trigram verify joins). Without this pin
    # the whole candidate pipeline executes once per union branch —
    # measured 5-8s vs 47-81s on the semantic-dedup composition, where
    # the doubled Arrow-UDF fan-out also thrashes the Python worker
    # pool nondeterministically. Edge lists are pair-count-sized (small
    # relative to the corpus by construction), so the extra pin is
    # cheap at any scale; its blocks are released as soon as the
    # symmetrized frame is materialized.
    e0 = e0.localCheckpoint(eager=True)
    e0_rdd = _checkpoint_rdd(e0)
    e = e0.union(e0.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    e = e.localCheckpoint(eager=True)  # reused every round
    e_rdd = _checkpoint_rdd(e)
    if e0_rdd is not None:  # e reads its own blocks now; the input is dead
        e0_rdd.unpersist(False)

    prev_rdd = None  # the last round's blocks, freed once superseded
    try:
        labels = (e.select(F.col("u").alias("id")).distinct()
                   .withColumn("label", F.col("id")))
        for _ in range(max_iter):
            nbr_min = (e.join(labels.select(F.col("id").alias("v"),
                                            F.col("label").alias("nbr_label")), "v")
                        .groupBy("u").agg(F.min("nbr_label").alias("m")))
            new_labels = (labels.join(nbr_min.select(F.col("u").alias("id"), "m"),
                                      "id", "left")
                                .select("id",
                                        F.least("label", F.coalesce("m", "label"))
                                         .alias("label"),
                                        (F.col("m") < F.col("label")).alias("_chg")))
            # lazy checkpoint: the full-scan convergence count below is the
            # materializing job, so each round costs ONE job (an eager
            # checkpoint + separate probe would double it)
            new_labels = new_labels.localCheckpoint(eager=False)
            changed = new_labels.filter(F.col("_chg")).count()
            # this round is materialized; the one it was built from is dead
            if prev_rdd is not None:
                prev_rdd.unpersist(False)
            prev_rdd = _checkpoint_rdd(new_labels)
            labels = new_labels.drop("_chg")
            if changed == 0:
                prev_rdd = None  # the caller owns the returned checkpoint
                return labels
        raise ConvergenceError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds max_iter; raise max_iter or switch "
            "to the large-star/small-star variant)")
    finally:
        # the returned labels frame reads its own checkpoint, not e; on
        # the error paths (ConvergenceError, a failed round) nothing is
        # returned, so the last round's blocks are released too
        if e_rdd is not None:
            e_rdd.unpersist(False)
        if prev_rdd is not None:
            prev_rdd.unpersist(False)


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round. Input/output: directed edge frames (u, v).
    Every node connects its STRICTLY LARGER neighbors to the minimum of
    its closed neighborhood — long tails hook onto small ids in one hop."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (sym.groupBy("u").agg(F.min("v").alias("_nm"))
               .select("u", F.least("_nm", F.col("u")).alias("m")))
    return (sym.join(mins, "u")
               .filter(F.col("v") > F.col("u"))
               .select(F.col("v").alias("u"), F.col("m").alias("v"))
               .filter(F.col("u") != F.col("v"))
               .distinct())


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round. Input: edges pointing big→small (the
    large-star output invariant). Every node rewires its smaller
    neighbors (and itself) onto the smallest of them."""
    down = e.select(F.greatest("u", "v").alias("u"),
                    F.least("u", "v").alias("v"))
    mins = down.groupBy("u").agg(F.min("v").alias("m"))
    nbrs = down.join(mins, "u").select(F.col("v").alias("u"),
                                       F.col("m").alias("v"))
    selfs = mins.select("u", F.col("m").alias("v"))
    return (nbrs.union(selfs)
                .filter(F.col("u") != F.col("v"))
                .distinct())


def connected_components_star(edges: DataFrame, src: str = "src",
                              dst: str = "dst",
                              max_iter: int = 50) -> DataFrame:
    """(id, label) like ``connected_components``, via alternating
    large-star/small-star (Kiveris et al.) — converges in O(log n)
    rounds REGARDLESS of component diameter, so a million-node chain
    costs ~20 rounds where label propagation would need a million.

    Per round: two grouped min-aggregations + two joins, all hashed on
    the vertex id; each round's edge frame is localCheckpointed (lineage
    truncation) and released as soon as the next is materialized, same
    lifecycle as the label-propagation variant. Convergence = the edge
    set reached the star fixpoint (small-star output unchanged, checked
    exactly via two anti-joins on the checkpointed frames)."""
    raw = edges.select(F.col(src).cast("long").alias("u"),
                       F.col(dst).cast("long").alias("v"))
    # pin the input once — verts doubles the subtree via its union and
    # the edge frame reads it a third time (same rationale, same
    # lifecycle as connected_components' input pin)
    raw = raw.localCheckpoint(eager=True)
    raw_rdd = _checkpoint_rdd(raw)
    # verts from the UNfiltered edges: a vertex whose only edges are
    # self-loops must still appear (label = itself), matching
    # connected_components' contract
    verts = (raw.select(F.col("u").alias("id"))
                .union(raw.select(F.col("v").alias("id"))).distinct()
                .localCheckpoint(eager=True))
    e = raw.filter(F.col("u") != F.col("v"))
    verts_rdd = _checkpoint_rdd(verts)

    e = e.distinct().localCheckpoint(eager=True)
    prev_rdd = _checkpoint_rdd(e)
    if raw_rdd is not None:  # verts + e materialized; the input is dead
        raw_rdd.unpersist(False)
    try:
        for _ in range(max_iter):
            nxt = _small_star(_large_star(e)).localCheckpoint(eager=True)
            nxt_rdd = _checkpoint_rdd(nxt)
            same = (nxt.exceptAll(e).isEmpty()
                    and e.exceptAll(nxt).isEmpty())
            if prev_rdd is not None:
                prev_rdd.unpersist(False)
            e, prev_rdd = nxt, nxt_rdd
            if same:
                # fixpoint: e is a star forest — (node, component min)
                labels = (verts.join(
                    e.select(F.col("u").alias("id"), F.col("v").alias("_l")),
                    "id", "left")
                    .select("id", F.coalesce("_l", "id").alias("label")))
                # materialize OFF the soon-to-be-released checkpoints
                labels = labels.localCheckpoint(eager=True)
                return labels
        raise ConvergenceError(
            f"connected_components_star did not converge in {max_iter} "
            "rounds (expected O(log n); check for pathological input)")
    finally:
        if verts_rdd is not None:
            verts_rdd.unpersist(False)
        if prev_rdd is not None:
            prev_rdd.unpersist(False)


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             iters: int = 3, scale: int = 10**9,
             damp_num: int = 85, damp_den: int = 100) -> DataFrame:
    """Integer-exact PageRank over the UNDIRECTED graph of ``edges``:
    (node, rank) after exactly ``iters`` power iterations, all
    arithmetic in scaled longs with truncating integer division — so
    the result is bit-identical on any engine that has 64-bit integer
    division (the catalog's DuckDB oracle unrolls the same iterations
    in SQL), with none of the float-summation order sensitivity that
    makes naive distributed PageRank non-deterministic.

    rank₀(v) = scale; each round
      rank(v) = (damp_den−damp_num)·scale ÷ damp_den
              + damp_num · Σ_{u→v} (rank(u) ÷ deg(u)) ÷ damp_den
    (÷ = truncating division; ranks are PageRank·N·scale, so the
    total mass ≈ |V|·scale and no per-node 1/N division is needed).

    Scale shape per round: one shuffle join (ranks ⋈ edges on the
    source vertex) + one partial-agg'd sum on the destination.
    Symmetrized edges mean no dangling vertices (every node in an edge
    has out-degree ≥ 1), so no dangling-mass redistribution pass is
    needed. Three deliberate job-count savers (round-7 fix for the
    eager-checkpoint-per-round variant, whose 3 materialization jobs
    per query drove both the 4.5→10.1 s regression and the 2.3×
    run-to-run spread in the round-6 bench):

    - the edge⋈degree frame is REPARTITIONED ON THE JOIN KEY before
      its one eager checkpoint, so every round's join reuses that
      partitioning (LogicalRDD preserves it) and only the ranks side
      shuffles;
    - round 1 is join-free — rank₀ is the constant ``scale``, so the
      first contribution is a pure column expression over ``ed``;
    - rounds chain LAZILY (connected_components' fold-into-next-action
      pattern); lineage is truncated by an eager checkpoint only every
      ``checkpoint_every`` rounds (blocks of the superseded checkpoint
      released immediately) and once at the end, so an ``iters``-round
      run costs 2 + iters/checkpoint_every jobs, not iters.

    Long-domain bound: a node's rank is < damp_num · |V| · scale, so
    the default scale=10⁹ is exact to ~10⁸ vertices; beyond that pass
    a smaller scale (fewer rank digits) — the 128-bit alternative
    costs Spark's ``div``-returns-long surface and is not needed
    before ~10¹⁰ vertices at scale=10⁶.
    """
    e = edges.select(F.col(src).cast("long").alias("u"),
                     F.col(dst).cast("long").alias("v"))
    # canonicalize BEFORE symmetrizing: distinct over (min, max) pairs
    # costs half the rows of distinct-over-the-doubled-union (the
    # round-6 shape), and swapped copies of distinct canonical pairs
    # cannot collide afterward, so no second dedup is needed.
    # Self-loops are excluded from the swap so they count once, exactly
    # as union+distinct counted them.
    canon = (e.select(F.least("u", "v").alias("u"),
                      F.greatest("u", "v").alias("v")).distinct())
    # pin the canonical edges before fanning out (union branches + the
    # degree aggregate + the join each reference them — CC's e0
    # rationale: without the pin the input subplan, often an expensive
    # upstream join, executes once per reference)
    canon = canon.localCheckpoint(eager=True)
    canon_rdd = _checkpoint_rdd(canon)
    sym = canon.union(
        canon.filter(F.col("u") != F.col("v"))
             .select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    # explicit repartition, not ENSURE_REQUIREMENTS: a sort-merge plan
    # would leave ed hash-partitioned on u anyway, but AQE is free to
    # plan sym⋈deg as a broadcast join (deg is small), which preserves
    # sym's — wrong — partitioning and silently re-shuffles ed every
    # round. One guaranteed build-time shuffle buys iters reused ones
    # (LogicalRDD carries the partitioning through the checkpoint).
    ed = sym.join(deg, "u").repartition("u").localCheckpoint(eager=True)
    ed_rdd = _checkpoint_rdd(ed)
    if canon_rdd is not None:  # ed reads its own blocks now
        canon_rdd.unpersist(False)
    teleport = (damp_den - damp_num) * scale // damp_den
    checkpoint_every = 8
    prev_rdd = None
    try:
        ranks = None
        for i in range(iters):
            if ranks is None:
                # rank₀ is the constant `scale`: the first round's
                # contribution needs no join at all
                contrib = ed.select(F.col("v").alias("node"),
                                    F.expr(f"{scale} div d").alias("m"))
            else:
                contrib = (ed.join(ranks, ed["u"] == ranks["node"])
                             .select(F.col("v").alias("node"),
                                     F.expr("rank div d").alias("m")))
            ranks = (contrib.groupBy("node").agg(F.sum("m").alias("m"))
                     .select("node",
                             (F.lit(teleport)
                              + F.expr(f"({damp_num} * m) div {damp_den}")
                              ).alias("rank")))
            if (i + 1) % checkpoint_every == 0 and i + 1 < iters:
                ranks = ranks.localCheckpoint(eager=True)
                if prev_rdd is not None:
                    prev_rdd.unpersist(False)
                prev_rdd = _checkpoint_rdd(ranks)
        if ranks is None:  # iters == 0: every vertex at rank₀
            ranks = (ed.select(F.col("u").alias("node")).distinct()
                       .withColumn("rank", F.lit(scale).cast("long")))
        # one materializing job for the whole (since-last-checkpoint)
        # chain; the caller's actions then read these blocks
        ranks = ranks.localCheckpoint(eager=True)
        if prev_rdd is not None:
            prev_rdd.unpersist(False)
        prev_rdd = None  # the caller owns the returned checkpoint
        return ranks
    finally:
        if ed_rdd is not None:
            ed_rdd.unpersist(False)
        if prev_rdd is not None:
            prev_rdd.unpersist(False)
