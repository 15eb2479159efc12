"""Similarity search over embedding columns (array<float>).

Two paths:
  * brute_force_topk — exact cosine top-k. The query set is broadcast
    (it's small by construction); the corpus streams map-side through a
    broadcast-nested-loop join + per-query window top-k. Exact baseline
    and the verify stage for approximate paths.
  * lsh_topk — random-hyperplane (sign) LSH: deterministic md5-derived
    hyperplanes, docs+queries bucketed by sign signature; top-k only
    within matching buckets. At 100 TB this turns the scan-per-query into
    an equi-join on the signature prefix.

Dot products use F.zip_with + F.aggregate — JVM-side higher-order
functions over the arrays, summed left-to-right in element order, so
DuckDB's list_dot_product-style oracle reproduces values exactly (same
float→double promotion, same order)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_tool_spark import commit as C
from etl_tool_spark.llm.text import hash64
from etl_tool_spark.operators.skew import verify_spread

__all__ = ["dot", "norm", "cosine", "brute_force_topk", "hyperplane_signature",
           "lsh_topk", "sign_bits", "embedding_dup_pairs",
           "incremental_embedding_pairs", "append_embedding_signatures",
           "spherical_kmeans_centroids", "ivf_assign", "ivf_topk",
           "ivf_build_index", "ivf_search", "ivf_append_index",
           "ivf_cell_stats", "hard_negatives",
           "pq_train_codebooks", "pq_encode", "pq_topk", "ivfpq_topk",
           "pq_build_index", "pq_search", "pq_append_index", "semdedup",
           "mmr_topk"]


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
                       F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     query_id_col: str = "query_id") -> DataFrame:
    """Exact top-k neighbors per query. ``queries`` must be small (it is
    broadcast). Ties broken by corpus id ascending — deterministic.
    Excludes self-matches when ids coincide."""
    from pyspark.sql import Window

    # norms materialize ONCE per row on each side (HOF expressions are
    # interpreted, not codegen'd — recomputing norm(q) and norm(c) per
    # PAIR inside cosine() triples the dominant cost; measured 3×)
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("_qvec"),
                       norm(F.col(vec_col)).alias("_qnorm"))
    c = corpus.select(F.col(id_col), F.col(vec_col).alias("_cvec"),
                      norm(F.col(vec_col)).alias("_cnorm"))
    sim = F.round(F.try_divide(dot(F.col("_qvec"), F.col("_cvec")),
                               F.col("_qnorm") * F.col("_cnorm")), 6)
    scored = (c.crossJoin(F.broadcast(q))
                .filter(F.col(id_col) != F.col(query_id_col))
                .select(query_id_col, id_col, sim.alias("cosine_sim")))
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine_sim").desc(),
                                                 F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k))


def plane_component(p: int, j: int) -> float:
    """±1 by bit parity of md5(f'{p}|{j}') — the same value hash64 would
    yield in either engine, precomputed driver-side so the plan carries a
    literal array per plane instead of dim×planes CASE expressions."""
    import hashlib

    h = int(hashlib.md5(f"{p}|{j}".encode()).hexdigest()[:15], 16)
    return 1.0 if h & 1 == 1 else -1.0


def hyperplane_signature(vec: Column, dim: int, planes: int = 8) -> Column:
    """Sign signature under ``planes`` deterministic pseudo-random
    hyperplanes (md5-derived — reproducible anywhere)."""
    comps = []
    for p in range(planes):
        plane = F.array(*[F.lit(plane_component(p, j)) for j in range(dim)])
        proj = F.aggregate(
            F.zip_with(vec, plane, lambda x, h: x.cast("double") * h),
            F.lit(0.0), lambda acc, v: acc + v)
        comps.append(F.when(proj > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*comps)


def _banded_signatures(vec: Column, dim: int, bands: int, rows: int) -> Column:
    """array of ``bands`` signature strings, band b = the signs under its
    own ``rows`` hyperplanes, prefixed with the band id."""
    out = []
    for b in range(bands):
        # per-band planes get distinct indices so bands are independent
        comps = []
        for r in range(rows):
            p = b * rows + r
            plane = F.array(*[F.lit(plane_component(p, j)) for j in range(dim)])
            proj = F.aggregate(F.zip_with(vec, plane, lambda x, h: x.cast("double") * h),
                               F.lit(0.0), lambda acc, v: acc + v)
            comps.append(F.when(proj > 0, F.lit("1")).otherwise(F.lit("0")))
        out.append(F.concat(F.lit(f"{b}:"), *comps))
    return F.array(*out)


def sign_bits(vec: Column, dim: int, planes: int) -> Column:
    """array<string> of '0'/'1' — the sign of ``vec`` under each of
    ``planes`` md5-derived hyperplanes, as one Arrow-batched numpy
    product per batch (same rationale as _centroid_scores: an
    interpreted HOF walk over a planes×dim literal matrix costs ~30µs
    per projection, which at 384 planes dominated embedding_dup_pairs'
    runtime ~50×). The plane matrix is tiny and deterministic
    (md5-derived), the batched product is bit-deterministic, and the
    signs only steer LSH *candidate* generation — exact cosine
    verification downstream still uses the oracle-order HOF ``dot``.
    Materialize the result into its own column before slicing it per
    band, so the projection work runs once per row, not once per band."""
    from pyspark.sql.functions import pandas_udf

    P = np.asarray([[plane_component(p, j) for j in range(dim)]
                    for p in range(planes)], dtype=np.float64)

    @pandas_udf("array<string>")
    def bits(emb: pd.Series) -> pd.Series:
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in emb])
        if len(X) == 0:
            return pd.Series([], dtype=object)
        S = (X[:, None, :] * P[None, :, :]).sum(axis=-1)
        B = np.where(S > 0, "1", "0")
        return pd.Series(list(B))

    return bits(vec)


def _bucket_key_array(bits: Column, bands: int,
                      rows_per_band: int) -> Column:
    """array<string> of the ``bands`` 'band:signbits' bucket keys —
    element b is the _bkt value _banded_keys explodes for band b.
    Shared by _banded_keys and the semantic gate's FUSED staging write,
    which stores this array per vector so band keys ride the same
    staged table as the normed vectors."""
    return F.array(*[
        F.concat(F.lit(f"{b}:"),
                 F.array_join(F.slice(bits, b * rows_per_band + 1,
                                      rows_per_band), ""))
        for b in range(bands)
    ])


def _banded_keys(df: DataFrame, id_col: str = "vec_id",
                 vec_col: str = "embedding", dim: int = 64,
                 bands: int = 64, rows_per_band: int = 6) -> DataFrame:
    """(id, _bkt) — one row per (vector, band), _bkt = 'band:signbits'.
    The sign projection runs once per row (sign_bits materializes the
    full bit array before the per-band slices)."""
    bits = df.select(F.col(id_col),
                     sign_bits(F.col(vec_col), dim,
                               bands * rows_per_band).alias("_bits"))
    return bits.select(id_col,
                       F.explode(_bucket_key_array(F.col("_bits"), bands,
                                                   rows_per_band))
                        .alias("_bkt"))


def embedding_dup_pairs(df: DataFrame, threshold: float = 0.45,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        dim: int = 64, bands: int = 64,
                        rows_per_band: int = 6,
                        max_bucket: int | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, scale-shaped: banded
    sign-LSH candidate generation (equi-join on (band, signature) —
    never a cross join) followed by exact cosine verification on the
    candidate pairs only. Output: (a, b, cosine_sim) with a < b and
    cosine ≥ threshold.

    Recall is probabilistic in general: P(candidate) = 1-(1-q^R)^B with
    q = 1-acos(cos θ)/π per plane. The defaults (64 bands × 6 rows) are
    sized for thresholds near 0.45; at realistic near-dup thresholds
    (≥ 0.8, q ≥ 0.8) a handful of bands already gives ~1.0 recall and
    the buckets prune >99% of pairs. The exact O(n²) form lives in the
    oracle / tests as the small-n twin (same pattern as
    brute_force_topk vs lsh_topk).

    ``max_bucket`` is the hot-bucket guard (llm/dedup.py
    lsh_candidate_pairs parity): a bucket holding b vectors emits
    C(b,2) candidates, so one degenerate bucket — a cluster of
    boilerplate embeddings, or any bucket at thresholds low enough
    that bands stop discriminating — can go quadratic. Buckets over
    the cap are dropped whole (bounded recall loss, sized by one
    count shuffle over band rows, never a pair fan-out); None keeps
    every bucket and the exact-recall contract the oracle checks."""
    banded = _banded_keys(df, id_col, vec_col, dim, bands, rows_per_band)
    if max_bucket is not None:
        hot = (banded.groupBy("_bkt")
                     .agg(F.count(F.lit(1)).alias("_n"))
                     .filter(F.col("_n") > max_bucket)
                     .select("_bkt"))
        banded = banded.join(hot, "_bkt", "left_anti")
    left, right = banded.alias("l"), banded.alias("r")
    cands = (left.join(right, [F.col("l._bkt") == F.col("r._bkt"),
                               F.col(f"l.{id_col}") < F.col(f"r.{id_col}")])
                 .select(F.col(f"l.{id_col}").alias("a"),
                         F.col(f"r.{id_col}").alias("b"))
                 .distinct())
    # per-row INTERPRETED HOF dot downstream: pin verify parallelism
    # count-based (jstack during the 5s↔80s stall showed 7/32 threads
    # in ArrayAggregate.eval) — rationale + opt-out knob in
    # operators/skew.py:verify_spread
    cands = verify_spread(cands)
    # norms hoisted to one per row (not per candidate pair): HOF
    # expressions are interpreted, so norm-in-cosine would triple the
    # verify cost (brute_force_topk's rationale)
    va = df.select(F.col(id_col).alias("a"), F.col(vec_col).alias("_va"),
                   norm(F.col(vec_col)).alias("_na"))
    vb = df.select(F.col(id_col).alias("b"), F.col(vec_col).alias("_vb"),
                   norm(F.col(vec_col)).alias("_nb"))
    sim = F.try_divide(dot(F.col("_va"), F.col("_vb")),
                       F.col("_na") * F.col("_nb"))
    return (cands.join(va, "a").join(vb, "b")
                 .filter(sim >= threshold)
                 .select("a", "b", F.round(sim, 6).alias("cosine_sim")))


def _sample_unit_matrix(df: DataFrame, sample_n: int, id_col: str,
                        vec_col: str, what: str):
    """Deterministic training sample shared by every driver-side
    quantizer trainer (coarse centroids, PQ codebooks, IVF-PQ
    residuals): the ``sample_n`` LOWEST ids (partitioning-independent,
    unlike df.sample), L2-normalized. One definition so the samplers
    cannot drift and composed trainers (ivfpq_topk) collect the sample
    ONCE instead of once per trainer (round-6 review finding)."""
    rows = (df.select(id_col, vec_col).orderBy(F.col(id_col))
              .limit(sample_n).collect())
    x = np.array([r[1] for r in rows], dtype=np.float64)
    if len(x) == 0:
        raise ValueError(f"cannot train {what} on an empty corpus")
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    return x


def spherical_kmeans_centroids(df: DataFrame, nlist: int = 16,
                               sample_n: int = 4096, iters: int = 10,
                               seed: int = 7, id_col: str = "vec_id",
                               vec_col: str = "embedding",
                               sample_matrix=None) -> list[list[float]]:
    """Deterministic spherical k-means centroids for an IVF index.

    Runs driver-side on a DETERMINISTIC sample (the ``sample_n`` lowest
    ids — not ``df.sample``, whose row pick depends on partitioning), a
    fixed iteration count, and a seeded init, so the same corpus always
    yields byte-identical centroids — required for the driver's
    stable-result check and for incremental re-indexing (new data joins
    an existing index instead of invalidating it). At 100 TB the sample
    is still a few thousand rows: k-means training data NEVER scales
    with the corpus; only assignment does (distributed, see ivf_assign).

    Spherical variant: vectors and centroids live on the unit sphere, so
    argmax dot == argmax cosine and Lloyd's mean+renormalize step is the
    exact update. Empty clusters reseed to the farthest sample point
    (deterministic tie-break by index)."""
    import numpy as np

    x = (sample_matrix if sample_matrix is not None
         else _sample_unit_matrix(df, sample_n, id_col, vec_col,
                                  "IVF centroids"))
    nlist = min(nlist, len(x))

    rng = np.random.default_rng(seed)
    cent = x[rng.choice(len(x), size=nlist, replace=False)].copy()
    for _ in range(iters):
        sims = x @ cent.T                       # (n, nlist)
        assign = np.argmax(sims, axis=1)
        for c in range(nlist):
            members = x[assign == c]
            if len(members) == 0:               # reseed: farthest point
                far = int(np.argmin(np.max(sims, axis=1)))
                cent[c] = x[far]
            else:
                m = members.sum(axis=0)
                cent[c] = m / max(np.linalg.norm(m), 1e-12)
    return [[float(v) for v in c] for c in cent]


def _centroid_scores(vec: Column, centroids: list[list[float]]) -> Column:
    """array<double> of dot(vec, centroid_i), as an Arrow-batched Pandas
    UDF doing one numpy mat-vec per batch.

    This is the one dense-linear-algebra hot spot where the JVM HOF walk
    loses: an interpreted ``transform(aggregate(zip_with))`` over a
    literal nlist×dim matrix costs ~30µs per dot locally (measured:
    nlist=32 assignment alone was 3× the flops of the brute-force scan
    and dominated IVF runtime), while the batched einsum-style product is
    microseconds per thousand rows and transfers each embedding once over
    Arrow. numpy's C reduce is single-threaded with a fixed pairwise
    order, so scores are bit-deterministic run-to-run — which the
    driver's stable-result check requires. Queries with SQL oracles keep
    the HOF ``dot`` (element-order-identical to DuckDB's
    list_dot_product); this path has no oracle by construction."""
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)

    @pandas_udf("array<double>")
    def scores(emb: pd.Series) -> pd.Series:
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in emb])
        if len(X) == 0:
            return pd.Series([], dtype=object)
        # (n, 1, dim) * (1, nlist, dim) summed on dim: fixed reduce order
        S = (X[:, None, :] * C[None, :, :]).sum(axis=-1)
        return pd.Series(list(S))

    return scores(vec)


def ivf_assign(df: DataFrame, centroids: list[list[float]],
               vec_col: str = "embedding",
               cluster_col: str = "_ivf_cluster") -> DataFrame:
    """Nearest-centroid (coarse-quantizer) assignment, map-side: argmax
    dot over the literal centroid matrix. Centroids are unit-norm, so
    argmax dot == argmax cosine without normalizing the data vector. At
    100 TB the assigned frame is written bucketed/partitioned by this
    column once; probes then become partition-pruned equi-joins."""
    # materialize scores in their own projection: argmax references the
    # array twice, and Project-collapse would otherwise inline the
    # nlist×dim dot-product walk once per reference (the HOF-inlining
    # pitfall — same guard as sign_bits/_toks elsewhere)
    return (df.withColumn("_ivf_scores", _centroid_scores(F.col(vec_col), centroids))
              .withColumn(cluster_col,
                          (F.array_position(F.col("_ivf_scores"),
                                            F.array_max(F.col("_ivf_scores"))) - 1)
                          .cast("int"))
              .drop("_ivf_scores"))


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             nlist: int = 16, nprobe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id",
             centroids: list[list[float]] | None = None) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index: corpus vectors
    are assigned to their nearest of ``nlist`` centroids; each query
    probes only its ``nprobe`` nearest cells. Exact cosine + window
    top-k run on the probed cells only — an equi-join on the cluster id,
    never a scan per query.

    Recall dial: nprobe/nlist is the fraction of the corpus scanned per
    query (nprobe=nlist degenerates to exact brute force). Unlike
    sign-LSH (independent random bands), IVF cells follow the data
    distribution, so equal scan fractions usually buy more recall on
    clustered corpora; LSH needs no training. Both live here; pick by
    corpus shape."""
    from pyspark.sql import Window

    if centroids is None:
        centroids = spherical_kmeans_centroids(corpus, nlist=nlist,
                                               id_col=id_col, vec_col=vec_col)
    c = ivf_assign(corpus, centroids, vec_col=vec_col) \
        .select(F.col(id_col), F.col(vec_col).alias("_cvec"),
                norm(F.col(vec_col)).alias("_cnorm"),
                F.col("_ivf_cluster").alias("_cell"))
    qscores = _centroid_scores(F.col(vec_col), centroids)
    # nprobe nearest cells: sort (score, index) structs desc, take indices
    probe_cells = F.slice(
        F.reverse(F.array_sort(F.transform(
            qscores,
            lambda s, i: F.struct(s.alias("s"), i.alias("i"))))),
        1, nprobe)
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("_qvec"),
                       norm(F.col(vec_col)).alias("_qnorm"),
                       F.explode(F.transform(probe_cells, lambda p: p["i"]))
                        .alias("_cell"))
    cands = (c.join(F.broadcast(q), "_cell")
              .filter(F.col(id_col) != F.col(query_id_col)))
    sim = F.round(F.try_divide(dot(F.col("_qvec"), F.col("_cvec")),
                               F.col("_qnorm") * F.col("_cnorm")), 6)
    scored = cands.select(query_id_col, id_col, sim.alias("cosine_sim"))
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine_sim").desc(),
                                                 F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k))


def lsh_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id", dim: int = 64,
             bands: int = 4, rows_per_band: int = 2) -> DataFrame:
    """Approximate top-k via banded sign-LSH (OR of ANDs, minhash-style):
    a corpus vector is a candidate for a query when ANY band's
    ``rows_per_band``-bit sign signature matches — an equi-join per band,
    never a scan per query. Exact cosine + window top-k then run on the
    deduplicated candidate set only.

    Recall/cost dial: more rows_per_band ⇒ tighter buckets (cheaper,
    lower recall); more bands ⇒ more chances to collide (higher recall,
    more candidates). The single-signature form is bands=1."""
    from pyspark.sql import Window

    sigs = _banded_signatures(F.col(vec_col), dim, bands, rows_per_band)
    c = corpus.select(F.col(id_col), F.col(vec_col).alias("_cvec"),
                      norm(F.col(vec_col)).alias("_cnorm"),
                      F.explode(sigs).alias("_sig"))
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("_qvec"),
                       norm(F.col(vec_col)).alias("_qnorm"),
                       F.explode(sigs).alias("_sig"))
    cands = (c.join(F.broadcast(q), "_sig")
              .filter(F.col(id_col) != F.col(query_id_col))
              .select(query_id_col, id_col, "_qvec", "_cvec",
                      "_qnorm", "_cnorm")
              .dropDuplicates([query_id_col, id_col]))
    sim = F.round(F.try_divide(dot(F.col("_qvec"), F.col("_cvec")),
                               F.col("_qnorm") * F.col("_cnorm")), 6)
    scored = cands.select(query_id_col, id_col, sim.alias("cosine_sim"))
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine_sim").desc(),
                                                 F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k))


# the fixed schemas of the IVF centroid and PQ codebook tables
_CENTROIDS = "cell int, centroid array<double>"
_CODEBOOKS = "sub int, cent int, vec array<double>"


def ivf_build_index(corpus: DataFrame, index_dir: str, nlist: int = 16,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> list[list[float]]:
    """Persist an IVF index: the train-once / serve-many split of
    ivf_topk. Writes

      {index_dir}/centroids — nlist rows (cell, centroid array)
      {index_dir}/vectors   — the corpus with its norm, PARTITIONED BY
                              the assigned cell

    so searches read centroids (tiny), pick probe cells, and touch only
    those cells' files: the cell is a directory partition column, and
    the probe join prunes partitions at runtime (dynamic partition
    pruning — asserted in tests). At 100 TB this is the difference
    between a scan per query batch and reading nprobe/nlist of the
    corpus; norms are precomputed at build so serving never re-walks
    vectors it doesn't score. Returns the trained centroids."""
    base = index_dir.rstrip("/")
    centroids = spherical_kmeans_centroids(corpus, nlist=nlist,
                                           id_col=id_col, vec_col=vec_col)
    spark = corpus.sparkSession
    (spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        _CENTROIDS)
        .coalesce(1).write.mode("overwrite").parquet(f"{base}/centroids"))
    # repartition ON the partition column first: without it every task
    # opens a writer per cell it holds (tasks × nlist files); with it,
    # each cell's rows land in one task → one file per cell per build
    (ivf_assign(corpus, centroids, vec_col=vec_col, cluster_col="cell")
        .withColumn("_cnorm", norm(F.col(vec_col)))
        .repartition(F.col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(f"{base}/vectors"))
    return centroids


def _ivf_read_centroids(spark, base: str) -> list[list[float]]:
    rows = (spark.read.schema(_CENTROIDS).parquet(f"{base}/centroids")
                 .orderBy("cell").collect())
    return [list(r["centroid"]) for r in rows]


def ivf_search(spark, index_dir: str, queries: DataFrame, k: int = 5,
               nprobe: int = 4, id_col: str = "vec_id",
               vec_col: str = "embedding",
               query_id_col: str = "query_id") -> DataFrame:
    """Top-k against a PERSISTED IVF index (see ivf_build_index).
    Identical results to ivf_topk with the same centroids (asserted in
    tests); the difference is operational: no training or assignment at
    query time, and the probe equi-join reads only the probed cells'
    partitions via dynamic partition pruning."""
    from pyspark.sql import Window

    base = index_dir.rstrip("/")
    C.recover(base)
    centroids = _ivf_read_centroids(spark, base)
    c = (spark.read.parquet(f"{base}/vectors")
              .select(F.col(id_col), F.col(vec_col).alias("_cvec"),
                      F.col("_cnorm"), F.col("cell")))
    qscores = _centroid_scores(F.col(vec_col), centroids)
    probe_cells = F.slice(
        F.reverse(F.array_sort(F.transform(
            qscores,
            lambda s, i: F.struct(s.alias("s"), i.alias("i"))))),
        1, nprobe)
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("_qvec"),
                       norm(F.col(vec_col)).alias("_qnorm"),
                       F.explode(F.transform(probe_cells, lambda p: p["i"]))
                        .alias("cell"))
    cands = (c.join(F.broadcast(q), "cell")
              .filter(F.col(id_col) != F.col(query_id_col)))
    sim = F.round(F.try_divide(dot(F.col("_qvec"), F.col("_cvec")),
                               F.col("_qnorm") * F.col("_cnorm")), 6)
    scored = cands.select(query_id_col, id_col, sim.alias("cosine_sim"))
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine_sim").desc(),
                                                 F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k))


def ivf_append_index(new_df: DataFrame, index_dir: str,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> None:
    """Append new vectors to a persisted IVF index WITHOUT retraining:
    assign against the FROZEN centroids (read from the index, broadcast
    as literals), precompute norms, and append to the cell-partitioned
    vectors table — per-batch cost ∝ batch, and ivf_search sees the new
    vectors immediately (same partition layout, same pruning). This is
    the standard index-maintenance split (FAISS add-vs-train): the
    quantizer drifts as the corpus grows, so monitor ivf_cell_stats and
    rebuild via ivf_build_index when cell imbalance degrades recall —
    appends never mutate existing files, so a rebuild can run alongside
    reads and swap in atomically. Each append commits whole
    (etl_tool_spark.commit)."""
    base = index_dir.rstrip("/")
    C.recover(base)
    centroids = _ivf_read_centroids(new_df.sparkSession, base)
    stage = C.begin(base, "append")
    (ivf_assign(new_df, centroids, vec_col=vec_col, cluster_col="cell")
        .withColumn("_cnorm", norm(F.col(vec_col)))
        .repartition(F.col("cell"))  # one file per touched cell, not per task×cell
        .write.partitionBy("cell").parquet(f"{stage}/vectors"))
    C.commit(base, "append", keep=False)


def ivf_cell_stats(spark, index_dir: str) -> DataFrame:
    """Per-cell population of a persisted IVF index — the rebuild
    trigger (a cell holding a large corpus fraction means probes scan
    too much; many near-empty cells mean wasted nlist). Reads only
    partition metadata + counts; one aggregate over the index."""
    base = index_dir.rstrip("/")
    C.recover(base)
    return (spark.read.parquet(f"{base}/vectors")
                 .groupBy("cell").agg(F.count(F.lit(1)).alias("n_vectors")))


def _norm_frame(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return df.select(F.col(id_col), F.col(vec_col),
                     norm(F.col(vec_col)).alias("_norm"))


def append_embedding_signatures(df: DataFrame, store_dir: str,
                                id_col: str = "vec_id",
                                vec_col: str = "embedding",
                                dim: int = 64, bands: int = 64,
                                rows_per_band: int = 6) -> None:
    """Append vectors + banded sign-LSH keys to an incremental embedding
    store WITHOUT pair discovery (llm/dedup.py append_signatures twin).
    The semantic ingest gate stages its survivors' already-projected
    keys through ``store.stage_appends`` instead."""
    from etl_tool_spark.llm import store as _st

    # refuses an unpinned bands/ table before the first write
    _st.open_store(store_dir)
    _st.append_and_pin(
        _norm_frame(df, id_col, vec_col), store_dir, "vec",
        lambda t: _banded_keys(t, id_col, vec_col, dim, bands,
                               rows_per_band),
        ["_bkt"])


def incremental_embedding_pairs(new_df: DataFrame, store_dir: str,
                                threshold: float = 0.45,
                                id_col: str = "vec_id",
                                vec_col: str = "embedding",
                                dim: int = 64, bands: int = 64,
                                rows_per_band: int = 6,
                                max_bucket: int | None = None,
                                update_store: bool = True,
                                staging_dir: str | None = None) -> DataFrame:
    """Embedding-cosine near-dup pairs for a NEW batch against a growing
    corpus, never re-projecting old vectors — the semantic twin of
    llm/dedup.py incremental_minhash_pairs, same two-table store
    contract: ``vec/`` holds (id, vector, norm) for exact verification,
    ``bands/`` the sign-LSH keys. Candidates = new×old via an equi-join
    of the batch's band keys against the store's, plus new×new
    in-bucket pairs; exact cosine verifies candidates only. Old–old
    pairs were reported when their younger member arrived; union over
    batches == one-shot embedding_dup_pairs (asserted in tests). Ids
    must be globally unique; old-side reads are pinned to pre-append
    part files so the lazy result survives the append.

    ``max_bucket`` is the hot-bucket guard (embedding_dup_pairs /
    incremental_minhash_pairs parity): without it, one degenerate LSH
    bucket in the STORE — a boilerplate-embedding cluster — makes every
    subsequent batch's new×old candidate fan-out quadratic. Population
    is counted over the COMBINED store+batch band rows before any pair
    generation (one count shuffle, never a fan-out); buckets over the
    cap are dropped whole this batch. As with the minhash store, the
    cap is time-dependent: pairs emitted while a bucket was small are
    never retracted, so the capped incremental union is a superset of
    the capped one-shot; exact equality holds only uncapped.

    Returns (a, b, cosine_sim) with a < b, cosine ≥ threshold."""
    from etl_tool_spark.llm import store as _st

    spark = new_df.sparkSession
    vf_new = _norm_frame(new_df, id_col, vec_col)

    n_shards = _st.open_store(store_dir)
    bands_dir = f"{store_dir}/bands"
    vec_files = _st.flat_files(f"{store_dir}/vec")
    band_files = _st.sharded_files(bands_dir)
    first_batch = not vec_files
    vf_old = (spark.createDataFrame([], vf_new.schema) if first_batch
              else spark.read.parquet(*vec_files))

    staged_probe = None  # (shards, count) observed during a band write
    if update_store:
        vf_new, banded_new, staged_probe = _st.append_and_pin(
            vf_new, store_dir, "vec",
            lambda t: _banded_keys(t, id_col, vec_col, dim, bands,
                                   rows_per_band),
            ["_bkt"])
    elif staging_dir:
        # gate path, FUSED staging: ONE write carries (id, vector,
        # _norm, _bkts band-key array) — without staging the sign
        # projections recompute for each self-join side, the new×old
        # probe, and the verify's vector read; the round-8 form staged
        # vectors and band keys as two overlapped writes, which ran the
        # batch-scan + norm upstream TWICE (once per concurrent job).
        # One fused write runs the upstream once, column pruning serves
        # both consumer families from the same files ((id, vector,
        # _norm) for verify/append, (id, _bkts) for the band view), and
        # the shard probe rides the write as a bounded bitmask
        # observation (guide §1.2: two staging jobs became one).
        fused = (vf_new.withColumn("_bits",
                                   sign_bits(F.col(vec_col), dim,
                                             bands * rows_per_band))
                       .withColumn("_bkts",
                                   _bucket_key_array(F.col("_bits"), bands,
                                                     rows_per_band))
                       .drop("_bits"))
        observed, resolve = _st.fused_probe_observation(
            fused, _st.shard_array(F.col("_bkts"), n_shards), n_shards)
        observed.write.mode("overwrite").parquet(staging_dir)
        staged_probe = resolve()
        staged = spark.read.schema(fused.schema).parquet(staging_dir)
        vf_new = staged.select(id_col, vec_col, "_norm")
        banded_new = staged.select(id_col,
                                   F.explode("_bkts").alias("_bkt"))
    else:
        banded_new = _banded_keys(vf_new, id_col, vec_col, dim, bands,
                                  rows_per_band)

    new_file_backed = update_store or bool(staging_dir)
    banded_old = None
    n_probe = None
    if not first_batch:
        # pinned pre-append and pruned to the batch's probed shards:
        # non-matching shard directories are never read. The shard
        # probe doubles as the broadcast row gate's count — observed
        # during the band write when one ran (zero jobs), one aggregate
        # job otherwise (§1.2) — counted before hot-bucket filtering,
        # i.e. an upper bound, so the gate can only be conservative.
        if band_files:
            shards, n_probe = (staged_probe if staged_probe is not None
                               else _st.probe_shards_and_count(
                                   banded_new, ["_bkt"], n_shards))
            banded_old = _st.prune_to_shards(
                _st.read_pinned(spark, bands_dir, band_files), shards)
        else:
            banded_old = _banded_keys(vf_old, id_col, vec_col, dim,
                                      bands, rows_per_band)
    if max_bucket is not None:
        pop = (banded_new.select("_bkt") if banded_old is None
               else banded_new.select("_bkt")
                              .unionByName(banded_old.select("_bkt")))
        hot = (pop.groupBy("_bkt").agg(F.count(F.lit(1)).alias("_n"))
                  .filter(F.col("_n") > max_bucket).select("_bkt"))
        banded_new = banded_new.join(hot, "_bkt", "left_anti")
        if banded_old is not None:
            banded_old = banded_old.join(hot, "_bkt", "left_anti")

    l, r = banded_new.alias("l"), banded_new.alias("r")
    new_new = (l.join(r, [F.col("l._bkt") == F.col("r._bkt"),
                          F.col(f"l.{id_col}") < F.col(f"r.{id_col}")])
                .select(F.col(f"l.{id_col}").alias("a"),
                        F.col(f"r.{id_col}").alias("b")))
    if banded_old is None:
        cands = new_new.distinct()
    else:
        # broadcast the micro-batch's band keys against the pruned
        # store scan so the store never shuffles (row-gated: an
        # oversized backfill batch falls back to sort-merge). Only when
        # the batch bands are file-backed — the gate's count would
        # otherwise recompute the sign projections. The count rode the
        # shard-probe job when one ran (n_probe).
        probe = banded_new.withColumnRenamed(id_col, "_nid")
        if new_file_backed:
            from etl_tool_spark.operators.skew import (BROADCAST_ROW_GATE,
                                                       gated_broadcast)
            if n_probe is not None:
                probe = (F.broadcast(probe) if n_probe <= BROADCAST_ROW_GATE
                         else probe)
            else:
                probe = gated_broadcast(probe)
        new_old = (banded_old
                   .join(probe, "_bkt")
                   .select(F.least(F.col(id_col), F.col("_nid")).alias("a"),
                           F.greatest(F.col(id_col), F.col("_nid")).alias("b")))
        cands = new_new.unionByName(new_old).distinct()
    # count-based verify parallelism — same AQE byte-coalescing trap as
    # embedding_dup_pairs: a narrow pair stream into a per-row HOF dot.
    # Incremental runs with few new rows can skip this extra shuffle
    # via the verifySpread conf (skew.py).
    cands = verify_spread(cands)

    allv = vf_new.unionByName(vf_old)
    va = allv.select(F.col(id_col).alias("a"), F.col(vec_col).alias("_va"),
                     F.col("_norm").alias("_na"))
    vb = allv.select(F.col(id_col).alias("b"), F.col(vec_col).alias("_vb"),
                     F.col("_norm").alias("_nb"))
    sim = F.try_divide(dot(F.col("_va"), F.col("_vb")),
                       F.col("_na") * F.col("_nb"))
    return (cands.join(va, "a").join(vb, "b")
                 .filter(sim >= threshold)
                 .select("a", "b", F.round(sim, 6).alias("cosine_sim")))


def hard_negatives(corpus: DataFrame, queries: DataFrame, k: int = 5,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   label_col: str = "label",
                   query_id_col: str = "query_id") -> DataFrame:
    """Exact top-k most-similar corpus items with a DIFFERENT label per
    query — hard-negative mining for contrastive/retrieval training.
    Random negatives stop moving the loss almost immediately; the
    negatives that matter are the near-misses (high cosine, wrong
    class), which is precisely a similarity top-k under a label
    inequality. ``queries`` must carry ``label_col`` and be small
    enough to broadcast (mining runs per training shard in practice).

    Shape matches brute_force_topk — norms materialize once per side,
    the label filter applies BEFORE ranking so negatives never compete
    with same-class items for the k slots, ties break by corpus id. At
    real corpus scale the same per-pair filter composes unchanged with
    the IVF candidate generator (ivf_hard_negatives below): candidate
    generation is label-agnostic, so the index needs no per-class
    partitioning. The broadcast of the query frame is SIZE-GATED
    (operators/skew.gated_broadcast) — an unconditional hint would
    bypass autoBroadcastJoinThreshold and OOM executors on an
    oversized query set instead of degrading to a plain join
    (round-4 verdict item 5); past the gate the planner keeps a
    non-broadcast cross strategy and AQE re-decides from runtime
    stats. NOTE the gate is one EAGER count() job over the query frame
    at call time — a deliberate trade: the frame it scans is the small
    side by contract, and the alternative (an unconditional hint) risks
    executor OOM rather than a slow plan."""
    from pyspark.sql import Window

    from etl_tool_spark.operators.skew import gated_broadcast

    q = queries.select(F.col(query_id_col),
                       F.col(label_col).alias("_qlabel"),
                       F.col(vec_col).alias("_qvec"),
                       norm(F.col(vec_col)).alias("_qnorm"))
    c = corpus.select(F.col(id_col), F.col(label_col).alias("_clabel"),
                      F.col(vec_col).alias("_cvec"),
                      norm(F.col(vec_col)).alias("_cnorm"))
    sim = F.round(F.try_divide(dot(F.col("_qvec"), F.col("_cvec")),
                               F.col("_qnorm") * F.col("_cnorm")), 6)
    scored = (c.crossJoin(gated_broadcast(q))
                .filter(F.col("_qlabel") != F.col("_clabel"))
                .select(query_id_col, id_col, sim.alias("cosine_sim")))
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine_sim").desc(),
                                                 F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k))


def ivf_hard_negatives(corpus: DataFrame, queries: DataFrame, k: int = 5,
                       nlist: int = 16, nprobe: int = 4,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       label_col: str = "label",
                       query_id_col: str = "query_id",
                       centroids: list[list[float]] | None = None
                       ) -> DataFrame:
    """Hard-negative mining at corpus scale: IVF candidate generation
    followed by the label-inequality filter BEFORE ranking — the
    composition ``hard_negatives`` promises in its contract, made
    concrete. Candidate generation is label-agnostic (the index needs
    no per-class partitioning): corpus vectors live in their nearest
    of ``nlist`` cells, each query probes its ``nprobe`` nearest cells
    via an equi-join on the cell id, and only probed-cell vectors with
    a DIFFERENT label compete for the k slots. A query batch against
    10⁹ vectors reads nprobe/nlist of the corpus instead of scanning
    it. APPROXIMATE exactly like ivf_topk — a true negative living in
    an unprobed cell is missed; nprobe=nlist degenerates to the exact
    ``hard_negatives`` result. The query side is size-gated before
    broadcasting, same as the exact path (one eager count() over the
    exploded probe frame at call time — the documented gate trade)."""
    from pyspark.sql import Window

    from etl_tool_spark.operators.skew import gated_broadcast

    if centroids is None:
        centroids = spherical_kmeans_centroids(corpus, nlist=nlist,
                                               id_col=id_col, vec_col=vec_col)
    c = ivf_assign(corpus, centroids, vec_col=vec_col) \
        .select(F.col(id_col), F.col(label_col).alias("_clabel"),
                F.col(vec_col).alias("_cvec"),
                norm(F.col(vec_col)).alias("_cnorm"),
                F.col("_ivf_cluster").alias("_cell"))
    qscores = _centroid_scores(F.col(vec_col), centroids)
    probe_cells = F.slice(
        F.reverse(F.array_sort(F.transform(
            qscores,
            lambda s, i: F.struct(s.alias("s"), i.alias("i"))))),
        1, nprobe)
    q = queries.select(F.col(query_id_col),
                       F.col(label_col).alias("_qlabel"),
                       F.col(vec_col).alias("_qvec"),
                       norm(F.col(vec_col)).alias("_qnorm"),
                       F.explode(F.transform(probe_cells, lambda p: p["i"]))
                        .alias("_cell"))
    cands = (c.join(gated_broadcast(q), "_cell")
              .filter(F.col("_qlabel") != F.col("_clabel")))
    sim = F.round(F.try_divide(dot(F.col("_qvec"), F.col("_cvec")),
                               F.col("_qnorm") * F.col("_cnorm")), 6)
    scored = cands.select(query_id_col, id_col, sim.alias("cosine_sim"))
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine_sim").desc(),
                                                 F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k))


def pq_train_codebooks(df: DataFrame, m: int = 8, ksub: int = 16,
                       sample_n: int = 4096, iters: int = 10, seed: int = 11,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> list[list[list[float]]]:
    """Deterministic product-quantization codebooks (Jégou, Douze,
    Schmid, "Product Quantization for Nearest Neighbor Search",
    TPAMI 2011): split the (L2-normalized) vector into ``m`` contiguous
    subspaces and run plain Lloyd's k-means with ``ksub`` centroids
    independently per subspace. Same determinism contract as
    spherical_kmeans_centroids — sample = the ``sample_n`` LOWEST ids
    (partitioning-independent), seeded init, fixed iteration count,
    numpy's fixed reduce order — so the same corpus always yields
    byte-identical codebooks; and the same scaling story: training data
    NEVER scales with the corpus (a few thousand rows at 100 TB too),
    only encoding does, and encoding is map-side.

    Returns ``m × ksub × (dim/m)`` nested lists. ``dim % m must be 0``.
    Empty clusters reseed to the point farthest from its centroid
    (deterministic index tie-break)."""
    x = _sample_unit_matrix(df, sample_n, id_col, vec_col, "PQ codebooks")
    if x.shape[1] % m:
        raise ValueError(f"pq_train_codebooks: dim {x.shape[1]} not "
                         f"divisible by m={m}")
    return _kmeans_subspaces(x, m, ksub, iters, seed)


def _kmeans_subspaces(x, m: int, ksub: int, iters: int,
                      seed: int) -> list[list[list[float]]]:
    """Seeded fixed-iteration Lloyd's per contiguous subspace of the
    training matrix ``x`` — shared by plain PQ (rows = normalized
    vectors) and IVF-PQ (rows = cell residuals)."""
    dsub = x.shape[1] // m
    ksub = min(ksub, len(x))
    rng = np.random.default_rng(seed)
    books = []
    for s in range(m):
        xs = x[:, s * dsub:(s + 1) * dsub]
        cent = xs[rng.choice(len(xs), size=ksub, replace=False)].copy()
        for _ in range(iters):
            d2 = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=-1)
            assign = np.argmin(d2, axis=1)
            for c in range(ksub):
                members = xs[assign == c]
                if len(members) == 0:
                    far = int(np.argmax(d2[np.arange(len(xs)), assign]))
                    cent[c] = xs[far]
                else:
                    cent[c] = members.mean(axis=0)
        books.append([[float(v) for v in c] for c in cent])
    return books


def _pq_codes(vec: Column, codebooks: list[list[list[float]]]) -> Column:
    """array<int> of per-subspace nearest-centroid indices for the
    L2-NORMALIZED vector — the m-byte compressed representation. Arrow
    Pandas UDF for the same reason as _centroid_scores: per-subspace
    argmin over a literal ksub×dsub matrix is dense linear algebra the
    interpreted HOF walk loses by ~30×; numpy's fixed reduce order
    keeps codes bit-deterministic."""
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(codebooks, dtype=np.float64)      # (m, ksub, dsub)
    m, _, dsub = C.shape

    @pandas_udf("array<int>")
    def codes(emb: pd.Series) -> pd.Series:
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in emb])
        if len(X) == 0:
            return pd.Series([], dtype=object)
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        Xs = X.reshape(len(X), m, dsub)              # (n, m, dsub)
        # (n, m, ksub) squared distances per subspace, fixed order
        d2 = ((Xs[:, :, None, :] - C[None, :, :, :]) ** 2).sum(axis=-1)
        A = np.argmin(d2, axis=2).astype("int32")    # (n, m)
        return pd.Series(list(A))

    return codes(vec)


def pq_encode(df: DataFrame, codebooks: list[list[list[float]]],
              vec_col: str = "embedding",
              code_col: str = "pq_code") -> DataFrame:
    """Attach the m-entry PQ code column. At 100 TB this runs ONCE as
    the index build and the codes are what gets stored/scanned: 8
    one-byte codes replace 64 float32s (32× less scan I/O), which is
    the entire point of PQ — the ANN scan becomes memory/IO-bound on a
    corpus 32× smaller than the raw embeddings."""
    return df.withColumn(code_col, _pq_codes(F.col(vec_col), codebooks))


def _pq_lut(vec: Column, codebooks: list[list[list[float]]]) -> Column:
    """array<array<double>> (m × ksub) asymmetric-distance lookup table
    for a query: LUT[s][c] = dot(normalized-query-subvector_s,
    codebook[s][c]). ADC scoring is then m table lookups per corpus
    code instead of a dim-length dot product."""
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(codebooks, dtype=np.float64)      # (m, ksub, dsub)
    m, _, dsub = C.shape

    @pandas_udf("array<array<double>>")
    def lut(emb: pd.Series) -> pd.Series:
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in emb])
        if len(X) == 0:
            return pd.Series([], dtype=object)
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        Xs = X.reshape(len(X), m, dsub)              # (n, m, dsub)
        # (n, m, ksub): dot of each query subvector with each centroid
        L = (Xs[:, :, None, :] * C[None, :, :, :]).sum(axis=-1)
        return pd.Series([list(map(list, row)) for row in L])

    return lut(vec)


def pq_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
            m: int = 8, ksub: int = 16, shortlist: int = 64,
            id_col: str = "vec_id", vec_col: str = "embedding",
            query_id_col: str = "query_id",
            codebooks: list[list[list[float]]] | None = None) -> DataFrame:
    """Approximate top-k via product quantization with exact re-rank —
    the memory-bound billion-scale ANN path (IVF trades scan FRACTION,
    PQ trades scan WIDTH; production systems compose them):

      1. encode the corpus once to m-entry codes (map-side, stored at
         real scale — the scan then reads m bytes/vector, not the
         embedding);
      2. ADC scoring: each query broadcasts its m × ksub dot-product
         LUT; a corpus row's approximate cosine is the sum of m table
         lookups — pure JVM higher-order functions over the code array,
         no per-pair dim-length arithmetic;
      3. per-query ADC top-``shortlist`` window;
      4. exact cosine re-rank of the shortlist only (embeddings fetched
         by id join for just shortlist × queries rows) → top-``k``.

    Recall dial: ``shortlist``/corpus is the fraction surviving to the
    exact stage (shortlist = corpus size degenerates to brute force);
    quantization error only costs recall when a true neighbor falls
    outside the ADC shortlist. Ties broken by corpus id — deterministic
    end-to-end given the deterministic codebooks."""
    from pyspark.sql import Window

    if codebooks is None:
        codebooks = pq_train_codebooks(corpus, m=m, ksub=ksub,
                                       id_col=id_col, vec_col=vec_col)
    codes = pq_encode(corpus.select(id_col, vec_col), codebooks,
                      vec_col=vec_col, code_col="_code") \
        .select(id_col, "_code")
    short = _adc_shortlist(codes, queries, codebooks, shortlist,
                           id_col, vec_col, query_id_col)
    return _exact_rerank(corpus, queries, short, k,
                         id_col, vec_col, query_id_col)



def _adc_shortlist(codes: DataFrame, queries: DataFrame,
                   codebooks: list[list[list[float]]], shortlist: int,
                   id_col: str, vec_col: str,
                   query_id_col: str) -> DataFrame:
    """Shared ADC scoring stage for the in-memory (pq_topk) and
    persisted (pq_search) paths: per-query LUT broadcast, JVM
    lookup-sum over the code array, per-query top-``shortlist`` window.
    One implementation so the two paths' identical-results contract
    (asserted in tests) cannot drift (round-6 review finding).
    ``codes`` carries (id_col, _code)."""
    from pyspark.sql import Window

    q = queries.select(F.col(query_id_col),
                       _pq_lut(F.col(vec_col), codebooks).alias("_lut"))
    adc = F.aggregate(
        F.zip_with(F.col("_code"), F.col("_lut"),
                   lambda c, l: F.element_at(l, c + 1)),
        F.lit(0.0), lambda acc, v: acc + v)
    scored = (codes.crossJoin(F.broadcast(q))
                   .filter(F.col(id_col) != F.col(query_id_col))
                   .select(query_id_col, id_col, adc.alias("_adc")))
    w_short = Window.partitionBy(query_id_col).orderBy(
        F.col("_adc").desc(), F.col(id_col).asc())
    return (scored.withColumn("_r", F.row_number().over(w_short))
                  .filter(F.col("_r") <= shortlist)
                  .select(query_id_col, id_col))


def _exact_rerank(corpus: DataFrame, queries: DataFrame, short: DataFrame,
                  k: int, id_col: str, vec_col: str,
                  query_id_col: str) -> DataFrame:
    """Exact cosine top-``k`` over a (query_id, id) shortlist: the
    shortlist broadcasts into the corpus scan to fetch embeddings by
    id, the query vector re-attaches by query id — only
    shortlist × queries rows ever see dim-length arithmetic."""
    from pyspark.sql import Window

    cand = (corpus.select(F.col(id_col), F.col(vec_col).alias("_cvec"),
                          norm(F.col(vec_col)).alias("_cnorm"))
                  .join(F.broadcast(short), id_col))
    qv = queries.select(F.col(query_id_col), F.col(vec_col).alias("_qvec"),
                        norm(F.col(vec_col)).alias("_qnorm"))
    sim = F.round(F.try_divide(dot(F.col("_qvec"), F.col("_cvec")),
                               F.col("_qnorm") * F.col("_cnorm")), 6)
    rescored = (cand.join(F.broadcast(qv), query_id_col)
                    .select(query_id_col, id_col, sim.alias("cosine_sim")))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc())
    return (rescored.withColumn("rank", F.row_number().over(w))
                    .filter(F.col("rank") <= k))


def _pq_residual_codes(vec: Column, cell: Column,
                       centroids: list[list[float]],
                       codebooks: list[list[list[float]]]) -> Column:
    """array<int> of per-subspace nearest-centroid indices for the
    RESIDUAL of the normalized vector w.r.t. its coarse cell centroid —
    the IVF-PQ encoding (Jégou et al. TPAMI'11 §III): quantizing
    x̂ − c(cell) instead of x̂ concentrates the sub-quantizers on the
    much smaller residual ball, so the same code budget buys a finer
    reconstruction."""
    from pyspark.sql.functions import pandas_udf

    CC = np.asarray(centroids, dtype=np.float64)     # (nlist, dim)
    C = np.asarray(codebooks, dtype=np.float64)      # (m, ksub, dsub)
    m, _, dsub = C.shape

    @pandas_udf("array<int>")
    def codes(emb: pd.Series, cl: pd.Series) -> pd.Series:
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in emb])
        if len(X) == 0:
            return pd.Series([], dtype=object)
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        R = X - CC[cl.to_numpy()]
        Rs = R.reshape(len(R), m, dsub)
        d2 = ((Rs[:, :, None, :] - C[None, :, :, :]) ** 2).sum(axis=-1)
        return pd.Series(list(np.argmin(d2, axis=2).astype("int32")))

    return codes(vec, cell)


def ivfpq_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
               nlist: int = 16, nprobe: int = 4,
               m: int = 16, ksub: int = 64, shortlist: int = 64,
               id_col: str = "vec_id", vec_col: str = "embedding",
               query_id_col: str = "query_id") -> DataFrame:
    """IVF-PQ: the production billion-scale composition — IVF trims the
    scan FRACTION (only ``nprobe``/``nlist`` of the corpus is touched
    per query), PQ trims the scan WIDTH of what's left (m residual-code
    bytes per vector instead of the embedding). The ADC estimate of
    cosine decomposes exactly along the residual:

        dot(q̂, x̂) = dot(q̂, c_cell) + dot(q̂, x̂ − c_cell)
                   ≈ dot(q̂, c_cell) + Σ_s LUT[s][code_s]

    so each probed (query, cell) carries one scalar cell score and the
    query's m × ksub residual LUT; scoring a corpus code is m JVM array
    lookups plus one add. The ADC top-``shortlist`` then re-ranks under
    exact cosine, identical to pq_topk. All training (coarse centroids
    + residual codebooks) runs driver-side on the deterministic
    lowest-id sample; assignment and encoding are map-side."""
    from pyspark.sql import Window

    # ONE deterministic sample collect feeds BOTH trainers — coarse
    # centroids and residual codebooks (review finding: this previously
    # ran the identical lowest-id collect twice and re-implemented the
    # normalize/guard logic inline)
    x = _sample_unit_matrix(corpus, 4096, id_col, vec_col,
                            "IVF-PQ quantizers")
    if x.shape[1] % m:
        raise ValueError(f"ivfpq_topk: dim {x.shape[1]} not divisible "
                         f"by m={m}")
    centroids = spherical_kmeans_centroids(corpus, nlist=nlist,
                                           id_col=id_col, vec_col=vec_col,
                                           sample_matrix=x)
    CC = np.asarray(centroids, dtype=np.float64)
    assign = np.argmax(x @ CC.T, axis=1)
    books = _kmeans_subspaces(x - CC[assign], m, ksub, iters=10, seed=13)

    c = ivf_assign(corpus.select(id_col, vec_col), centroids,
                   vec_col=vec_col)
    codes = c.select(
        F.col(id_col), F.col("_ivf_cluster").alias("_cell"),
        _pq_residual_codes(F.col(vec_col), F.col("_ivf_cluster"),
                           centroids, books).alias("_code"))

    # per-query probes: nprobe best cells with their NORMALIZED scores
    # (dot(q̂, c) = dot(q, c)/|q| — the ADC sum mixes the cell score with
    # the unit-residual LUT, so both terms must use q̂ consistently)
    qscores = _centroid_scores(F.col(vec_col), centroids)
    probes = F.slice(
        F.reverse(F.array_sort(F.transform(
            qscores,
            lambda s, i: F.struct(s.alias("s"), i.alias("i"))))),
        1, nprobe)
    q = (queries.select(F.col(query_id_col),
                        _pq_lut(F.col(vec_col), books).alias("_lut"),
                        norm(F.col(vec_col)).alias("_qn"),
                        F.explode(probes).alias("_p"))
                .select(query_id_col, "_lut",
                        F.col("_p.i").alias("_cell"),
                        (F.col("_p.s") / F.col("_qn")).alias("_cellscore")))
    adc = F.col("_cellscore") + F.aggregate(
        F.zip_with(F.col("_code"), F.col("_lut"),
                   lambda cc, l: F.element_at(l, cc + 1)),
        F.lit(0.0), lambda acc, v: acc + v)
    scored = (codes.join(F.broadcast(q), "_cell")
                   .filter(F.col(id_col) != F.col(query_id_col))
                   .select(query_id_col, id_col, adc.alias("_adc")))
    w_short = Window.partitionBy(query_id_col).orderBy(
        F.col("_adc").desc(), F.col(id_col).asc())
    short = (scored.withColumn("_r", F.row_number().over(w_short))
                   .filter(F.col("_r") <= shortlist)
                   .select(query_id_col, id_col))
    return _exact_rerank(corpus, queries, short, k,
                         id_col, vec_col, query_id_col)


def pq_build_index(corpus: DataFrame, index_dir: str,
                   m: int = 16, ksub: int = 64,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> list[list[list[float]]]:
    """Persist a PQ index: the encode-once / serve-many split of
    pq_topk. Writes

      {index_dir}/codebooks — m × ksub rows (sub, cent, vec)
      {index_dir}/codes     — (id, code array<int>) for the corpus

    The codes table IS the point: at 100 TB the ADC scan reads m small
    ints per vector instead of the raw embedding — the index is ~16×
    narrower than the corpus it summarizes, and the full-width vectors
    stay in the base corpus table, touched only for the per-query
    shortlist re-rank. Returns the trained codebooks."""
    base = index_dir.rstrip("/")
    books = pq_train_codebooks(corpus, m=m, ksub=ksub,
                               id_col=id_col, vec_col=vec_col)
    spark = corpus.sparkSession
    (spark.createDataFrame(
        [(s, c, vec) for s, cb in enumerate(books)
         for c, vec in enumerate(cb)],
        _CODEBOOKS)
        .coalesce(1).write.mode("overwrite").parquet(f"{base}/codebooks"))
    (pq_encode(corpus.select(id_col, vec_col), books,
               vec_col=vec_col, code_col="code")
        .select(id_col, "code")
        .write.mode("overwrite").parquet(f"{base}/codes"))
    return books


def _pq_read_codebooks(spark, index_dir: str) -> list[list[list[float]]]:
    rows = (spark.read.schema(_CODEBOOKS)
                 .parquet(f"{index_dir.rstrip('/')}/codebooks")
                 .orderBy("sub", "cent").collect())
    books: list[list[list[float]]] = []
    for r in rows:
        while len(books) <= r["sub"]:
            books.append([])
        books[r["sub"]].append(list(r["vec"]))
    return books


def pq_search(spark, index_dir: str, corpus: DataFrame, queries: DataFrame,
              k: int = 5, shortlist: int = 64,
              id_col: str = "vec_id", vec_col: str = "embedding",
              query_id_col: str = "query_id") -> DataFrame:
    """Top-k against a PERSISTED PQ index (see pq_build_index).
    Identical results to pq_topk with the same codebooks (asserted in
    tests); operationally no training or corpus encoding happens at
    query time — the ADC scan reads the narrow codes table, and
    ``corpus`` (the full-width base table) is touched only to fetch the
    shortlist rows for the exact re-rank."""
    from pyspark.sql import Window

    base = index_dir.rstrip("/")
    C.recover(base)
    books = _pq_read_codebooks(spark, base)
    codes = (spark.read.parquet(f"{base}/codes")
                  .select(F.col(id_col), F.col("code").alias("_code")))
    short = _adc_shortlist(codes, queries, books, shortlist,
                           id_col, vec_col, query_id_col)
    return _exact_rerank(corpus, queries, short, k,
                         id_col, vec_col, query_id_col)


def pq_append_index(new_df: DataFrame, index_dir: str,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> None:
    """Append new vectors' codes to a persisted PQ index WITHOUT
    retraining: encode against the FROZEN codebooks and append to the
    codes table — per-batch cost ∝ batch, and pq_search sees the new
    rows immediately. Same maintenance contract as ivf_append_index:
    the quantizer drifts as the corpus distribution shifts, so rebuild
    via pq_build_index when shortlist recall degrades; appends never
    mutate existing files and each one commits whole."""
    base = index_dir.rstrip("/")
    C.recover(base)
    books = _pq_read_codebooks(new_df.sparkSession, base)
    stage = C.begin(base, "append")
    (pq_encode(new_df.select(id_col, vec_col), books,
               vec_col=vec_col, code_col="code")
        .select(id_col, "code").write.parquet(f"{stage}/codes"))
    C.commit(base, "append", keep=False)


def semdedup(df: DataFrame, threshold: float = 0.45, nlist: int = 16,
             id_col: str = "vec_id", vec_col: str = "embedding",
             sample_n: int = 4096, iters: int = 10, seed: int = 7,
             max_iter: int = 25) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings and pruning near-duplicates
    WITHIN each cluster only — the trained-quantizer complement to the
    sign-LSH path (embedding_dup_pairs → semantic dedup groups). LSH
    banding is data-oblivious; SemDeDup's clusters follow the corpus's
    own density, so at a fixed comparison budget it concentrates pairs
    where duplicates actually live (web data: boilerplate families,
    mirrored pages, templated spam).

    Shape: spherical k-means centroids from a deterministic sample
    (training NEVER scales with the corpus), map-side nearest-centroid
    assignment, within-cluster pair generation as an equi-join on the
    cluster id (never a cross join), exact-cosine edges at ``threshold``,
    connected components per cluster, keep = min id per component.
    Returns (id_col, cluster, keep, rep): ``keep`` marks survivors,
    ``rep`` is the kept representative (its own id for survivors).

    At 100 TB ``nlist`` scales with the corpus (the paper runs ~100k
    clusters for billions of docs) so per-cluster membership — and the
    quadratic pair fan-out — stays bounded; the cluster equi-join is an
    ordinary shuffle join AQE can split if one cluster runs hot.
    Determinism: centroids are seeded and sample-pinned
    (spherical_kmeans_centroids), the keep rule is min-id — the same
    corpus always drops the same rows, which is what makes the result
    auditable and the incremental re-run reproducible."""
    from etl_tool_spark.llm.graph import connected_components

    vf = df.select(F.col(id_col), F.col(vec_col),
                   norm(F.col(vec_col)).alias("_n"))
    centroids = spherical_kmeans_centroids(df, nlist=nlist, sample_n=sample_n,
                                           iters=iters, seed=seed,
                                           id_col=id_col, vec_col=vec_col)
    assigned = ivf_assign(vf, centroids, vec_col=vec_col,
                          cluster_col="cluster")
    # the in-cluster join carries the vectors directly: nlist distinct
    # join keys DO cap the per-pair cosine at nlist-way parallelism,
    # but nlist scales with the corpus by design (the paper runs ~100k
    # clusters at billions of docs — module docstring), so the cap is
    # a toy-nlist artifact, and a measured round-8 restructure to the
    # narrow-candidates + verify_spread + attach-joins shape
    # (embedding_dup_pairs') ran 30% SLOWER here (3.96 → 5.15 s at
    # sf0.1): two extra joins plus a pair-stream shuffle cost more
    # than the idle cores recover. Deliberately kept join-direct.
    a = assigned.select(F.col(id_col).alias("a"), F.col("cluster"),
                        F.col(vec_col).alias("_va"), F.col("_n").alias("_na"))
    b = assigned.select(F.col(id_col).alias("b"), F.col("cluster"),
                        F.col(vec_col).alias("_vb"), F.col("_n").alias("_nb"))
    sim = F.try_divide(dot(F.col("_va"), F.col("_vb")),
                       F.col("_na") * F.col("_nb"))
    edges = (a.join(b, ["cluster"])
              .filter(F.col("a") < F.col("b"))
              .filter(sim >= threshold)
              .select("a", "b"))
    labels = connected_components(edges, src="a", dst="b", max_iter=max_iter)
    out = (assigned.select(id_col, "cluster")
                   .join(labels.withColumnRenamed("id", id_col), id_col, "left")
                   .select(F.col(id_col), F.col("cluster"),
                           (F.col("label").isNull()
                            | (F.col("label") == F.col(id_col))).alias("keep"),
                           F.coalesce("label", F.col(id_col)).alias("rep")))
    return out


def mmr_topk(corpus: DataFrame, queries: DataFrame, k: int = 3,
             shortlist: int = 20, lam: float = 0.7,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id") -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998): per query, greedily select k items maximizing
    λ·rel(q,d) − (1−λ)·max_{s∈selected} sim(d,s) — the diversified
    top-k that retrieval-augmented pipelines use so a context window
    isn't k near-copies of the same passage. Pure DataFrame: relevance
    comes from the exact shortlist (brute_force_topk), candidate-to-
    candidate similarities from ONE within-query self-join on the
    shortlist (fan-out ≤ shortlist² per query, never corpus²), and the
    greedy loop unrolls into k plan stages — each an anti-join against
    the selected set, a per-(candidate, selected) max, and a per-query
    argmax window over ≤shortlist rows. No UDF anywhere; k and
    shortlist are plan constants, so the shape is scale-invariant and
    cost per stage is (queries × shortlist)-sized regardless of corpus.

    All similarities round to 6 decimals BEFORE the objective so the
    greedy argmax (ties broken by candidate id) replays identically on
    any engine — the catalog oracle unrolls the same k stages in SQL.
    Returns (query_id, vec_id, rel, rank) with rank 1..k in selection
    order."""
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"mmr_topk needs k >= 1, got {k}")
    lam = float(lam)
    rel = (brute_force_topk(corpus, queries, k=shortlist,
                            id_col=id_col, vec_col=vec_col,
                            query_id_col=query_id_col)
           .select(query_id_col, F.col(id_col).alias("_cand"),
                   F.col("cosine_sim").alias("_rel"))
           .localCheckpoint(eager=True))
    vf = corpus.select(F.col(id_col), F.col(vec_col),
                       norm(F.col(vec_col)).alias("_norm"))
    ca = (rel.select(query_id_col, F.col("_cand").alias("_a"))
             .join(vf.select(F.col(id_col).alias("_a"),
                             F.col(vec_col).alias("_va"),
                             F.col("_norm").alias("_na")), "_a"))
    cb = (rel.select(query_id_col, F.col("_cand").alias("_b"))
             .join(vf.select(F.col(id_col).alias("_b"),
                             F.col(vec_col).alias("_vb"),
                             F.col("_norm").alias("_nb")), "_b"))
    pair_sim = F.round(F.try_divide(dot(F.col("_va"), F.col("_vb")),
                                    F.col("_na") * F.col("_nb")), 6)
    sims = (ca.join(cb, [query_id_col])
              .filter(F.col("_a") != F.col("_b"))
              .select(query_id_col, "_a", "_b", pair_sim.alias("_sim"))
              .localCheckpoint(eager=True))

    w = Window.partitionBy(query_id_col)
    picked = None        # accumulated (query_id, _cand, _rel, rank)
    for step in range(1, k + 1):
        if picked is None:
            cands = rel
            objective = F.col("_rel")
        else:
            cands = rel.join(picked.select(query_id_col,
                                           F.col("_cand")),
                             [query_id_col, "_cand"], "left_anti")
            max_sel = (sims.join(picked.select(query_id_col,
                                               F.col("_cand").alias("_b")),
                                 [query_id_col, "_b"])
                           .groupBy(query_id_col, "_a")
                           .agg(F.max("_sim").alias("_maxsim"))
                           .withColumnRenamed("_a", "_cand"))
            cands = cands.join(max_sel, [query_id_col, "_cand"], "left")
            objective = (F.lit(lam) * F.col("_rel")
                         - F.lit(1.0 - lam)
                         * F.coalesce("_maxsim", F.lit(0.0)))
        ranked = cands.withColumn(
            "_rn", F.row_number().over(
                w.orderBy(objective.desc(), F.col("_cand").asc())))
        best = (ranked.filter(F.col("_rn") == 1)
                      .select(query_id_col, "_cand", "_rel",
                              F.lit(step).alias("rank")))
        picked = best if picked is None else picked.unionByName(best)
        picked = picked.localCheckpoint(eager=False)
    return picked.select(F.col(query_id_col),
                         F.col("_cand").alias(id_col),
                         F.col("_rel").alias("rel"), "rank")
