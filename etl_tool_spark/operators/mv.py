"""Incremental materialized-view maintenance over the CDC snapshot store.

A grouped-aggregate MV (group → sum + row count, optionally min/max)
stays correct under a stream of upserts/deletes WITHOUT recomputing
from the base table: each change batch contributes signed deltas —
minus the OLD payload of every touched key, plus the NEW payload — and
sums/counts are abelian, so folding the deltas into the MV is exact.
Cost per batch:

  * base-table side: whatever ``merge_cdc_batch`` costs (bucketed
    rewrite ∝ change volume — streaming/cdc.py);
  * old/new payload lookups: the snapshot restricted to the batch's
    keys by a semi-join (the store is bucketed on the key, so this
    prunes to the touched buckets, ∝ batch);
  * MV fold: one outer join on a frame whose size is the number of
    TOUCHED groups, rewritten into a GROUP-CARDINALITY-sized table.

MIN/MAX are not delta-foldable (a delete can remove the extreme, and
the second-best is not in the MV) — the textbook non-distributive IVM
case. ``track_minmax=True`` handles it with the standard refinement:
inserts fold for free (``least``/``greatest`` against the stored
extreme); a group re-aggregates ONLY when a removed old value tied or
beat its stored extreme (``lossy`` groups), and that recompute reads
just those groups' rows back from the snapshot (a group-keyed
semi-join — with a group-clustered layout this is a pruned scan; worst
case it is ∝ the affected groups' row counts, never the table).

Nothing scales with the base-table size — that is the entire point of
an incremental MV at 100 TB, where "just re-aggregate" is a full scan
per refresh. The catalog's ``etl_incremental_mv_fold`` /
``etl_incremental_mv_minmax_fold`` prove both folds exact against a
DuckDB full recompute of the final state.

Deletes shrink groups to zero membership; such groups leave the MV
(n > 0 filter), matching what a recompute would produce. The MV is
integer-exact by contract: callers pass an integral value column
(e.g. money in cents) so delta folding can never drift the way float
accumulation would.

The reference has no aggregation surface at all
(playbook_development_guide.md:461); this is north-star warehouse
functionality, designed Spark-first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["update_agg_mv"]


def update_agg_mv(spark: SparkSession, snapshot_dir: str, mv_dir: str,
                  changes: DataFrame, keys: list[str], group_col: str,
                  value_col: str, batch_id: int,
                  seq_col: str = "seq", op_col: str = "op",
                  track_minmax: bool = False) -> DataFrame:
    """Apply one CDC batch to the base snapshot AND its grouped-sum MV.

    ``changes``: keys + seq_col + op_col + payload (must include
    ``group_col`` and an integral ``value_col``). Batch ids must be
    sequential from 0 (the MV version chain is ``mv_dir/v{batch_id}``;
    a production deployment would commit MV versions through the same
    manifest protocol as the snapshot store — the plain versioned dir
    keeps this operator focused on the delta algebra). Returns the new
    MV frame: (group_col, mv_sum, mv_n[, mv_min, mv_max]).

    Retry contract (the snapshot merge and the MV write cannot be one
    atomic commit across two stores): the old-side read is pinned to
    the snapshot VERSION PRECEDING the batch's merge, located through
    the manifests' batch_id — never to "current". So a re-run after a
    crash between the merge and the MV write recomputes the SAME delta
    (a current-snapshot read would see the batch already applied, fold
    a zero delta, and silently lose the batch from the MV forever). A
    fully-applied batch is marked by ``_MV_COMMITTED`` — written only
    AFTER the snapshot manifest commit, so the short-circuit can never
    hide an uncommitted merge, and published like the snapshot manifest
    (``commit.publish``) — and short-circuits the replay; a partial MV
    directory is overwritten.

    Write overlap (guide §2.6): on the non-replay path the MV fold is
    computed from the PRE-merge snapshot version plus the batch's
    checkpointed surviving rows — never from the just-written snapshot
    — so the snapshot data write and the MV version write are
    independent jobs and run concurrently; only the (driver-side,
    metadata-only) manifest commit and MV marker are ordered after
    them. The equivalences that make this exact: post-merge touched
    rows == the batch's upserts (every upsert key is a touched key,
    and touched keys' old rows are all replaced), and the post-merge
    snapshot == pre-merge rows anti-joined on the touched keys ∪
    upserts (buckets are a pure function of the key)."""
    from etl_tool_spark import commit as C
    from etl_tool_spark.streaming.cdc import (_load_manifest, _prepare_merge,
                                              list_versions, read_snapshot)

    mv_path = f"{mv_dir}/v{batch_id}"
    marker = f"{mv_path}/_MV_COMMITTED"
    if C.exists(marker):  # replay of a fully-applied batch: no-op
        return spark.read.parquet(mv_path)

    def batch_version() -> int | None:
        for n in reversed(list_versions(spark, snapshot_dir)):
            m = _load_manifest(spark, snapshot_dir, n)
            if m.get("batch_id") == batch_id:
                return n
        return None

    tk = changes.select(*keys).distinct()

    def touched(snapshot: DataFrame) -> DataFrame:
        return (snapshot.join(tk, keys, "semi")
                .select(F.col(group_col).alias("_g"),
                        F.col(value_col).cast("long").alias("_val")))

    def gv(df: DataFrame) -> DataFrame:
        return df.select(F.col(group_col).alias("_g"),
                         F.col(value_col).cast("long").alias("_val"))

    applied_at = batch_version()
    prep = None
    if applied_at is None:
        prep = _prepare_merge(changes, snapshot_dir, keys, seq_col, op_col,
                              batch_id=batch_id, checkpoint_first=True)

    if prep is not None:
        # fast path: this call performs the merge itself, so the MV
        # delta derives from the pre-merge version + the checkpointed
        # upserts — the snapshot write below overlaps the MV write
        pre_version = prep["pre_version"]
        old = (read_snapshot(spark, snapshot_dir, version=pre_version)
               if pre_version is not None else changes.limit(0))
        old_t = touched(old)
        new_t = gv(prep["upserts"])
        snap = (gv(old.join(tk, keys, "left_anti"))
                .unionByName(gv(prep["upserts"])))
    else:
        if applied_at is None:
            # batch touched no buckets → no version committed → zero
            # delta: pin old and new to the SAME (current) version so
            # differences from other batches can never leak in
            vs = list_versions(spark, snapshot_dir)
            applied_at = vs[-1] if vs else None
            pre_versions = [applied_at] if applied_at is not None else []
        else:
            pre_versions = [n for n in list_versions(spark, snapshot_dir)
                            if n < applied_at]
            if applied_at > 1 and not pre_versions:
                raise RuntimeError(
                    f"cannot refresh MV for batch {batch_id}: snapshot "
                    f"version {applied_at - 1} (the pre-batch state) was "
                    "vacuumed; keep at least 2 versions while MV refreshes "
                    "can still be retried")
        old_t = (touched(read_snapshot(spark, snapshot_dir,
                                       version=pre_versions[-1]))
                 if pre_versions else touched(changes.limit(0)))
        full = (read_snapshot(spark, snapshot_dir, version=applied_at)
                if applied_at is not None else changes.limit(0))
        new_t = touched(full)
        snap = gv(full)

    def signed(df: DataFrame, sign: int) -> DataFrame:
        return df.select("_g", (F.col("_val") * sign).alias("_v"),
                         F.lit(sign).cast("long").alias("_s"))

    delta = (signed(new_t, 1).unionByName(signed(old_t, -1))
             .groupBy("_g")
             .agg(F.sum("_v").alias("_dv"), F.sum("_s").alias("_dn")))
    if track_minmax:
        ext = (new_t.groupBy("_g").agg(F.min("_val").alias("_nmin"),
                                       F.max("_val").alias("_nmax"))
               .join(old_t.groupBy("_g").agg(F.min("_val").alias("_omin"),
                                             F.max("_val").alias("_omax")),
                     "_g", "full_outer"))
        delta = delta.join(ext, "_g", "left")

    mv_cols = ["mv_sum", "mv_n"] + (["mv_min", "mv_max"]
                                    if track_minmax else [])
    if batch_id > 0:
        prev = spark.read.parquet(f"{mv_dir}/v{batch_id - 1}")
    else:  # typed empty MV derived from the delta frame (any group type)
        prev = delta.limit(0).select(
            F.col("_g").alias(group_col),
            *[F.lit(0).cast("long").alias(c) for c in mv_cols])

    merged = (prev.withColumnRenamed(group_col, "_g")
              .join(delta, "_g", "full_outer")
              .withColumn("mv_sum", F.coalesce("mv_sum", F.lit(0))
                          + F.coalesce("_dv", F.lit(0)))
              .withColumn("mv_n", F.coalesce("mv_n", F.lit(0))
                          + F.coalesce("_dn", F.lit(0)))
              .filter(F.col("mv_n") > 0))

    if track_minmax:
        # a removed value that tied/beat the stored extreme may expose a
        # second-best the MV never kept → that group re-aggregates from
        # the snapshot; every other group folds with least/greatest
        lossy = ((F.col("_omin").isNotNull() & F.col("mv_min").isNotNull()
                  & ((F.col("_omin") <= F.col("mv_min"))
                     | (F.col("_omax") >= F.col("mv_max")))))
        merged = merged.withColumn("_lossy", F.coalesce(lossy, F.lit(False)))
        redo = (snap.join(merged.filter("_lossy").select("_g").distinct(),
                          "_g", "semi")
                .groupBy("_g")
                .agg(F.min("_val").alias("_rmin"),
                     F.max("_val").alias("_rmax")))
        merged = (merged.join(redo, "_g", "left")
                  .withColumn("mv_min", F.when(F.col("_lossy"), F.col("_rmin"))
                              .otherwise(F.least(
                                  F.coalesce("mv_min", F.col("_nmin")),
                                  F.coalesce("_nmin", F.col("mv_min")))))
                  .withColumn("mv_max", F.when(F.col("_lossy"), F.col("_rmax"))
                              .otherwise(F.greatest(
                                  F.coalesce("mv_max", F.col("_nmax")),
                                  F.coalesce("_nmax", F.col("mv_max"))))))

    out = merged.select(F.col("_g").alias(group_col), *mv_cols)
    # overwrite, not error-if-exists: a crashed earlier attempt may have
    # left a partial v{batch_id} dir (no _MV_COMMITTED — the
    # short-circuit at the top only accepts marked writes)
    if prep is not None:
        # the two store writes are independent (the MV plan reads only
        # the pre-merge version's immutable files, the prev MV version,
        # and the batch's materialized checkpoint blocks) → overlap
        # them; the ordered part — manifest rename, marker — is
        # driver-side metadata. Crash anywhere before the manifest
        # commit leaves no version and no marker (full replay re-merges
        # and overwrites the partial MV); between manifest and marker,
        # the replay takes the pinned pre-batch-version path below.
        from etl_tool_spark.llm.store import overlap_writes
        overlap_writes(
            spark, prep["write"],
            lambda: out.write.mode("overwrite").parquet(mv_path))
        prep["commit"]()
        prep["release"]()
    else:
        out.write.mode("overwrite").parquet(mv_path)
    # _MV_COMMITTED only after the snapshot manifest commit: Spark's own
    # _SUCCESS lands when the MV write job finishes, which under the
    # overlap can PRECEDE the manifest — short-circuiting on it could
    # skip a replay whose merge never committed (silent snapshot loss)
    C.publish(marker, "")
    return spark.read.parquet(mv_path)
