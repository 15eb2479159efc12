"""Incremental materialized-view maintenance over the CDC snapshot store.

A grouped-aggregate MV (group → sum + row count, optionally min/max)
stays correct under a stream of upserts/deletes WITHOUT recomputing
from the base table: each change batch contributes signed deltas —
minus the OLD payload of every touched key, plus the NEW payload — and
sums/counts are abelian, so folding the deltas into the MV is exact.
Cost per batch, when this call performs the merge:

  * base-table side: whatever ``merge_cdc_batch`` costs (bucketed
    rewrite ∝ change volume, one file per touched bucket —
    streaming/cdc.py);
  * old payloads: the pre-merge rows of the AFFECTED buckets only (the
    frame the merge itself reads), semi-joined on the batch's keys;
    the keys and the new payloads come from the merge's checkpointed
    latest-per-key frame, so the raw batch is neither re-scanned nor
    re-aggregated;
  * MV fold: one outer join on a frame whose size is the number of
    TOUCHED groups, rewritten into a GROUP-CARDINALITY-sized table.
    Every MV version is read with the schema the fold writes, so no
    read runs a schema-inference job.

A warm refresh runs 10 Spark jobs. A replay of a batch whose merge
already committed reads the pre- and post-batch versions in full
(semi-joined on the batch's distinct keys): exact, but ∝ the snapshot.

MIN/MAX are not delta-foldable (a delete can remove the extreme, and
the second-best is not in the MV) — the textbook non-distributive IVM
case. ``track_minmax=True`` handles it with the standard refinement:
inserts fold for free (``least``/``greatest`` against the stored
extreme); a group re-aggregates ONLY when a removed old value tied or
beat its stored extreme (``lossy`` groups), from the post-merge state
semi-joined on those groups. The snapshot is bucketed on the key, not
the group, so that recompute scans the whole pre-merge version: the
one cost of a ``track_minmax`` refresh that grows with the table.

Outside that recompute and the replay path nothing scales with the
base-table size — that is the entire point of an incremental MV at
100 TB, where "just re-aggregate" is a full scan per refresh. The
catalog's ``etl_incremental_mv_fold`` /
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
from pyspark.sql.types import DataType, LongType, StructField, StructType

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
    computed from the PRE-merge version's affected buckets plus the
    batch's checkpointed rows — never from the just-written snapshot
    — so the snapshot data write and the MV version write are
    independent jobs and run concurrently; only the (driver-side,
    metadata-only) manifest commit and MV marker are ordered after
    them. The equivalences that make this exact (buckets are a pure
    function of the key): pre-merge touched rows all lie in the
    affected buckets, post-merge touched rows == the batch's upserts
    (every upsert key is a touched key, and touched keys' old rows are
    all replaced), and the post-merge snapshot == pre-merge rows
    anti-joined on the touched keys ∪ upserts."""
    from etl_tool_spark import commit as C
    from etl_tool_spark.streaming.cdc import (_load_manifest, _prepare_merge,
                                              list_versions, read_snapshot)

    mv_cols = ["mv_sum", "mv_n"] + (["mv_min", "mv_max"]
                                    if track_minmax else [])

    def mv_schema(group_type: DataType) -> StructType:
        """What every MV version holds, so no read infers it."""
        return StructType([StructField(group_col, group_type)]
                          + [StructField(c, LongType()) for c in mv_cols])

    mv_path = f"{mv_dir}/v{batch_id}"
    marker = f"{mv_path}/_MV_COMMITTED"
    if C.exists(marker):  # replay of a fully-applied batch: no-op
        return spark.read.schema(
            mv_schema(changes.schema[group_col].dataType)).parquet(mv_path)

    def batch_version() -> int | None:
        for n in reversed(list_versions(spark, snapshot_dir)):
            m = _load_manifest(spark, snapshot_dir, n)
            if m.get("batch_id") == batch_id:
                return n
        return None

    def gv(df: DataFrame) -> DataFrame:
        return df.select(F.col(group_col).alias("_g"),
                         F.col(value_col).cast("long").alias("_val"))

    def touched(snapshot: DataFrame, tk: DataFrame) -> DataFrame:
        return gv(snapshot.join(tk, keys, "semi"))

    empty = changes.limit(0)
    applied_at = batch_version()
    prep = None
    if applied_at is None:
        prep = _prepare_merge(changes, snapshot_dir, keys, seq_col, op_col,
                              batch_id=batch_id, checkpoint_first=True)

    if prep is not None:
        # fast path: this call performs the merge itself, so the MV
        # delta derives from the pre-merge affected buckets + the
        # checkpointed batch — the snapshot write below overlaps the
        # MV write
        pre_version, tk = prep["pre_version"], prep["touched"]
        old_t = touched(prep["old"] if prep["old"] is not None else empty,
                        tk)
        new_t = gv(prep["upserts"])

        def snap() -> DataFrame:
            old = (read_snapshot(spark, snapshot_dir, version=pre_version)
                   if pre_version is not None else empty)
            return gv(old.join(tk, keys, "left_anti")).unionByName(new_t)
    else:
        tk = changes.select(*keys).distinct()
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
        old_t = touched(read_snapshot(spark, snapshot_dir,
                                      version=pre_versions[-1])
                        if pre_versions else empty, tk)
        full = (read_snapshot(spark, snapshot_dir, version=applied_at)
                if applied_at is not None else empty)
        new_t = touched(full, tk)

        def snap() -> DataFrame:
            return gv(full)

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

    schema = mv_schema(delta.schema["_g"].dataType)
    prev = (spark.read.schema(schema).parquet(f"{mv_dir}/v{batch_id - 1}")
            if batch_id > 0 else spark.createDataFrame([], schema))

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
        redo = (snap().join(merged.filter("_lossy").select("_g").distinct(),
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
    return spark.read.schema(schema).parquet(mv_path)
