"""CDC merge: streaming upserts/deletes into a VERSIONED keyed snapshot.

The missing half of a change-data-capture pipeline: a stream of change
records (op = I/U/D + a monotonically increasing sequence per key) is
folded into a queryable snapshot holding the LATEST surviving row per
key. On managed table formats this is ``MERGE INTO`` (Delta/Iceberg);
this is the format-agnostic rendition over plain parquet, with the two
properties that make MERGE safe at scale:

**Rewrite cost ∝ change volume.** The snapshot is hash-bucketed on the
key (``pmod(xxhash64(keys), n_buckets)``); each micro-batch reduces to
its latest change per key, reads back ONLY the affected buckets' files,
and writes ONLY those buckets anew. Untouched buckets are never read or
written. At 100 TB, n_buckets scales to thousands and a batch touching
k buckets costs k bucket rewrites regardless of snapshot size.

**Atomic commits via immutable versions** (the table-format commit
protocol, miniaturized). Data files are IMMUTABLE — every merge writes
its output buckets into a fresh ``data/<batch>-<attempt>/`` directory
and never deletes or overwrites live files. A version is a manifest
JSON in ``_versions/`` mapping bucket → data directory; the CURRENT
version is simply the highest-numbered manifest. Committing = a
``commit.publish`` of the manifest: create-if-absent through a temp
write and a RENAME — a single atomic filesystem operation (HDFS/POSIX
rename; on S3 front it with a consistent store, the same caveat every
table format carries) — checked by a read-back. A crash
anywhere before the rename leaves the previous version fully intact
and only an orphaned data directory behind (``vacuum`` collects it);
there is no window in which a reader can observe a half-merged
snapshot, unlike overwrite-in-place. Replayed batches (foreachBatch
retry) re-merge against whatever version is current — the fold is
content-idempotent — and a replay that discovers its own already-
committed manifest (same batch_id at the next version number) treats
the commit as done.

Time travel falls out for free: ``read_snapshot(..., version=N)``
reads any retained manifest, and ``list_versions`` shows the history.
Single writer assumed (Structured Streaming's foreachBatch serializes
batches); concurrent writers would need a lock service or CAS, exactly
as with every file-based table format.

Ordering contract: within a batch the greatest ``seq_col`` wins per key
(ties: delete loses to upsert, making replays idempotent-safe); ACROSS
batches later batches win unconditionally — the stream must be per-key
ordered batch-to-batch, which Structured Streaming's source-offset
ordering provides when the CDC feed is per-key ordered (Kafka
key-partitioning, Debezium per-table topics)."""

from __future__ import annotations

import json
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_tool_spark import commit as C

__all__ = ["merge_cdc_batch", "read_snapshot", "cdc_merge_stream",
           "list_versions", "vacuum", "snapshot_diff", "restore_version"]

BUCKET_COL = "_bucket"
VERSIONS_DIR = "_versions"
DATA_DIR = "data"


# --- version bookkeeping ---

def _manifest_name(n: int) -> str:
    return f"v{n:09d}.json"


def list_versions(spark: SparkSession, snapshot_dir: str) -> list[int]:
    """Retained version numbers, ascending (vacuum trims the head)."""
    return sorted(int(p.rsplit("/", 1)[1][1:10]) for p in
                  C.ls(f"{snapshot_dir}/{VERSIONS_DIR}/v*.json"))


def _reject_legacy_layout(spark: SparkSession, snapshot_dir: str) -> None:
    """A directory with `_bucket=*` dirs at top level is the
    pre-versioned layout. Folding new batches over it as if empty would
    silently discard the existing state — refuse instead. One listing."""
    if C.ls(f"{snapshot_dir}/{BUCKET_COL}=*"):
        raise ValueError(
            f"{snapshot_dir} uses the pre-versioned snapshot layout "
            "(top-level _bucket=* directories), which is not read; "
            "rebuild the snapshot by replaying its change feed into a "
            "new directory")


def _load_manifest(spark: SparkSession, snapshot_dir: str, n: int) -> dict:
    path = f"{snapshot_dir}/{VERSIONS_DIR}/{_manifest_name(n)}"
    text = C.read_text(path)
    if text is None:
        raise FileNotFoundError(path)
    return json.loads(text)


def _commit_manifest(spark: SparkSession, snapshot_dir: str, n: int,
                     manifest: dict) -> bool:
    """Publish version ``n`` (``commit.publish``). Returns False when
    another attempt's manifest occupies v{n} — a lost race, resolved by
    batch_id upstream."""
    return C.publish(f"{snapshot_dir}/{VERSIONS_DIR}/{_manifest_name(n)}",
                     json.dumps(manifest))


def _bucket_paths(snapshot_dir: str, manifest: dict) -> list[str]:
    return [f"{snapshot_dir}/{d}/{BUCKET_COL}={b}"
            for b, d in manifest["buckets"].items()]


def _written_buckets(spark: SparkSession, out_dir: str) -> list[str]:
    """Bucket ids just written under ``out_dir`` (partition dir names),
    sorted — a driver-side metadata listing, not a plan re-execution."""
    return sorted((p.rsplit("=", 1)[1]
                   for p in C.ls(f"{out_dir}/{BUCKET_COL}=*")), key=int)


def read_snapshot(spark: SparkSession, snapshot_dir: str,
                  version: int | None = None) -> DataFrame:
    """The snapshot at ``version`` (default: current). Buckets resolve
    through the manifest to immutable data directories, so a concurrent
    merge can never change what this frame reads — snapshot isolation
    by construction."""
    versions = list_versions(spark, snapshot_dir)
    if not versions:
        _reject_legacy_layout(spark, snapshot_dir)
        raise FileNotFoundError(f"no snapshot versions under {snapshot_dir}")
    n = versions[-1] if version is None else version
    if n not in versions:
        raise FileNotFoundError(
            f"version {n} not retained (have {versions[0]}..{versions[-1]})")
    manifest = _load_manifest(spark, snapshot_dir, n)
    paths = _bucket_paths(snapshot_dir, manifest)
    if not paths:
        return spark.createDataFrame([], manifest["schema_ddl"])
    return spark.read.parquet(*paths)


def _prepare_merge(batch: DataFrame, snapshot_dir: str,
                   keys: list[str], seq_col: str = "seq",
                   op_col: str = "op", n_buckets: int = 16,
                   batch_id: int | None = None,
                   checkpoint_first: bool = False) -> dict | None:
    """Everything ``merge_cdc_batch`` does up to (but not including)
    the merged data write, with the write and manifest commit DEFERRED
    as closures — so a caller maintaining a second store (the MV
    refresh) can run its own write CONCURRENTLY with the snapshot write
    (guide §2.6) and still commit the manifest afterwards. Returns None
    when the batch touches no buckets (nothing to write or commit), else

        {"write":   run the snapshot data write,
         "commit":  list written buckets + commit the version manifest,
         "release": unpersist the batch checkpoint blocks,
         "upserts": the batch's surviving rows (reads MATERIALIZED
                    checkpoint blocks — safe to consume from a
                    concurrent job),
         "pre_version": the version preceding this merge (None on the
                    first merge)}.

    ``checkpoint_first`` additionally checkpoints the first-ever merge
    EAGERLY (the versioned branch is always materialized by its
    affected-bucket collect): a caller that consumes ``upserts`` from a
    second concurrent job needs the window's tie-resolution pinned once
    — two racing materializations of a lazy checkpoint could otherwise
    disagree on row_number ties. ``merge_cdc_batch`` passes False and
    keeps its historical single-pass behavior."""
    spark = batch.sparkSession

    # latest change per key this batch; on equal seq a delete loses
    op_rank = F.when(F.col(op_col) == "D", 0).otherwise(1)
    w = Window.partitionBy(*keys).orderBy(F.col(seq_col).desc(), op_rank.desc())
    bucket = F.pmod(F.xxhash64(*keys), F.lit(n_buckets)).cast("int")
    latest = (batch.withColumn("_rn", F.row_number().over(w))
                   .filter(F.col("_rn") == 1).drop("_rn")
                   .withColumn(BUCKET_COL, bucket))

    versions = list_versions(spark, snapshot_dir)
    attempt = (f"b{batch_id}-" if batch_id is not None else "") \
        + uuid.uuid4().hex[:12]
    out_rel = f"{DATA_DIR}/{attempt}"
    out_dir = f"{snapshot_dir}/{out_rel}"

    from etl_tool_spark.llm.graph import _checkpoint_rdd

    def _releaser(frame) -> Callable[[], None]:
        def _release() -> None:
            rdd = _checkpoint_rdd(frame)
            if rdd is not None:  # release batch blocks; streams run forever
                rdd.unpersist(False)
        return _release

    if not versions:
        _reject_legacy_layout(spark, snapshot_dir)
        release = lambda: None  # noqa: E731
        if checkpoint_first:
            latest = latest.localCheckpoint(eager=True)
            release = _releaser(latest)
        upserts = latest.filter(F.col(op_col) != "D").drop(op_col, seq_col)

        def write_first() -> None:
            upserts.write.partitionBy(BUCKET_COL).parquet(out_dir)

        def commit_first() -> None:
            written = _written_buckets(spark, out_dir)
            manifest = {"batch_id": batch_id, "n_buckets": n_buckets,
                        "keys": list(keys),
                        "schema_ddl": upserts.drop(BUCKET_COL)
                        ._jdf.schema().toDDL(),
                        "buckets": {b: out_rel for b in written}}
            if not _commit_manifest(spark, snapshot_dir, 1, manifest):
                _require_same_batch(spark, snapshot_dir, 1, batch_id)

        return {"write": write_first, "commit": commit_first,
                "release": release, "upserts": upserts, "pre_version": None}

    cur_n = versions[-1]
    cur = _load_manifest(spark, snapshot_dir, cur_n)
    if cur["n_buckets"] != n_buckets:
        raise ValueError(
            f"snapshot bucketed {cur['n_buckets']}-way, asked {n_buckets}")

    # the latest-change frame has three consumers on this branch — the
    # affected-bucket collect, the merged write's upsert side, and the
    # keep anti-join's key side — so without a checkpoint the batch's
    # dedup window re-runs for each (guide §5: cut recompute, release
    # when done; streams call this per micro-batch forever, hence the
    # explicit unpersist before every exit). Lazy: the collect
    # materializes it. upserts re-derives from the CHECKPOINTED frame
    # so the write reads blocks, not the window plan.
    latest = latest.localCheckpoint(eager=False)
    upserts = latest.filter(F.col(op_col) != "D").drop(op_col, seq_col)
    release = _releaser(latest)

    affected = sorted(str(r[0]) for r in
                      latest.select(BUCKET_COL).distinct().collect())
    if not affected:
        release()
        return None
    old_paths = [f"{snapshot_dir}/{cur['buckets'][b]}/{BUCKET_COL}={b}"
                 for b in affected if b in cur["buckets"]]
    keep = None
    if old_paths:
        # immutable inputs: these files are never deleted or rewritten
        # by this merge, so no checkpoint/copy is needed before writing
        old = spark.read.parquet(*old_paths)
        keep = old.join(latest.select(*keys), keys, "left_anti") \
                  .withColumn(BUCKET_COL, bucket)
    merged = keep.unionByName(upserts) if keep is not None else upserts

    def write() -> None:
        merged.write.partitionBy(BUCKET_COL).parquet(out_dir)

    def commit() -> None:
        # the output partition dir names ARE the present-bucket set: one
        # driver-side listing instead of re-executing the whole merge plan
        present = _written_buckets(spark, out_dir)
        buckets = {b: d for b, d in cur["buckets"].items()
                   if b not in set(affected)}
        buckets.update({b: out_rel for b in present})
        manifest = {"batch_id": batch_id, "n_buckets": n_buckets,
                    "keys": list(keys),
                    "schema_ddl": cur["schema_ddl"],
                    "buckets": dict(sorted(buckets.items()))}
        if not _commit_manifest(spark, snapshot_dir, cur_n + 1, manifest):
            _require_same_batch(spark, snapshot_dir, cur_n + 1, batch_id)

    return {"write": write, "commit": commit, "release": release,
            "upserts": upserts, "pre_version": cur_n}


def merge_cdc_batch(batch: DataFrame, snapshot_dir: str,
                    keys: list[str], seq_col: str = "seq",
                    op_col: str = "op", n_buckets: int = 16,
                    batch_id: int | None = None) -> None:
    """Fold one batch of change records into the snapshot (see module
    docstring). ``batch`` columns: keys + seq_col + op_col + payload."""
    prep = _prepare_merge(batch, snapshot_dir, keys, seq_col, op_col,
                          n_buckets, batch_id)
    if prep is None:
        return
    prep["write"]()
    prep["release"]()
    prep["commit"]()


def _require_same_batch(spark: SparkSession, snapshot_dir: str, n: int,
                        batch_id: int | None) -> None:
    """Commit lost the rename race. Under the single-writer contract the
    only legitimate cause is our own earlier attempt (crash after
    commit, replay re-merged): accept if the committed manifest carries
    the same batch_id, raise otherwise — a different id means a second
    writer, which this protocol does not arbitrate."""
    existing = _load_manifest(spark, snapshot_dir, n)
    if batch_id is None or existing.get("batch_id") != batch_id:
        raise RuntimeError(
            f"concurrent commit detected at version {n} of {snapshot_dir} "
            f"(found batch_id={existing.get('batch_id')!r}); the CDC "
            "snapshot assumes a single writer")


def vacuum(spark: SparkSession, snapshot_dir: str, keep_last: int = 2,
           min_age_s: float = 3600.0) -> int:
    """Drop all but the newest ``keep_last`` versions and delete data
    directories no retained manifest references (crashed attempts'
    orphans included). Returns the number of data dirs removed. Safe
    order: old manifests are deleted FIRST, so a reader can never
    resolve a manifest whose data is gone.

    ``min_age_s`` guards the in-flight-merge window: an attempt dir that
    a concurrent merge has written but NOT YET committed is unreferenced
    too, and deleting it would let that merge commit a manifest pointing
    at nothing. Only unreferenced dirs whose modification time is older
    than the cutoff are collected — set it comfortably above the longest
    merge duration (the same retention/real-work tension every table
    format's VACUUM documents)."""
    versions = list_versions(spark, snapshot_dir)
    keep_ns = versions[-keep_last:] if keep_last > 0 else []
    for n in versions:
        if n not in keep_ns:
            C.delete(f"{snapshot_dir}/{VERSIONS_DIR}/{_manifest_name(n)}")
    referenced = set()
    for n in keep_ns:
        m = _load_manifest(spark, snapshot_dir, n)
        referenced.update(d.split("/", 1)[1] for d in m["buckets"].values())
    now_ms = time.time() * 1000.0
    removed = 0
    for p in C.ls(f"{snapshot_dir}/{DATA_DIR}/*"):
        if p.rsplit("/", 1)[1] in referenced:
            continue
        if (now_ms - C.mtime(p)) / 1000.0 >= min_age_s:
            C.delete(p)
            removed += 1
    return removed


def normalize_cdc_options(opts: dict) -> dict:
    """The ONE place the YAML cdc-sink option contract is interpreted —
    shared by the batch sink (sources/sinks.py write_cdc) and the
    streaming branch (plans/pipeline.py), so the two surfaces can't
    drift. Returns merge_cdc_batch/cdc_merge_stream keyword args."""
    keys = opts.get("keys") or []
    if isinstance(keys, str):
        keys = [keys]
    return {"keys": list(keys),
            "seq_col": opts.get("seqColumn", "seq"),
            "op_col": opts.get("opColumn", "op"),
            "n_buckets": int(opts.get("buckets", 16))}


def cdc_merge_stream(changes: DataFrame, snapshot_dir: str, checkpoint: str,
                     keys: list[str], seq_col: str = "seq",
                     op_col: str = "op", n_buckets: int = 16):
    """Attach the CDC merge to a streaming frame via foreachBatch.
    Returns the started StreamingQuery (exactly-once per batch id via
    the checkpoint; merge_cdc_batch is content-idempotent on replay and
    detects its own already-committed attempt by batch_id)."""

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        merge_cdc_batch(batch_df, snapshot_dir, keys=keys, seq_col=seq_col,
                        op_col=op_col, n_buckets=n_buckets,
                        batch_id=batch_id)

    return (changes.writeStream.foreachBatch(_merge)
                   .option("checkpointLocation", checkpoint)
                   .trigger(availableNow=True)
                   .start())


def snapshot_diff(spark: SparkSession, snapshot_dir: str,
                  from_version: int, to_version: int | None = None,
                  keys: list[str] | None = None) -> DataFrame:
    """Row-level changes between two retained versions (the change-feed
    view table formats call CDF): key columns + ``change_type`` in
    {'insert', 'delete', 'update'}. Keys default to the manifest's
    recorded key columns. One full-outer join keyed on the snapshot
    key; unchanged rows drop out via a null-safe struct comparison of
    the non-key columns."""
    versions = list_versions(spark, snapshot_dir)
    to_n = versions[-1] if to_version is None else to_version
    man = _load_manifest(spark, snapshot_dir, to_n)
    keys = list(keys or man.get("keys") or [])
    if not keys:
        raise ValueError("snapshot_diff needs key columns (manifest "
                         "predates key recording — pass keys=[...])")
    old = read_snapshot(spark, snapshot_dir, version=from_version)
    new = read_snapshot(spark, snapshot_dir, version=to_n)
    payload = [c for c in new.columns if c not in keys]
    o = old.select(*keys, F.struct(*payload).alias("_old"),
                   F.lit(True).alias("_in_old"))
    n = new.select(*keys, F.struct(*payload).alias("_new"),
                   F.lit(True).alias("_in_new"))
    j = o.join(n, keys, "full_outer")
    change = (F.when(F.col("_in_old").isNull(), "insert")
               .when(F.col("_in_new").isNull(), "delete")
               .when(~F.col("_old").eqNullSafe(F.col("_new")), "update"))
    return (j.withColumn("change_type", change)
             .filter(F.col("change_type").isNotNull())
             .select(*keys, "change_type"))


def restore_version(spark: SparkSession, snapshot_dir: str,
                    version: int) -> int:
    """Rewind: commit a NEW version whose manifest is a copy of
    ``version``'s — zero data movement (the data dirs are immutable and
    shared), and the bad versions stay in history for forensics until
    vacuumed. Returns the new version number."""
    versions = list_versions(spark, snapshot_dir)
    if version not in versions:
        raise FileNotFoundError(
            f"version {version} not retained (have {versions})")
    man = _load_manifest(spark, snapshot_dir, version)
    new_n = versions[-1] + 1
    man = {**man, "batch_id": None, "restored_from": version}
    if not _commit_manifest(spark, snapshot_dir, new_n, man):
        raise RuntimeError(
            f"restore race: version {new_n} was committed concurrently")
    return new_n
