"""Sharded layout for the incremental stores' band-key tables.

The minhash (llm/dedup.py) and embedding (llm/similarity.py) incremental
stores keep their LSH band keys in an append-only parquet table that
every micro-batch probes with an equi-join. The table is
hive-partitioned by a hash shard of the band key:

    bands/_shard=K/part-*.parquet,   K = pmod(xxhash64(key cols), n)

which buys two things per micro-batch:

* **Partition-pruned store reads** — the batch's band keys hash to a
  bounded set of shards; the store read filters on ``_shard`` and the
  file index prunes every non-matching shard directory before a byte is
  read. A small batch touches few shards.
* **Shuffle-free probes** — with the store side pruned, the batch side
  (file-backed in every gate path) rides a row-gated broadcast, so the
  probe join is broadcast-hash against a pruned scan and the store is
  never shuffled.

A (band, bucket) group lives entirely in ONE shard (the shard is a pure
function of the key columns), so bucket-population counts over a pruned
read are exact for every bucket the batch can touch.

**One probe.** The batch's shard set and band-row count ride the write
the batch pays anyway, as an Observation of ``bit_or`` bitmask longs
(``fused_probe_observation``): the gates observe their staging write,
whose rows carry an array of band keys; an append observes each band
row as the one-element-array case. ``probe_shards_and_count`` is the
one-job aggregate for a batch whose band keys were never written.

**The shard count n is pinned per store.** The first append to a bands
table writes n to the hidden ``_shard_count`` file in it; every later
append and probe reads it from there, so a store keeps hashing keys to
the directories they were written to whatever the environment says.
``SPARK_GRAFT_BAND_SHARDS`` (default 32; e.g. 1024 at 100 TB) sizes NEW
stores only. A bands table holding data without the file was written by
an earlier layout and is refused; there is no in-place reshard — to
change n, rebuild the store.
"""

from __future__ import annotations

import glob
import os
import shutil
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["band_shards", "store_shards", "shard_col", "sharded_files",
           "flat_files", "append_bands", "append_and_pin", "read_pinned",
           "probe_shards_and_count", "overlap_writes", "shard_array",
           "fused_probe_observation", "prune_to_shards", "compact_dir",
           "compact_store", "partition_column", "finish_pending_compaction"]

SHARD_COUNT_FILE = "_shard_count"


def band_shards() -> int:
    """Shard count for a NEW store; read per call so tests can vary it.
    Invalid values fall back to the default rather than wedging ingest."""
    try:
        return max(1, int(os.environ.get("SPARK_GRAFT_BAND_SHARDS", "32")))
    except ValueError:
        return 32


def store_shards(bands_dir: str) -> int:
    """The shard count pinned in ``bands_dir``. A table with no data yet
    answers ``band_shards()``, the count its first append pins. A table
    holding data but no pinned count predates pinning: refused, since
    guessing n would prune probes to the wrong shard directories."""
    try:
        with open(os.path.join(bands_dir, SHARD_COUNT_FILE),
                  encoding="utf-8") as f:
            return int(f.read())
    except FileNotFoundError:
        pass
    if sharded_files(bands_dir) or flat_files(bands_dir):
        raise ValueError(
            f"{bands_dir} holds band keys without a pinned shard count "
            "(an earlier store layout); rebuild the store")
    return band_shards()


def shard_col(*cols: str | Column, n: int) -> Column:
    return F.pmod(F.xxhash64(*cols), F.lit(n)).cast("int")


def sharded_files(bands_dir: str) -> list[str]:
    """Every data file of the sharded layout, sorted for deterministic
    pinning."""
    return sorted(glob.glob(os.path.join(bands_dir, "_shard=*", "*.parquet")))


def flat_files(d: str) -> list[str]:
    """Part files directly under ``d`` (a flat table)."""
    return sorted(glob.glob(os.path.join(d, "*.parquet")))


def append_bands(banded: DataFrame, bands_dir: str,
                 key_cols: Sequence[str],
                 probe: bool = False) -> tuple[list[int], int] | None:
    """Append ``banded`` under the sharded layout, pinning the store's
    shard count on its first append. The frame is hash-repartitioned ON
    ``_shard`` before the partitioned write — without it every input
    partition opens a writer per shard value it holds (measured: 32
    tasks × 32 shards = 1,024 files PER batch at bench scale, and every
    later pinned probe re-lists and re-opens all of them). Repartitioned,
    an append emits at most one file per (task, shard) ≈ one per shard,
    for one extra batch-sized shuffle of narrow band rows.

    ``probe=True`` additionally returns (probed shards, band-row count)
    observed during the write — the incremental update-store path's
    probe, folded into the append it already pays (guide §1.2)."""
    n = store_shards(bands_dir)
    pin = os.path.join(bands_dir, SHARD_COUNT_FILE)
    if not os.path.exists(pin):
        os.makedirs(bands_dir, exist_ok=True)
        with open(pin + ".tmp", "w", encoding="utf-8") as f:
            f.write(str(n))
        os.replace(pin + ".tmp", pin)
    sharded = banded.withColumn("_shard", shard_col(*key_cols, n=n))
    resolve = None
    if probe:
        sharded, resolve = fused_probe_observation(
            sharded, F.array(F.col("_shard")), n)
    (sharded.repartition(n, F.col("_shard"))
            .write.mode("append").partitionBy("_shard").parquet(bands_dir))
    return resolve() if resolve else None


def append_and_pin(table: DataFrame, store_dir: str, table_name: str,
                   band: Callable[[DataFrame], DataFrame],
                   key_cols: Sequence[str]):
    """Append ``table`` to ``store_dir/table_name`` and its band keys
    (``band`` of the appended rows) to the sharded ``bands/`` table, and
    return (rows, band rows, probe) re-read PINNED to the just-written
    part files — hashing and banding execute exactly once (during the
    writes); every later consumer scans parquet. The probe (shard set +
    row count) rides the bands append."""
    spark = table.sparkSession
    table_dir = os.path.join(store_dir, table_name)
    bands_dir = os.path.join(store_dir, "bands")
    finish_pending_compaction(table_dir)
    pre = set(flat_files(table_dir))
    pre_band = set(sharded_files(bands_dir))
    table.write.mode("append").parquet(table_dir)
    table = spark.read.parquet(*sorted(set(flat_files(table_dir)) - pre))
    banded = band(table)
    probe = append_bands(banded, bands_dir, key_cols, probe=True)
    new_band = sorted(set(sharded_files(bands_dir)) - pre_band)
    # a partitioned write of an EMPTY frame creates no shard dirs at
    # all (unlike a flat write's schema-only part file) — pin the
    # schema, not a schema-less read
    banded = (spark.read.parquet(*new_band) if new_band
              else spark.createDataFrame([], banded.schema))
    return table, banded, probe


def read_pinned(spark: SparkSession, bands_dir: str,
                files: Sequence[str]) -> DataFrame:
    """Explicit-file read PINNED to ``files`` (append-isolation contract
    of the incremental stores) that keeps the ``_shard`` partition
    column — and therefore partition pruning — via ``basePath``."""
    return (spark.read.option("basePath", bands_dir).parquet(*files))


def probe_shards_and_count(banded_new: DataFrame, key_cols: Sequence[str],
                           n: int) -> tuple[list[int], int]:
    """The shards a batch's band keys hash into and its band-row count,
    from ONE aggregate job — for a batch whose band keys no write
    observed. The collect is bounded by ``n`` rows, never batch-sized."""
    rows = (banded_new.groupBy(shard_col(*key_cols, n=n).alias("_s"))
                      .agg(F.count(F.lit(1)).alias("_n")).collect())
    return [r["_s"] for r in rows], sum(r["_n"] for r in rows)


def shard_array(keys_arr: Column, n: int, with_index: bool = False) -> Column:
    """Per-row shard ids of an ARRAY of band keys — the array twin of
    ``shard_col``. With ``with_index=True`` each element hashes as
    (array index, element), exactly what ``shard_col("_band",
    "_bucket")`` computes on the posexploded rows (the HOF index
    variable is IntegerType, matching posexplode's position column, so
    xxhash64 sees identical input types — pinned by test)."""
    s = F.lit(n)
    if with_index:
        return F.transform(keys_arr,
                           lambda x, i: F.pmod(F.xxhash64(i, x), s)
                           .cast("int"))
    return F.transform(keys_arr,
                       lambda x: F.pmod(F.xxhash64(x), s).cast("int"))


def _row_shard_mask(shards_arr: Column, k: int) -> Column:
    """bigint bitmask of the row's shard ids within [64k, 64k+64)."""
    lo = 64 * k
    return F.aggregate(
        F.filter(shards_arr, lambda s: (s >= F.lit(lo))
                 & (s < F.lit(lo + 64))),
        F.lit(0).cast("bigint"),
        lambda acc, s: acc.bitwiseOR(
            F.call_function("shiftleft", F.lit(1).cast("bigint"),
                            (s - F.lit(lo)).cast("int"))))


def fused_probe_observation(staged: DataFrame, shards_arr: Column, n: int):
    """The shard probe, riding a write: ``staged`` is the frame about to
    be written, ``shards_arr`` its per-row array of shard ids in [0, n)
    (``shard_array``; a frame with one band key per row passes a
    one-element array). Attaches an Observation computing (probed shard
    set, band-row count) as ``bit_or`` bitmask longs — ceil(n/64)
    fixed-width values per task, never a collection that grows with the
    batch. Returns (observed frame, resolver); call the resolver AFTER
    the write."""
    from pyspark.sql import Observation

    n_masks = (n + 63) // 64
    obs = Observation()
    observed = staged.observe(
        obs,
        *[F.bit_or(_row_shard_mask(shards_arr, k)).alias(f"_m{k}")
          for k in range(n_masks)],
        F.sum(F.size(shards_arr)).alias("_n"))

    def resolve() -> tuple[list[int], int]:
        m = obs.get
        shards = [64 * k + b for k in range(n_masks) for b in range(64)
                  if ((m[f"_m{k}"] or 0) >> b) & 1]
        return shards, int(m["_n"] or 0)

    return observed, resolve


def _inheritable(spark: SparkSession, fn: Callable) -> Callable:
    """``inheritable_thread_target`` wrapping that tolerates classic
    mode with pinned-thread mode DISABLED (PYSPARK_PIN_THREAD=false):
    pyspark's non-ClientServer branch there returns its argument
    unchanged — i.e. the SparkSession, not a decorator — so blindly
    calling the result would raise TypeError. Thread-local inheritance
    is only meaningful in pinned mode anyway; fall back to the bare
    thunk otherwise."""
    from pyspark import inheritable_thread_target

    w = inheritable_thread_target(spark)
    return w(fn) if callable(w) else fn


def overlap_writes(spark: SparkSession, *thunks: Callable[[], None]) -> None:
    """Run independent store writes concurrently from a small driver
    thread pool (optimization guide §2.6: actions are only sequential
    because driver code calls them sequentially — the next append's
    tasks back-fill executors freed by the current one's tail).

    ONLY for writes whose order is NOT a crash contract: the ingest
    gates' land-before-store ordering must never pass through here,
    but the per-table store appends AFTER a landing (sig/ vs bands/,
    fp/ vs sig/) are independent directories replayed wholesale from
    the batch marker on a crash, so any interleaving is as safe as the
    sequential order (same argument as compact_store's pool). A thunk
    failure propagates after all thunks finish — identical outcome to
    a crash between sequential appends (batch unmarked → replayed)."""
    if len(thunks) == 1:
        thunks[0]()
        return
    from concurrent.futures import ThreadPoolExecutor

    wrapped = [_inheritable(spark, t) for t in thunks]
    with ThreadPoolExecutor(max_workers=min(3, len(wrapped))) as pool:
        futs = [pool.submit(w) for w in wrapped]
        errs = [f.exception() for f in futs]
        for e in errs:
            if e is not None:
                raise e


def prune_to_shards(banded_old: DataFrame, shards: Sequence[int]) -> DataFrame:
    """Filter a ``read_pinned`` store frame to the probed shards (the
    file index prunes non-matching shard directories) and restore the
    logical schema."""
    return (banded_old.filter(F.col("_shard").isin(list(shards)))
                      .drop("_shard"))


# ---------------------------------------------------------------------------
# Compaction: bounding file counts for long-lived stores
# ---------------------------------------------------------------------------
# One-file-per-shard appends keep a batch cheap, but a store ingesting
# for months still accumulates shards × batches files, and file-index
# listing cost grows with every batch. Compaction rewrites a table's
# current snapshot into one file per shard (sharded) or a handful of
# files (flat) during a maintenance window between batches.
#
# Raw parquet has no transaction log, so crash safety comes from the
# discipline of a staged copy: nothing in the live directory is
# deleted until a complete staged copy exists, and the promotion step
# is driven by a MANIFEST of exactly the files the staged copy
# replaces — so a batch that appends between a crashed promotion and
# its recovery can never lose data (recovery deletes only manifest
# files, every one of which is duplicated in the stage). The stage is
# authoritative the moment its manifest exists; before that it is
# garbage and recovery discards it.

_COMPACT_SUFFIX = "_compact"
_MANIFEST = "_compact_manifest.json"


def _stage_data_files(stage: str) -> list[str]:
    """Data files of a staged compaction, flat or hive-partitioned
    (any single-level partition column — ``_shard=`` band stores,
    ``cell=`` IVF indexes)."""
    return sorted(glob.glob(os.path.join(stage, "*.parquet"))
                  + glob.glob(os.path.join(stage, "*=*", "*.parquet")))


def partition_column(d: str) -> str | None:
    """The hive partition column of a table directory, or None for a
    flat layout — detected from the ``col=value`` directory names."""
    for p in sorted(glob.glob(os.path.join(d, "*=*"))):
        if os.path.isdir(p):
            return os.path.basename(p).split("=", 1)[0]
    return None


def _promote_compaction(d: str, stage: str) -> None:
    """Finish a staged compaction whose manifest exists: remove the
    replaced files (tolerating ones a crashed promotion already
    removed), move the staged files in, drop the stage. Idempotent —
    safe to re-run from any interruption point."""
    import json as _json
    with open(os.path.join(stage, _MANIFEST), encoding="utf-8") as f:
        replaced = _json.load(f)["files"]
    for f in replaced:
        try:
            os.remove(f)
        except FileNotFoundError:
            pass
    for src in _stage_data_files(stage):
        rel = os.path.relpath(src, stage)
        dst = os.path.join(d, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(src, dst)
    shutil.rmtree(stage, ignore_errors=True)


def finish_pending_compaction(d: str) -> None:
    """Recover an interrupted ``compact_dir`` run on ``d``. A stage
    with a manifest is complete and promotes (data files in ``d`` stay
    a superset of one full snapshot throughout); a stage without one
    died mid-write and is discarded. Called from every store-open path
    so readers never see the missing-rows window a crashed promotion
    leaves behind."""
    stage = d.rstrip("/") + _COMPACT_SUFFIX
    if not os.path.isdir(stage):
        return
    if os.path.exists(os.path.join(stage, _MANIFEST)):
        _promote_compaction(d, stage)
    else:
        shutil.rmtree(stage, ignore_errors=True)


def compact_dir(spark: SparkSession, d: str, sharded: bool | None = None,
                target_files: int = 4) -> dict:
    """Compact a store table directory in place; returns
    ``{"before": n_files, "after": n_files}``.

    ``sharded=None`` auto-detects the layout (``_shard=`` partition
    directories → sharded). A sharded table compacts to one file per
    shard; a flat table coalesces to ``target_files``. No-op when the
    table is already at or under the target.

    Concurrency contract: run between batches (a maintenance window).
    Probes pin pre-append file lists, so a probe planned BEFORE the
    compaction must finish before promotion deletes its files — same
    snapshot caveat as the append paths, and the reason a production
    deployment would put these stores on Iceberg/Delta. Crash at any
    point is recovered by the next store open or ``compact_dir`` call
    (see finish_pending_compaction)."""
    finish_pending_compaction(d)
    # any single-level hive layout compacts to one file per partition
    # value: _shard= band stores, cell= IVF indexes. `sharded` keeps
    # its boolean meaning for callers; the column is detected.
    part = partition_column(d)
    if sharded is None:
        sharded = part is not None
    files = (sorted(glob.glob(os.path.join(d, f"{part}=*", "*.parquet")))
             if sharded else flat_files(d))
    n_parts = len({os.path.basename(os.path.dirname(f))
                   for f in files}) if sharded else 0
    target = n_parts if sharded else max(1, target_files)
    if len(files) <= target:
        return {"before": len(files), "after": len(files)}
    stage = d.rstrip("/") + _COMPACT_SUFFIX
    shutil.rmtree(stage, ignore_errors=True)
    if sharded:
        # re-derive the partition column from the directory names
        # (basePath read), and repartition on it — one file per
        # partition value (see append_bands)
        (spark.read.option("basePath", d).parquet(*files)
              .repartition(F.col(part))
              .write.mode("overwrite").partitionBy(part).parquet(stage))
    else:
        (spark.read.parquet(*files).coalesce(target)
              .write.mode("overwrite").parquet(stage))
    import json as _json
    manifest = os.path.join(stage, _MANIFEST)
    with open(manifest + ".tmp", "w", encoding="utf-8") as f:
        _json.dump({"files": files}, f)
    os.rename(manifest + ".tmp", manifest)  # stage becomes authoritative
    _promote_compaction(d, stage)
    after = (sorted(glob.glob(os.path.join(d, f"{part}=*", "*.parquet")))
             if sharded else flat_files(d))
    return {"before": len(files), "after": len(after)}


def compact_store(spark: SparkSession, store_dir: str,
                  target_files: int = 4) -> dict:
    """Compact every table of an incremental store (minhash: sig/ +
    bands/; embedding: vec/ + bands/; clean gate adds fp/; an IVF
    index dir adds cell-partitioned vectors/, which appends grow by
    one file per touched cell per batch; a PQ index dir adds the flat
    codes/ table; a bare exact-dedup store is its own flat table).
    Returns per-table before/after file counts.

    The per-table compactions are INDEPENDENT (distinct directories,
    distinct staged copies, distinct manifests), so they run from a
    small driver thread pool: the next table's rewrite job back-fills
    executors freed by the current one's task tail instead of each job
    paying its straggler latency back to back (optimization guide
    §2.6). Crash safety is unchanged — each table keeps its own staged
    copy + manifest protocol, and a crash mid-pool leaves each table
    either untouched, staged-unmanifested (discarded on recovery), or
    manifested (promoted on recovery), exactly as in the sequential
    order."""
    tables = [(sub, is_sharded)
              for sub, is_sharded in (("sig", False), ("vec", False),
                                      ("fp", False), ("bands", True),
                                      ("vectors", None), ("codes", False))
              if os.path.isdir(os.path.join(store_dir, sub))]
    if not tables:
        if flat_files(store_dir):
            return {".": compact_dir(spark, store_dir, sharded=False,
                                     target_files=target_files)}
        return {}
    from concurrent.futures import ThreadPoolExecutor

    def _one(sub: str, is_sharded: bool | None) -> dict:
        return compact_dir(spark, os.path.join(store_dir, sub),
                           sharded=is_sharded, target_files=target_files)

    one = _inheritable(spark, _one)

    # 2-3 jobs in flight is plenty (guide §2.6): enough to fill the
    # tail, not so many that tiny rewrite jobs fight for cores
    with ThreadPoolExecutor(max_workers=min(3, len(tables))) as pool:
        futs = [(sub, pool.submit(one, sub, is_sharded))
                for sub, is_sharded in tables]
        return {sub: f.result() for sub, f in futs}
