"""Layout and Spark job counts of the CDC snapshot and its MV, pinned.

A bootstrap batch with every key, then Zipf-skewed change batches go
through ``update_agg_mv`` into a 16-bucket snapshot. The snapshot write
rebalances on the bucket, so each version writes one file per touched
bucket however many scan splits or shuffle partitions fed it; without
the rebalance every task wrote one file per bucket it saw, and the
count grew with every batch. Jobs are counted per job group with
``statusTracker().getJobIdsForGroup``; each batch's ``changes`` frame
is built outside the group."""

import re

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

N_BUCKETS = 16
N_KEYS, BATCH_ROWS, N_BATCHES = 20_000, 2_000, 5
MV_JOBS = 10      # per warm update_agg_mv (14 before the rebalance)
READ_JOBS = 2     # per read_snapshot(...).count() (3 with schema inference)


def _write_batches(tmp_path, n_batches=N_BATCHES) -> list[str]:
    """Batch 0 upserts every key once; later batches are Zipf-skewed
    over a permuted key space (hot keys repeat inside a batch and land
    in every bucket), with 10% deletes and seq shuffled in the batch."""
    rng = np.random.default_rng(11)
    perm = rng.permutation(N_KEYS)
    paths = []
    for i in range(n_batches + 1):
        n = N_KEYS if i == 0 else BATCH_ROWS
        if i == 0:
            k, op = np.arange(n), np.full(n, "U")
        else:
            k = perm[np.minimum(rng.zipf(1.1, n), N_KEYS) - 1]
            op = np.where(rng.random(n) < 0.1, "D", "U")
        p = str(tmp_path / f"batch_{i}.parquet")
        pq.write_table(pa.table({
            "k": k.astype(np.int64),
            "seq": (i * N_KEYS + rng.permutation(n)).astype(np.int64),
            "op": pa.array(op, type=pa.string()),
            "grp": rng.integers(0, 50, n, dtype=np.int64),
            "val": rng.integers(0, 1000, n, dtype=np.int64)}), p)
        paths.append(p)
    return paths


def _fold(paths: list[str]) -> set[tuple]:
    """DuckDB fold of every batch: per key the latest change by (batch,
    seq), a delete losing a seq tie; deleted keys leave."""
    union = " UNION ALL ".join(f"SELECT *, {b} AS b FROM read_parquet('{p}')"
                               for b, p in enumerate(paths))
    return set(duckdb.sql(f"""
        SELECT k, grp, val FROM (
          SELECT *, row_number() OVER (
            PARTITION BY k ORDER BY b DESC, seq DESC,
                                    CASE WHEN op = 'D' THEN 0 ELSE 1 END DESC
          ) AS rn FROM ({union})) WHERE rn = 1 AND op <> 'D'""").fetchall())


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group, False)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None, False)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _update(spark, snap, mv, changes, batch_id, **kw):
    from etl_tool_spark.operators.mv import update_agg_mv

    return update_agg_mv(spark, snap, mv, changes, keys=["k"],
                         group_col="grp", value_col="val",
                         batch_id=batch_id, **kw)


def _bucket_files(snap: str, manifest: dict) -> dict[str, int]:
    from etl_tool_spark import commit as C

    return {b: len(C.ls(f"{snap}/{d}/_bucket={b}/*.parquet"))
            for b, d in manifest["buckets"].items()}


def test_cdc_one_file_per_bucket_and_jobs(spark, tmp_path):
    from etl_tool_spark.streaming.cdc import (_load_manifest, list_versions,
                                              read_snapshot)

    paths = _write_batches(tmp_path)
    snap, mv = str(tmp_path / "snap"), str(tmp_path / "mv")
    mv_jobs, read_jobs, written = [], [], []
    for i, p in enumerate(paths):
        changes = spark.read.parquet(p)
        _, jobs = _jobs(spark, f"cdc-mv-{i}-{tmp_path.name}",
                        lambda: _update(spark, snap, mv, changes, i))
        mv_jobs.append(jobs)
        n = list_versions(spark, snap)[-1]
        man = _load_manifest(spark, snap, n)
        files = _bucket_files(snap, man)
        assert set(files.values()) == {1}, (n, files)
        written.append(sum(files[b] for b, d in man["buckets"].items()
                           if d.startswith(f"data/b{i}-")))
        _, jobs = _jobs(spark, f"cdc-read-{i}-{tmp_path.name}",
                        lambda: read_snapshot(spark, snap).count())
        read_jobs.append(jobs)
    print(f"update_agg_mv jobs {mv_jobs}, read_snapshot count jobs "
          f"{read_jobs}, files per version {written}")
    assert written == [N_BUCKETS] * len(paths)
    assert max(mv_jobs[1:]) <= MV_JOBS, mv_jobs
    assert max(read_jobs) <= READ_JOBS, read_jobs
    got = set(map(tuple, read_snapshot(spark, snap)
                  .select("k", "grp", "val").collect()))
    assert got == _fold(paths)


def test_cdc_oversized_bucket_splits(spark, tmp_path):
    """A bucket larger than the advisory partition size is written as
    several files (the rebalance splits it rather than funnelling it
    through one task), and the snapshot still equals the fold."""
    from etl_tool_spark.streaming.cdc import (_load_manifest, list_versions,
                                              merge_cdc_batch, read_snapshot)

    paths = _write_batches(tmp_path, n_batches=2)
    snap = str(tmp_path / "snap")
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    before = spark.conf.get(key)
    spark.conf.set(key, "8k")
    try:
        for i, p in enumerate(paths):
            merge_cdc_batch(spark.read.parquet(p), snap, ["k"], batch_id=i)
    finally:
        spark.conf.set(key, before)
    man = _load_manifest(spark, snap, list_versions(spark, snap)[-1])
    files = _bucket_files(snap, man)
    assert max(files.values()) > 1, files
    got = set(map(tuple, read_snapshot(spark, snap)
                  .select("k", "grp", "val").collect()))
    assert got == _fold(paths)


def test_mv_old_side_reads_affected_buckets(spark, tmp_path):
    """A one-key batch: the MV write reads the pre-merge snapshot through
    the key's bucket only, not the whole version."""
    snap, mv = str(tmp_path / "snap"), str(tmp_path / "mv")
    b0 = spark.range(2000).selectExpr("id AS k", "id AS seq", "'U' AS op",
                                      "id % 7 AS grp", "id AS val")
    _update(spark, snap, mv, b0, 0)
    b1 = spark.createDataFrame([(5, 10_000, "U", 3, 1)],
                               "k long, seq long, op string, grp long, "
                               "val long")
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions():
        bus.waitUntilEmpty()
        n = store.executionsCount()
        return store.executionsList(max(0, n - 100), min(n, 100))

    last = executions()
    mark = last.apply(last.size() - 1).executionId()
    _update(spark, snap, mv, b1, 1)
    execs = executions()
    plans = [execs.apply(i).physicalPlanDescription()
             for i in range(execs.size())
             if execs.apply(i).executionId() > mark]
    mv_write = [d for d in plans if f"{mv}/v1" in d and "Insert" in d]
    assert len(mv_write) == 1
    scans = [ln for ln in mv_write[0].splitlines()
             if ln.startswith("Location:") and f"{snap}/" in ln]
    assert scans, mv_write[0]
    for ln in scans:
        assert len(re.findall(r"_bucket=\d+", ln)) == 1, ln
        assert "entries" not in ln, ln


def _edge_batches(spark, case):
    schema = "k long, seq long, op string, grp long, val long"
    rows = [(k, k, "U", k % 3, k) for k in range(64)]
    if case == "empty_first":
        return [spark.createDataFrame([], schema),
                spark.createDataFrame(rows, schema)]
    if case == "all_delete":
        return [spark.createDataFrame(rows, schema),
                spark.createDataFrame([(k, 100 + k, "D", None, None)
                                       for k in range(64)], schema)]
    return [spark.createDataFrame(rows, schema),
            spark.createDataFrame([(1, 100, "U", 9, 7), (2, 101, "D", None,
                                                         None)], schema)]


def _py_fold(batches) -> set[tuple]:
    state = {}
    for b in batches:
        for k, seq, op, grp, val in sorted(
                b.collect(), key=lambda r: (r.seq, r.op != "D")):
            if op == "D":
                state.pop(k, None)
            else:
                state[k] = (k, grp, val)
    return set(state.values())


@pytest.mark.parametrize("entry", ["merge", "mv"])
@pytest.mark.parametrize("case", ["empty_first", "all_delete", "file_uri"])
def test_cdc_edge_cells(spark, tmp_path, entry, case):
    """Edge inputs of both CDC entry points: an empty first batch, a
    batch deleting every key (the manifest keeps no bucket and the
    snapshot reads back as the typed empty frame) and ``file://``
    store paths."""
    from etl_tool_spark.streaming.cdc import (_load_manifest, list_versions,
                                              merge_cdc_batch, read_snapshot)

    root = f"file://{tmp_path}" if case == "file_uri" else str(tmp_path)
    snap, mv = f"{root}/snap", f"{root}/mv"
    batches = _edge_batches(spark, case)
    for i, b in enumerate(batches):
        if entry == "merge":
            merge_cdc_batch(b, snap, ["k"], batch_id=i)
        else:
            got = {tuple(r) for r in _update(spark, snap, mv, b, i).collect()}
            want = {}
            for _, g, v in _py_fold(batches[:i + 1]):
                s, n = want.get(g, (0, 0))
                want[g] = (s + v, n + 1)
            assert got == {(g, s, n) for g, (s, n) in want.items()}, i
        if i == 0 and case == "empty_first":
            assert _load_manifest(spark, snap, 1)["buckets"] == {}
            assert read_snapshot(spark, snap).count() == 0
    assert len(list_versions(spark, snap)) == len(batches)
    out = read_snapshot(spark, snap)
    assert out.columns == ["k", "grp", "val"]
    assert set(map(tuple, out.collect())) == _py_fold(batches)
    if case == "all_delete":
        man = _load_manifest(spark, snap, list_versions(spark, snap)[-1])
        assert man["buckets"] == {}
        assert out.schema == spark.createDataFrame(
            [], "k long, grp long, val long").schema
