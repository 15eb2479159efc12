"""Sharded band-store layout (llm/store.py): partition-pruned probes,
the per-store pinned shard count, refusal of unpinned layouts, and the
shard-locality invariant the hot-bucket guards rely on.

The scale contract under test (round-7 verdict item 3): a micro-batch's
probe of the incremental stores' band tables must read only the shard
directories its own band keys hash into — per-batch cost must not grow
with corpus history just to re-scan band keys the batch cannot match.
"""

import os

import pytest
from pyspark.sql import functions as F

from etl_tool_spark.llm import dedup as D
from etl_tool_spark.llm import store as st


def _mk_store(spark, store, n_docs=24):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, base + f" tail{i}") for i in range(n_docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    D.append_signatures(df, store)
    return df


def test_bands_layout_is_sharded(spark, tmp_path):
    store = str(tmp_path / "s")
    _mk_store(spark, store)
    bands_dir = os.path.join(store, "bands")
    assert st.sharded_files(bands_dir), "no sharded data files written"
    assert not st.flat_files(bands_dir), "flat part files in a new store"
    # shard values round-trip and match the key-derived expression
    back = spark.read.parquet(bands_dir)
    n = st.store_shards(bands_dir)
    bad = back.filter(
        F.col("_shard") != st.shard_col("_band", "_bucket", n=n)).count()
    assert bad == 0, "directory shard != key-derived shard"


def test_probe_prunes_partitions_in_plan(spark, tmp_path):
    """The pruned store read must carry the _shard predicate as a
    PARTITION filter (file-index pruning — non-matching shard dirs are
    never opened), not a post-scan row filter."""
    store = str(tmp_path / "s")
    _mk_store(spark, store)
    bands_dir = os.path.join(store, "bands")
    pinned = st.read_pinned(spark, bands_dir, st.sharded_files(bands_dir))
    some_shard = pinned.select("_shard").first()["_shard"]
    pruned = st.prune_to_shards(pinned, [some_shard])
    plan = spark._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted")
    scan = [blk for blk in plan.split("\n\n")
            if "Scan parquet" in blk and "PartitionFilters" in blk]
    assert scan, f"no scan with PartitionFilters in plan:\n{plan}"
    assert any("_shard" in blk.split("PartitionFilters", 1)[1]
               .split("]", 1)[0] for blk in scan), (
        "probe shard predicate did not reach the partition filters")
    # and the logical schema is restored (no layout column leaks)
    assert "_shard" not in pruned.columns


def test_shard_locality_of_buckets(spark, tmp_path):
    """A (band, bucket) group must live entirely in ONE shard — the
    bucket-population counts of the hot-bucket guards are computed on
    pruned reads and are only exact under this invariant."""
    store = str(tmp_path / "s")
    _mk_store(spark, store)
    multi = (spark.read.parquet(os.path.join(store, "bands"))
             .groupBy("_band", "_bucket")
             .agg(F.countDistinct("_shard").alias("n"))
             .filter(F.col("n") > 1).count())
    assert multi == 0


def test_unpinned_bands_store_rejected(spark, tmp_path):
    """A bands table holding data without a pinned shard count (the
    round-7 flat layout, or sharded files of an unpinned store) must be
    refused with a rebuild hint on every probe and append path — read
    with a guessed count, its keys would be pruned away silently."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, base + f" tail{i % 3}") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    b0 = df.filter(F.col("doc_id") % 2 == 0)
    b1 = df.filter(F.col("doc_id") % 2 == 1)

    flat_store = str(tmp_path / "flat")
    D.incremental_minhash_pairs(b0, flat_store).count()
    bands_dir = os.path.join(flat_store, "bands")
    flat = spark.read.parquet(bands_dir).drop("_shard")
    flat.coalesce(1).write.parquet(bands_dir + "_flat")
    import shutil
    shutil.rmtree(bands_dir)
    os.rename(bands_dir + "_flat", bands_dir)
    assert st.flat_files(bands_dir)

    unpinned_store = str(tmp_path / "unpinned")
    D.incremental_minhash_pairs(b0, unpinned_store).count()
    os.remove(os.path.join(unpinned_store, "bands", st.SHARD_COUNT_FILE))

    for store in (flat_store, unpinned_store):
        with pytest.raises(ValueError, match="pinned shard count.*rebuild"):
            D.incremental_minhash_pairs(b1, store)
        with pytest.raises(ValueError, match="pinned shard count.*rebuild"):
            D.incremental_minhash_pairs(b1, store, update_store=False)
        with pytest.raises(ValueError, match="pinned shard count.*rebuild"):
            D.append_signatures(b1, store)


def test_shard_count_pinned_per_store(spark, tmp_path, monkeypatch):
    """A store keeps the shard count it was created with: a corpus
    written at 32 shards and then probed by single-document batches with
    the knob at 64 must find exactly the pairs (and the near-dup gate
    land exactly the documents) of an all-32 run. An unpinned count
    hashes a probe key to a shard the store wrote under another number;
    with a small batch the pruned read then misses it, and pairs go
    missing without an error. Checked on the update-store path and on
    the near-dup gate."""
    import random

    from etl_tool_spark.streaming.dedup import land_near_batch

    rng = random.Random(7)
    vocab = [f"w{k}" for k in range(2000)]
    rows = []
    for i in range(40):
        doc = [rng.choice(vocab) for _ in range(30)]
        rows.append((i, " ".join(doc)))
        if i % 4 == 0:  # near-dup: the last 5..8 words replaced
            cut = 5 + i % 4
            rows.append((100 + i, " ".join(
                doc[:30 - cut] + [rng.choice(vocab) for _ in range(cut)])))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    batches = [df.filter(F.col("doc_id") < 100)] + [
        df.filter(F.col("doc_id") == 100 + i) for i in range(0, 40, 4)]

    def run(tag, later):
        store = str(tmp_path / f"s-{tag}")
        gate_store = str(tmp_path / f"g-{tag}")
        out = str(tmp_path / f"o-{tag}")
        pairs = set()
        for i, b in enumerate(batches):
            monkeypatch.setenv("SPARK_GRAFT_BAND_SHARDS",
                               "32" if i == 0 else later)
            pairs |= {(r["a"], r["b"]) for r in D.incremental_minhash_pairs(
                b, store, threshold=0.4).collect()}
            land_near_batch(b, i, gate_store, out, threshold=0.4)
        assert st.store_shards(os.path.join(store, "bands")) == 32
        landed = {r["doc_id"] for r in spark.read.parquet(out).collect()}
        return pairs, landed

    want_pairs, want_landed = run("32-32", "32")
    got_pairs, got_landed = run("32-64", "64")
    assert want_pairs and len(want_landed) < len(rows)
    assert got_pairs == want_pairs
    assert got_landed == want_landed


def test_shard_count_env_knob(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_BAND_SHARDS", "128")
    assert st.band_shards() == 128
    monkeypatch.setenv("SPARK_GRAFT_BAND_SHARDS", "not-a-number")
    assert st.band_shards() == 32
    monkeypatch.delenv("SPARK_GRAFT_BAND_SHARDS")
    assert st.band_shards() == 32


def test_append_writes_one_file_per_shard(spark, tmp_path):
    """An append must emit at most one data file per shard, no matter
    how many partitions the input frame arrives in. Without the
    repartition-on-_shard inside the band write, every input partition
    opens a writer per shard value it holds (tasks × shards tiny files
    per batch) and every later pinned probe re-lists and re-opens all
    of them — measured as llm_incremental_dedup going 2.6× slower the
    round the sharded layout landed."""
    store = str(tmp_path / "s")
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, base + f" tail{i}") for i in range(64)]
    # many input partitions on purpose: the pre-fix writer fan-out was
    # (input partitions that hold the shard) × shard
    df = spark.createDataFrame(rows, "doc_id long, text string") \
              .repartition(16)
    D.append_signatures(df, store)
    files = st.sharded_files(os.path.join(store, "bands"))
    assert files, "no sharded files written"
    assert len(files) <= st.band_shards(), (
        f"append fan-out: {len(files)} files for {st.band_shards()} "
        "shards — a writer per (task, shard) instead of per shard")


def _probe_pairs(df):
    return {(r["a"], r["b"], round(r["jaccard"], 9)) for r in df.collect()}


def test_compaction_preserves_results_and_bounds_files(spark, tmp_path):
    """compact_store must leave probe results byte-identical while
    collapsing the store to ≤ one file per shard (bands) / target_files
    (sig): the maintenance op that bounds file-index listing cost for a
    store ingesting for months."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, base + f" tail{i % 4}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    batches = [df.filter(F.col("doc_id") % 3 == k) for k in range(3)]

    plain_store = str(tmp_path / "plain")
    compacted_store = str(tmp_path / "compacted")
    plain, compacted = set(), set()
    for k, b in enumerate(batches):
        plain |= _probe_pairs(D.incremental_minhash_pairs(b, plain_store))
        if k == 2:  # compact between batch 2 and the last probe
            stats = st.compact_store(spark, compacted_store)
            assert stats["bands"]["after"] <= st.band_shards()
            assert stats["bands"]["after"] < stats["bands"]["before"]
            assert stats["sig"]["after"] <= 4
        compacted |= _probe_pairs(
            D.incremental_minhash_pairs(b, compacted_store))
    assert compacted == plain and plain
    files = st.sharded_files(os.path.join(compacted_store, "bands"))
    # post-compaction appends resume on top of the compacted layout
    assert files and len(files) <= 2 * st.band_shards()


def test_compaction_crash_recovery(spark, tmp_path, monkeypatch):
    """A compaction that crashes at a write boundary must leave every
    store table exactly as before — no row lost or duplicated — once
    the store is next opened. Mid-promote (manifest published, replaced
    files deleted, one staged file moved) the open finishes the
    promote; before the manifest the stage stays invisible to readers
    and the next compaction discards it."""
    from etl_tool_spark import commit as C

    class Crash(Exception):
        pass

    def tables(store):
        return {t: sorted(map(str, spark.read.parquet(
                    os.path.join(store, t)).collect()))
                for t in ("sig", "bands")}

    for point in ("manifest", "promote"):
        store = str(tmp_path / point)
        _mk_store(spark, store)
        _mk_store(spark, store)  # two appends → multiple files
        before = tables(store)
        with monkeypatch.context() as m:
            if point == "manifest":
                publish = C.publish

                def publish_(path, text):
                    if "/_applied/compact-" in path:
                        raise Crash(point)
                    return publish(path, text)
                m.setattr(C, "publish", publish_)
            else:
                move = C._move

                def move_once(*a):
                    move(*a)
                    raise Crash(point)
                m.setattr(C, "_move", move_once)
            with pytest.raises(Crash):
                st.compact_store(spark, store)
        st.open_store(store)
        assert tables(store) == before, point   # no row lost or doubled
        st.compact_store(spark, store)
        assert tables(store) == before, point
        assert not C.ls(os.path.join(store, "_stage", "*")), point


def test_compact_bare_flat_store(spark, tmp_path):
    """An exact-dedup fingerprint store (flat parquet in the store root)
    compacts through compact_store's bare-directory path and keeps
    rejecting previously seen fingerprints afterwards."""
    store = str(tmp_path / "fp")
    d1 = spark.createDataFrame([(1, "aaa"), (2, "bbb")],
                               "doc_id long, text string")
    d2 = spark.createDataFrame([(3, "ccc"), (4, "aaa")],
                               "doc_id long, text string")
    assert D.incremental_exact_dedup(d1, store).count() == 2
    assert {r["doc_id"] for r in
            D.incremental_exact_dedup(d2, store).collect()} == {3}
    stats = st.compact_store(spark, store, target_files=1)
    assert stats["."]["after"] == 1
    d3 = spark.createDataFrame([(5, "ccc"), (6, "ddd")],
                               "doc_id long, text string")
    assert {r["doc_id"] for r in
            D.incremental_exact_dedup(d3, store).collect()} == {6}


def test_compact_ivf_index_vectors(spark, tmp_path):
    """A persisted IVF index's cell-partitioned vectors/ table grows one
    file per touched cell per append; compact_store must collapse it to
    one file per cell under the same manifest-promoted protocol, with
    ivf_search results identical before and after."""
    import glob

    from etl_tool_spark.llm import similarity as S

    rng_rows = [(i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(8)])
                for i in range(40)]
    corpus = spark.createDataFrame(rng_rows,
                                   "vec_id long, embedding array<double>")
    idx = str(tmp_path / "ivf")
    S.ivf_build_index(corpus.filter(F.col("vec_id") < 20), idx, nlist=4)
    more = corpus.filter(F.col("vec_id") >= 20)
    S.ivf_append_index(more.filter(F.col("vec_id") < 30), idx)
    S.ivf_append_index(more.filter(F.col("vec_id") >= 30), idx)

    vec_dir = os.path.join(idx, "vectors")
    cells = {os.path.basename(p)
             for p in glob.glob(os.path.join(vec_dir, "cell=*"))}
    files_before = glob.glob(os.path.join(vec_dir, "cell=*", "*.parquet"))
    assert len(files_before) > len(cells), "appends did not add files"

    queries = corpus.filter(F.col("vec_id") % 13 == 0) \
                    .withColumnRenamed("vec_id", "query_id")
    def topk_set(df):
        return {(r["query_id"], r["vec_id"], r["rank"])
                for r in df.collect()}
    before = topk_set(S.ivf_search(spark, idx, queries, k=3, nprobe=2))

    stats = st.compact_store(spark, idx)
    assert "vectors" in stats
    files_after = glob.glob(os.path.join(vec_dir, "cell=*", "*.parquet"))
    assert len(files_after) == len(cells), (
        f"{len(files_after)} files for {len(cells)} cells after compaction")
    assert topk_set(S.ivf_search(spark, idx, queries, k=3, nprobe=2)) == before

    # a further append lands on the compacted layout and is searchable
    S.ivf_append_index(
        corpus.filter(F.col("vec_id") == 39)
              .withColumn("vec_id", F.lit(99).cast("long")), idx)
    seen = {r["vec_id"]
            for r in S.ivf_search(spark, idx, queries, k=40,
                                  nprobe=4).collect()}
    assert 99 in seen


def test_compact_pq_index_codes(spark, tmp_path):
    """A persisted PQ index's flat codes/ table accumulates one file
    set per append; compact_store must coalesce it (target_files) with
    pq_search results identical before and after, and appends resume
    on the compacted layout."""
    from etl_tool_spark.llm import similarity as S

    rows = [(i, [float((i * 5 + d) % 9) - 4.0 for d in range(8)])
            for i in range(48)]
    corpus = spark.createDataFrame(rows,
                                   "vec_id long, embedding array<double>")
    idx = str(tmp_path / "pq")
    S.pq_build_index(corpus.filter(F.col("vec_id") < 24), idx, m=4, ksub=8)
    S.pq_append_index(corpus.filter((F.col("vec_id") >= 24)
                                    & (F.col("vec_id") < 36)), idx)
    S.pq_append_index(corpus.filter(F.col("vec_id") >= 36), idx)

    codes_dir = os.path.join(idx, "codes")
    assert len(st.flat_files(codes_dir)) > 4

    queries = corpus.filter(F.col("vec_id") % 11 == 0) \
                    .withColumnRenamed("vec_id", "query_id")

    def topk_set(df):
        return {(r["query_id"], r["vec_id"], r["rank"])
                for r in df.collect()}

    before = topk_set(S.pq_search(spark, idx, corpus, queries,
                                  k=3, shortlist=16))
    stats = st.compact_store(spark, idx)
    assert stats["codes"]["after"] <= 4
    assert topk_set(S.pq_search(spark, idx, corpus, queries,
                                k=3, shortlist=16)) == before


def test_observed_probe_matches_separate_probe(spark, tmp_path):
    """The probe that rides a band append (append_and_pin: the
    one-element-array case of fused_probe_observation) must report
    exactly the (shard set, row count) the standalone probe job computes
    over the written rows, and the shard directories written."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, base + f" tail{i}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    hs = df.select("doc_id", D.shingle_hashes(F.col("text"), 3).alias("_hs"))

    store = str(tmp_path / "s")
    bands_dir = os.path.join(store, "bands")
    _, _, (ap_shards, ap_n) = st.append_and_pin(
        hs, store, "sig", lambda t: D._band_frame(t, "doc_id", 16, 8),
        ["_band", "_bucket"])
    back = spark.read.parquet(bands_dir).drop("_shard")
    want_shards, want_n = st.probe_shards_and_count(
        back, ["_band", "_bucket"], st.store_shards(bands_dir))
    assert ap_n == want_n == back.count()
    assert sorted(ap_shards) == sorted(want_shards)
    # directory layout agrees with the observed shard set
    on_disk = {int(os.path.basename(d).split("=")[1])
               for d in __import__("glob").glob(
                   os.path.join(bands_dir, "_shard=*"))}
    assert on_disk == set(ap_shards)


def test_observed_probe_empty_batch(spark, tmp_path):
    """Empty batches must observe an empty shard set and zero count
    (bit_or and sum yield null on no rows) without erroring — the
    one-element-array form of the probe on a plain staging write."""
    empty = spark.createDataFrame(
        [], "doc_id long, _band int, _bucket string")
    observed, resolve = st.fused_probe_observation(
        empty, F.array(st.shard_col("_band", "_bucket", n=32)), 32)
    observed.write.mode("overwrite").parquet(str(tmp_path / "staged-empty"))
    assert resolve() == ([], 0)


def test_fused_probe_matches_exploded_probe(spark, tmp_path):
    """The probe that rides the gates' FUSED staging write (round 9:
    band keys stored per-doc as an array column, shard set observed as
    bit_or bitmasks) must report exactly the (shard set, row count) the
    exploded-frame probe computes — same xxhash64 inputs (the HOF index
    variable must hash like posexplode's pos), same counts, bit 63 and
    multi-mask shard ids included."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, base + f" tail{i}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    hs = df.select("doc_id", D.shingle_hashes(F.col("text"), 3).alias("_hs"))

    # minhash shape: two-column shard key (_band index, _bucket string)
    fused = (hs.withColumn("_sig", D.minhash_from_hashes_vec(F.col("_hs"), 16))
               .withColumn("_bands", D._band_bucket_array(F.col("_sig"), 16, 8))
               .drop("_sig"))
    observed, resolve = st.fused_probe_observation(
        fused, st.shard_array(F.col("_bands"), 32, with_index=True), 32)
    staged = str(tmp_path / "fused")
    observed.write.mode("overwrite").parquet(staged)
    shards, n = resolve()
    back = spark.read.parquet(staged)
    exploded = back.select(
        "doc_id", F.posexplode("_bands").alias("_band", "_bucket"))
    want_shards, want_n = st.probe_shards_and_count(
        exploded, ["_band", "_bucket"], 32)
    assert n == want_n == exploded.count()
    assert sorted(shards) == sorted(want_shards)

    # embedding shape: single string key; >64 shards so the observation
    # needs several mask longs (bit-63 boundary crossed)
    keys = fused.select("doc_id",
                        F.col("_bands").alias("_bkts"))
    observed2, resolve2 = st.fused_probe_observation(
        keys, st.shard_array(F.col("_bkts"), 130), 130)
    observed2.write.mode("overwrite").parquet(str(tmp_path / "fused2"))
    shards2, n2 = resolve2()
    expl2 = keys.select("doc_id", F.explode("_bkts").alias("_bkt"))
    want2, want_n2 = st.probe_shards_and_count(expl2, ["_bkt"], 130)
    assert n2 == want_n2
    assert sorted(shards2) == sorted(want2)
    assert max(shards2) > 63  # the multi-mask path actually exercised

    # empty-batch edge: no rows → no shards, zero count, no error
    observed3, resolve3 = st.fused_probe_observation(
        fused.limit(0), st.shard_array(F.col("_bands"), 32, with_index=True),
        32)
    observed3.write.mode("overwrite").parquet(str(tmp_path / "fused3"))
    assert resolve3() == ([], 0)


class _Crash(Exception):
    """A crash injected at one write boundary of a store append."""


def _crash_append_at(monkeypatch, point):
    """Make the next store append crash at ``point`` by patching the
    parquet writer or the commit module: ``stage`` right after the
    stage write, ``publish`` after the manifest's publish and before
    the promote, ``promote`` after the promote's first file move."""
    from pyspark.sql import DataFrameWriter

    from etl_tool_spark import commit as C

    if point == "stage":
        write = DataFrameWriter.parquet

        def parquet(self, path, *a, **k):
            write(self, path, *a, **k)
            if "/_stage/" in path:
                raise _Crash(point)
        monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    elif point == "publish":
        def promote(manifest):
            raise _Crash(point)
        monkeypatch.setattr(C, "promote", promote)
    else:
        move = C._move

        def move_once(*a):
            move(*a)
            raise _Crash(point)
        monkeypatch.setattr(C, "_move", move_once)


def _store_append(spark, kind):
    """(setup, append, table) of one store append that commits through
    etl_tool_spark.commit: ``setup(root)`` writes the store's first
    batch, ``append(root)`` its second, and the batch lands in the
    ``table`` directory under ``root``."""
    from etl_tool_spark.llm import similarity as S

    if kind in ("exact", "paragraph"):
        fn = (D.incremental_exact_dedup if kind == "exact"
              else D.incremental_paragraph_dedup)
        b1 = spark.createDataFrame([(1, "aaa\nbbb"), (2, "bbb")],
                                   "doc_id long, text string")
        b2 = spark.createDataFrame(
            [(3, "ccc\naaa"), (4, "bbb"), (5, "ddd\neee")],
            "doc_id long, text string")
        return lambda r: fn(b1, r), lambda r: fn(b2, r), ""
    vecs = spark.createDataFrame(
        [(i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(8)])
         for i in range(40)], "vec_id long, embedding array<double>")
    old, new = vecs.filter(F.col("vec_id") < 24), vecs.filter(
        F.col("vec_id") >= 24)
    if kind == "ivf":
        return (lambda r: S.ivf_build_index(old, r, nlist=4),
                lambda r: S.ivf_append_index(new, r), "vectors")
    return (lambda r: S.pq_build_index(old, r, m=4, ksub=8),
            lambda r: S.pq_append_index(new, r), "codes")


@pytest.mark.parametrize("point", ["stage", "publish", "promote"])
@pytest.mark.parametrize("kind", ["exact", "paragraph", "ivf", "pq"])
def test_store_append_crash_is_all_or_nothing(spark, tmp_path, monkeypatch,
                                              kind, point):
    """An update-store or index append that crashes at a write boundary
    shows, at the next open, none of its batch (before the publish) or
    all of it exactly once (after the publish, mid-promote included) —
    never part of it. A replay of a fingerprint-store append after any
    crash, and of any append crashed before the publish, leaves the
    store equal to a clean run."""
    from etl_tool_spark import commit as C

    setup, append, table = _store_append(spark, kind)

    def rows(root):
        C.recover(root)  # what the next open of the store does
        return sorted(map(str, spark.read.parquet(
            os.path.join(root, table)).collect()))

    clean = str(tmp_path / "clean")
    setup(clean)
    before = rows(clean)
    append(clean)
    after = rows(clean)
    assert len(after) > len(before) and len(set(after)) == len(after)

    root = str(tmp_path / "store")
    setup(root)
    with monkeypatch.context() as m:
        _crash_append_at(m, point)
        with pytest.raises(_Crash):
            append(root)
    assert rows(root) == (before if point == "stage" else after)
    if kind in ("exact", "paragraph") or point == "stage":
        append(root)                            # the replay
        assert rows(root) == after
    assert not C.ls(os.path.join(root, "_stage", "*"))
