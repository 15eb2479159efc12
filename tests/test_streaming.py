"""Structured Streaming tests: stream the events parquet with the
availableNow trigger into memory sinks and cross-check against the batch
formulations."""

import pytest
from pyspark.sql import functions as F

from etl_tool_spark.streaming import (  # noqa: F401
    read_events_stream,
    sessionize_stream,
    stream_to_memory,
    streaming_dedup,
    windowed_counts,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_stream(spark):
    return read_events_stream(spark, f"{SF_DIR}/events.parquet")


def test_windowed_counts_match_batch(spark, events_stream):
    stream_to_memory(windowed_counts(events_stream), "wc", output_mode="complete")
    streamed = spark.sql("SELECT window_start, event_type, n FROM wc").collect()

    from etl_tool_spark.catalog import _events

    batch = (_events(spark, SF_DIR)
             .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
             .agg(F.count(F.lit(1)).alias("n"))
             .select(F.col("w.start").alias("window_start"), "event_type", "n")
             .collect())
    assert sorted(map(tuple, streamed)) == sorted(map(tuple, batch))


def test_sessionize_stream_runs(spark, events_stream):
    stream_to_memory(sessionize_stream(events_stream), "sess", output_mode="complete")
    rows = spark.sql("SELECT * FROM sess").collect()
    assert len(rows) > 0
    # session windows are per-user and non-overlapping
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append((r["session_start"], r["session_end"]))
    for spans in by_user.values():
        spans.sort()
        for (s1, e1), (s2, _) in zip(spans, spans[1:]):
            assert e1 <= s2


def test_streaming_dedup(spark, events_stream):
    stream_to_memory(streaming_dedup(events_stream, keys=["user_id"]), "dd")
    n_users = spark.sql("SELECT count(*) AS n FROM dd").collect()[0]["n"]
    from etl_tool_spark.catalog import _events

    n_distinct = _events(spark, SF_DIR).select("user_id").distinct().count()
    assert n_users == n_distinct


def test_foreach_batch_sink(spark, events_stream, tmp_path):
    """foreachBatch drives a batch sink (parquet here; JDBC in prod) with
    checkpointed progress."""
    out = str(tmp_path / "fb_out")
    from etl_tool_spark.streaming.events import stream_foreach_batch
    from etl_tool_spark.streaming import windowed_counts

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out)

    stream_foreach_batch(windowed_counts(events_stream), sink,
                         checkpoint=str(tmp_path / "ckpt"))
    written = spark.read.parquet(out)
    assert written.count() > 0
    assert set(written.columns) == {"window_start", "window_end", "event_type",
                                    "n", "total_value"}


def test_stateful_anomaly_tracker(spark, events_stream, tmp_path):
    """applyInPandasWithState custom stateful operator: cumulative per-user
    stats match the batch equivalent."""
    from etl_tool_spark.streaming.stateful import running_anomaly_tracker

    out = running_anomaly_tracker(events_stream.select("user_id", "ts", "value"))
    q = (out.writeStream.format("memory").queryName("anom")
         .outputMode("update").trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    q.awaitTermination()
    got = {r["user_id"]: (r["n_events"], round(r["mean_value"], 6))
           for r in spark.sql("SELECT * FROM anom").collect()}

    from etl_tool_spark.catalog import _events

    batch = {r["user_id"]: (r["n"], round(r["m"], 6)) for r in
             _events(spark, SF_DIR).groupBy("user_id")
             .agg(F.count(F.lit(1)).alias("n"), F.avg("value").alias("m"))
             .collect()}
    assert got == batch


def test_tws_running_counts(spark, events_stream, tmp_path):
    """running_counts_tws matches the batch stats. On a protobuf-equipped
    runtime this exercises transformWithStateInPandas (Spark 4 API, with
    the RocksDB provider); where protobuf is absent the operator degrades
    to its applyInPandasWithState fallback with the identical contract —
    either way this is a REAL assertion, never a skip."""
    from etl_tool_spark.streaming.stateful import (has_tws_runtime,
                                                   running_counts_tws)

    if has_tws_runtime():
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    out = running_counts_tws(events_stream.select("user_id", "ts", "value"))
    q = (out.writeStream.format("memory").queryName("tws")
         .outputMode("update").trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    q.awaitTermination()
    got = {r["user_id"]: (r["n_events"], round(r["mean_value"], 6))
           for r in spark.sql("SELECT * FROM tws").collect()}

    from etl_tool_spark.catalog import _events

    batch = {r["user_id"]: (r["n"], round(r["m"], 6)) for r in
             _events(spark, SF_DIR).groupBy("user_id")
             .agg(F.count(F.lit(1)).alias("n"), F.avg("value").alias("m"))
             .collect()}
    assert got == batch


def test_cdc_merge_batch_semantics(spark, tmp_path):
    """Upsert/delete folding + within-batch latest-seq-wins + the
    delete-loses-seq-tie rule, driven through merge_cdc_batch directly."""
    from etl_tool_spark.streaming.cdc import merge_cdc_batch, read_snapshot

    snap = str(tmp_path / "snap")
    b1 = spark.createDataFrame(
        [(1, 10, "I", "a0"), (1, 11, "U", "a1"), (2, 10, "I", "b0"),
         (3, 10, "I", "c0"), (3, 11, "D", None), (3, 11, "U", "c1")],
        "id long, seq long, op string, payload string")
    merge_cdc_batch(b1, snap, keys=["id"], seq_col="seq", op_col="op")
    got = {r["id"]: r["payload"] for r in read_snapshot(spark, snap).collect()}
    # key 1: latest seq wins; key 3: tie at seq 11 → upsert beats delete
    assert got == {1: "a1", 2: "b0", 3: "c1"}

    b2 = spark.createDataFrame(
        [(2, 20, "D", None), (4, 20, "I", "d0")],
        "id long, seq long, op string, payload string")
    merge_cdc_batch(b2, snap, keys=["id"], seq_col="seq", op_col="op")
    got = {r["id"]: r["payload"] for r in read_snapshot(spark, snap).collect()}
    assert got == {1: "a1", 3: "c1", 4: "d0"}

    # replaying the same batch is idempotent (foreachBatch retry contract)
    merge_cdc_batch(b2, snap, keys=["id"], seq_col="seq", op_col="op")
    got2 = {r["id"]: r["payload"] for r in read_snapshot(spark, snap).collect()}
    assert got2 == got


def test_cdc_merge_stream_matches_batch_fold(spark, tmp_path):
    """End-to-end: multi-batch stream (one file per trigger) lands the
    same snapshot a single batch fold would."""
    import time

    from etl_tool_spark.streaming.cdc import cdc_merge_stream, read_snapshot

    src = tmp_path / "changes"
    src.mkdir()
    rows1 = [(i, 1, "I", f"v{i}.1") for i in range(8)]
    rows2 = [(i, 2, "U", f"v{i}.2") for i in range(0, 8, 2)] + [(0, 3, "D", None)]
    spark.createDataFrame(rows1, "id long, seq long, op string, payload string") \
         .coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(rows2, "id long, seq long, op string, payload string") \
         .coalesce(1).write.parquet(str(src / "f2"))

    changes = (spark.readStream.schema("id long, seq long, op string, payload string")
                    .option("maxFilesPerTrigger", 1)
                    .parquet(str(src / "*")))
    q = cdc_merge_stream(changes, str(tmp_path / "snap2"),
                         str(tmp_path / "ckpt"), keys=["id"])
    q.awaitTermination(120)

    got = {r["id"]: r["payload"]
           for r in read_snapshot(spark, str(tmp_path / "snap2")).collect()}
    expect = {i: f"v{i}.1" for i in range(8)}
    expect.update({i: f"v{i}.2" for i in range(0, 8, 2)})
    del expect[0]  # deleted at seq 3
    assert got == expect


def test_streaming_near_dedup_matches_batch(spark, tmp_path):
    """Streaming micro-batches through the incremental signature store
    must surface exactly the one-shot batch pipeline's pair set over
    everything ingested."""
    from etl_tool_spark.llm.dedup import minhash_dedup_pairs
    from etl_tool_spark.streaming.dedup import near_dedup_stream

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
                 .limit(200).cache())
    src = tmp_path / "docs_stream"
    src.mkdir()
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1) \
        .write.parquet(str(src / "f1"))
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1) \
        .write.parquet(str(src / "f2"))

    stream = (spark.readStream.schema(docs.schema)
                   .option("maxFilesPerTrigger", 1)
                   .parquet(str(src / "*")))
    near_dedup_stream(stream, str(tmp_path / "sig_store"),
                      str(tmp_path / "pairs"), str(tmp_path / "ckpt"))

    got = {(r["a"], r["b"]): r["jaccard"]
           for r in spark.read.parquet(str(tmp_path / "pairs")).collect()}
    want = {(r["a"], r["b"]): r["jaccard"]
            for r in minhash_dedup_pairs(docs).collect()}
    assert got == want
    docs.unpersist()


def test_interval_join_matches_batch(spark):
    """Stream-stream interval join ≡ the equivalent batch range join:
    purchases paired with same-user clicks in the trailing 1 hour."""
    from etl_tool_spark.catalog import _events
    from etl_tool_spark.streaming import interval_join_streams

    purchases = read_events_stream(spark, f"{SF_DIR}/events.parquet") \
        .filter(F.col("event_type") == "purchase")
    clicks = read_events_stream(spark, f"{SF_DIR}/events.parquet") \
        .filter(F.col("event_type") == "click")
    stream_to_memory(interval_join_streams(purchases, clicks), "ssj")
    streamed = spark.sql("SELECT l_id, r_id FROM ssj").collect()

    e = _events(spark, SF_DIR)
    p = (e.filter(F.col("event_type") == "purchase")
          .select("user_id", F.col("event_id").alias("l_id"),
                  F.col("ts").alias("l_ts")))
    c = (e.filter(F.col("event_type") == "click")
          .select(F.col("user_id").alias("_u"),
                  F.col("event_id").alias("r_id"), F.col("ts").alias("r_ts")))
    batch = (p.join(c, (F.col("user_id") == F.col("_u"))
                    & (F.col("r_ts") >= F.col("l_ts") - F.expr("INTERVAL 1 hour"))
                    & (F.col("r_ts") <= F.col("l_ts")))
              .select("l_id", "r_id").collect())
    assert len(streamed) > 0
    assert sorted(map(tuple, streamed)) == sorted(map(tuple, batch))


def test_sliding_window_counts_match_batch(spark, events_stream):
    """Sliding (hopping) windowed_counts ≡ the batch hopping-window
    catalog query at the same window/slide grid."""
    stream_to_memory(windowed_counts(events_stream, "1 hour", "15 minutes"),
                     "wc_slide", output_mode="complete")
    streamed = spark.sql(
        "SELECT window_start, event_type, n FROM wc_slide").collect()
    from etl_tool_spark.catalog import SPARK as CATALOG

    batch = (CATALOG["events_hopping_window"](spark, SF_DIR)
             .select("window_start", "event_type", "n").collect())
    assert sorted(map(tuple, streamed)) == sorted(map(tuple, batch))


def test_streaming_exact_dedup_matches_batch(spark, tmp_path):
    """Streaming micro-batches through the fingerprint store keep
    exactly the one-shot exact-dedup representatives."""
    from etl_tool_spark.llm.dedup import exact_dedup
    from etl_tool_spark.streaming.dedup import exact_dedup_stream

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
                 .select("doc_id", "text").limit(200).cache())
    src = tmp_path / "docs_stream"
    src.mkdir()
    # id-ordered micro-batches (file order = lexicographic)
    docs.filter(F.col("doc_id") < 100).coalesce(1) \
        .write.parquet(str(src / "f1"))
    docs.filter(F.col("doc_id") >= 100).coalesce(1) \
        .write.parquet(str(src / "f2"))

    stream = (spark.readStream.schema(docs.schema)
                   .option("maxFilesPerTrigger", 1)
                   .parquet(str(src / "*")))
    exact_dedup_stream(stream, str(tmp_path / "fp_store"),
                       str(tmp_path / "landed"), str(tmp_path / "ckpt"))

    landed = spark.read.parquet(str(tmp_path / "landed"))
    got = sorted(r["doc_id"] for r in landed.collect())
    want = sorted(r["doc_id"] for r in exact_dedup(docs).collect())
    assert got == want
    assert "batch_id" in landed.columns
    docs.unpersist()


def test_exact_dedup_stream_checkpoint_resume_idempotent(spark, tmp_path):
    """Re-running an availableNow stream against the same checkpoint must
    process nothing new — landed output identical after the second run
    (the restart/replay safety the checkpoint exists for)."""
    from etl_tool_spark.streaming.dedup import exact_dedup_stream

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
                 .select("doc_id", "text").limit(80))
    src = tmp_path / "in"
    src.mkdir()
    docs.coalesce(1).write.parquet(str(src / "f1"))
    stream_args = (str(tmp_path / "store"), str(tmp_path / "landed"),
                   str(tmp_path / "ckpt"))

    def run():
        s = (spark.readStream.schema(docs.schema).parquet(str(src / "*")))
        exact_dedup_stream(s, *stream_args)
        return sorted(r["doc_id"] for r in
                      spark.read.parquet(str(tmp_path / "landed")).collect())

    first = run()
    assert len(first) > 0
    again = run()   # same checkpoint: the committed file is not reprocessed
    assert again == first


def test_clean_ingest_stream_matches_batch_filters_plus_dedup(spark, tmp_path):
    """The streaming ingest gate (quality filter → langid filter →
    exact dedup-on-ingest) lands exactly the batch pipeline's
    filter+exact-dedup survivor set, independent of the batch split."""
    from etl_tool_spark.llm.text import (fingerprint, language_id,
                                         quality_features, tokens)
    from etl_tool_spark.streaming.dedup import clean_ingest_stream

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
                 .limit(300).cache())
    src = tmp_path / "in"
    src.mkdir()
    docs.filter(F.col("doc_id") % 3 == 0).coalesce(1) \
        .write.parquet(str(src / "f1"))
    docs.filter(F.col("doc_id") % 3 != 0).coalesce(1) \
        .write.parquet(str(src / "f2"))
    stream = (spark.readStream.schema(docs.schema)
                   .option("maxFilesPerTrigger", 1)
                   .parquet(str(src / "*")))
    clean_ingest_stream(stream, str(tmp_path / "fp_store"),
                        str(tmp_path / "landed"), str(tmp_path / "ckpt"))
    got = {r["doc_id"] for r in
           spark.read.parquet(str(tmp_path / "landed")).collect()}

    base = docs.select("*", tokens(F.col("text")).alias("_toks"))
    feats = quality_features(F.col("text"), toks=F.col("_toks"))
    kept = (base.select("*", feats["quality_score"].alias("_q"),
                        language_id(F.col("text"),
                                    toks=F.col("_toks")).alias("_lang"))
                .filter((F.col("_q") >= 0.5) & (F.col("_lang") != "und")))
    reps = (kept.select("doc_id", fingerprint(F.col("text")).alias("_fp"))
                .groupBy("_fp").agg(F.min("doc_id").alias("doc_id")))
    # batch keeps the global min id per fingerprint; the stream keeps the
    # min id of the EARLIEST batch containing it — with %3 batches these
    # coincide only per fingerprint-first-batch, so compare fingerprint
    # SETS of the landed docs instead of ids
    got_fps = {r["_fp"] for r in
               docs.filter(F.col("doc_id").isin(got))
                   .select(fingerprint(F.col("text")).alias("_fp")).collect()}
    want_fps = {r["_fp"] for r in reps.collect()}
    assert got_fps == want_fps
    # and landing is idempotent in count: one doc per surviving fingerprint
    assert len(got) == len(want_fps)
    docs.unpersist()


def test_land_batch_crash_window_replays_without_loss(spark, tmp_path):
    """The only intermediate state the land-then-store order can leave
    (survivors landed, fingerprints not yet stored) must re-land on
    replay — duplicates, never loss. The reverse order would leave
    remembered-but-not-landed and silently drop the batch."""
    from etl_tool_spark.llm.dedup import incremental_exact_dedup
    from etl_tool_spark.streaming.dedup import land_batch

    out_dir, store_dir = str(tmp_path / "out"), str(tmp_path / "store")
    batch = spark.createDataFrame(
        [(1, "alpha doc"), (2, "beta doc")], "doc_id long, text string")

    # simulate the crash: survivors landed, store write never happened
    fresh = incremental_exact_dedup(batch, store_dir, update_store=False)
    fresh.withColumn("batch_id", F.lit(0)).write.mode("append").parquet(out_dir)

    # replay of the same batch through the real landing path
    land_batch(batch, 0, store_dir, out_dir)
    landed = spark.read.parquet(out_dir)
    # both docs present (possibly duplicated) — nothing lost
    assert {r["doc_id"] for r in landed.collect()} == {1, 2}
    assert landed.count() == 4   # at-least-once: the replay re-landed

    # a LATER batch still dedups against the now-consistent store
    batch2 = spark.createDataFrame(
        [(3, "alpha doc"), (4, "gamma doc")], "doc_id long, text string")
    land_batch(batch2, 1, store_dir, out_dir)
    new = spark.read.parquet(out_dir).filter(F.col("batch_id") == 1)
    assert {r["doc_id"] for r in new.collect()} == {4}


def test_cdc_versioned_commit_time_travel_and_vacuum(spark, tmp_path):
    """The version-pointer commit protocol: every merge publishes an
    immutable version; old versions stay readable (time travel) until
    vacuumed; a crashed attempt (data written, manifest never renamed
    in) is invisible to readers and collected by vacuum."""
    from etl_tool_spark.streaming.cdc import (
        list_versions, merge_cdc_batch, read_snapshot, vacuum)

    snap = str(tmp_path / "snap")
    b1 = spark.createDataFrame(
        [(1, 10, "I", "a0"), (2, 10, "I", "b0")],
        "id long, seq long, op string, payload string")
    merge_cdc_batch(b1, snap, keys=["id"], batch_id=0)
    b2 = spark.createDataFrame(
        [(1, 20, "U", "a1"), (3, 20, "I", "c0")],
        "id long, seq long, op string, payload string")
    merge_cdc_batch(b2, snap, keys=["id"], batch_id=1)

    assert list_versions(spark, snap) == [1, 2]
    v1 = {r["id"]: r["payload"]
          for r in read_snapshot(spark, snap, version=1).collect()}
    v2 = {r["id"]: r["payload"] for r in read_snapshot(spark, snap).collect()}
    assert v1 == {1: "a0", 2: "b0"}
    assert v2 == {1: "a1", 2: "b0", 3: "c0"}

    # simulate a crashed attempt: orphan data dir, no manifest commit
    orphan = tmp_path / "snap" / "data" / "bZZZ-deadbeef"
    orphan.mkdir(parents=True)
    (orphan / "junk.parquet").write_bytes(b"not really parquet")
    assert {r["id"] for r in read_snapshot(spark, snap).collect()} == {1, 2, 3}

    removed = vacuum(spark, snap, keep_last=1, min_age_s=0)
    assert removed >= 1                      # the orphan at minimum
    assert list_versions(spark, snap) == [2]
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, snap, version=1)
    # current version fully intact after vacuum
    assert {r["id"]: r["payload"]
            for r in read_snapshot(spark, snap).collect()} == v2


def test_cdc_replay_after_commit_detects_own_batch(spark, tmp_path,
                                                  monkeypatch):
    """foreachBatch retry that crashed AFTER the commit: the replay
    loses the manifest rename race to its own earlier attempt and must
    treat the commit as done (same batch_id), not raise. A crash before
    the commit replays to the same snapshot."""
    from etl_tool_spark.streaming.cdc import merge_cdc_batch, read_snapshot

    snap = str(tmp_path / "snap")
    b1 = spark.createDataFrame(
        [(1, 10, "I", "a0")], "id long, seq long, op string, payload string")
    merge_cdc_batch(b1, snap, keys=["id"], batch_id=0)
    b2 = spark.createDataFrame(
        [(2, 20, "I", "b0")], "id long, seq long, op string, payload string")
    merge_cdc_batch(b2, snap, keys=["id"], batch_id=1)

    # replay of batch 1 against the post-commit state: next version (3)
    # is free, so this commits a content-identical version — fine; and
    # a FORGED conflicting commit at the next number with a DIFFERENT
    # batch_id must raise
    merge_cdc_batch(b2, snap, keys=["id"], batch_id=1)
    got = {r["id"]: r["payload"] for r in read_snapshot(spark, snap).collect()}
    assert got == {1: "a0", 2: "b0"}

    # a merge that crashes after its data write (before the manifest
    # publish) or right after the publish: its replay leaves the
    # snapshot the clean run left
    from etl_tool_spark import commit as C

    want = sorted(map(str, read_snapshot(spark, snap).collect()))
    publish = C.publish
    for after in (False, True):
        crashed = str(tmp_path / f"crashed-{after}")
        merge_cdc_batch(b1, crashed, keys=["id"], batch_id=0)

        def crashing(path, text, after=after):
            if "/_versions/" not in path:
                return publish(path, text)
            if after:
                publish(path, text)
            raise _Crash(path)
        with monkeypatch.context() as m:
            m.setattr(C, "publish", crashing)
            with pytest.raises(_Crash):
                merge_cdc_batch(b2, crashed, keys=["id"], batch_id=1)
        merge_cdc_batch(b2, crashed, keys=["id"], batch_id=1)
        assert sorted(map(str, read_snapshot(spark, crashed).collect())) \
            == want, after


def test_cdc_conflicting_writer_raises(spark, tmp_path):
    """A lost rename race resolves by batch_id: same id = our own
    crashed-after-commit attempt (accept); different id = a second
    writer (raise)."""
    from etl_tool_spark.streaming import cdc

    snap = str(tmp_path / "snap")
    b1 = spark.createDataFrame(
        [(1, 10, "I", "a0")], "id long, seq long, op string, payload string")
    cdc.merge_cdc_batch(b1, snap, keys=["id"], batch_id=7)
    cdc._require_same_batch(spark, snap, 1, batch_id=7)   # own attempt: ok
    with pytest.raises(RuntimeError, match="concurrent commit"):
        cdc._require_same_batch(spark, snap, 1, batch_id=8)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        cdc._require_same_batch(spark, snap, 1, batch_id=None)


def test_cdc_vacuum_spares_recent_inflight_dirs(spark, tmp_path):
    """An unreferenced data dir younger than min_age_s (a possibly
    in-flight merge attempt) must survive vacuum."""
    from etl_tool_spark.streaming.cdc import merge_cdc_batch, vacuum

    snap = str(tmp_path / "snap")
    b1 = spark.createDataFrame(
        [(1, 10, "I", "a0")], "id long, seq long, op string, payload string")
    merge_cdc_batch(b1, snap, keys=["id"], batch_id=0)
    inflight = tmp_path / "snap" / "data" / "bNEW-inflight00"
    inflight.mkdir(parents=True)
    assert vacuum(spark, snap, keep_last=1) == 0       # default 1h cutoff
    assert inflight.exists()
    assert vacuum(spark, snap, keep_last=1, min_age_s=0) == 1
    assert not inflight.exists()


def test_cdc_legacy_layout_rejected(spark, tmp_path):
    """A pre-versioned snapshot (top-level _bucket=* dirs) must refuse
    to fold/read as if empty, and say how to recover (rebuild); the
    directory is left untouched."""
    import os

    from etl_tool_spark.streaming.cdc import merge_cdc_batch, read_snapshot

    snap = str(tmp_path / "snap")
    legacy = spark.createDataFrame(
        [(1, "a0", 3), (2, "b0", 7)], "id long, payload string, _bucket int")
    legacy.write.partitionBy("_bucket").parquet(snap)
    before = sorted(os.listdir(snap))

    b = spark.createDataFrame(
        [(3, 10, "I", "c0")], "id long, seq long, op string, payload string")
    with pytest.raises(ValueError, match="pre-versioned.*rebuild"):
        merge_cdc_batch(b, snap, keys=["id"], batch_id=0)
    with pytest.raises(ValueError, match="pre-versioned.*rebuild"):
        read_snapshot(spark, snap)
    assert sorted(os.listdir(snap)) == before


def test_cdc_snapshot_diff_and_restore(spark, tmp_path):
    """Change feed between versions + zero-copy rewind."""
    from etl_tool_spark.streaming.cdc import (
        list_versions, merge_cdc_batch, read_snapshot, restore_version,
        snapshot_diff)

    snap = str(tmp_path / "snap")
    b1 = spark.createDataFrame(
        [(1, 10, "I", "a0"), (2, 10, "I", "b0"), (3, 10, "I", "c0")],
        "id long, seq long, op string, payload string")
    merge_cdc_batch(b1, snap, keys=["id"], batch_id=0)
    b2 = spark.createDataFrame(
        [(1, 20, "U", "a1"), (3, 20, "D", None), (4, 20, "I", "d0")],
        "id long, seq long, op string, payload string")
    merge_cdc_batch(b2, snap, keys=["id"], batch_id=1)

    diff = {r["id"]: r["change_type"]
            for r in snapshot_diff(spark, snap, 1, 2).collect()}
    assert diff == {1: "update", 3: "delete", 4: "insert"}   # 2 unchanged

    new_v = restore_version(spark, snap, 1)
    assert new_v == 3 and list_versions(spark, snap) == [1, 2, 3]
    got = {r["id"]: r["payload"] for r in read_snapshot(spark, snap).collect()}
    assert got == {1: "a0", 2: "b0", 3: "c0"}                # rewound
    # and the diff from the bad version back to the restore is inverse
    rediff = {r["id"]: r["change_type"]
              for r in snapshot_diff(spark, snap, 2, 3).collect()}
    assert rediff == {1: "update", 3: "insert", 4: "delete"}


def test_rate_cap_stream_matches_batch_cap(spark, events_stream, tmp_path):
    """Streaming per-(user, day) rate cap over the whole input in one
    availableNow pass equals the batch window formulation (first 2 by
    ts, event_id per user per day)."""
    from etl_tool_spark.streaming.stateful import rate_cap_stream

    out = rate_cap_stream(
        events_stream.select("user_id", "event_id", "ts"), cap=2)
    q = (out.writeStream.format("memory").queryName("capped")
         .outputMode("append").trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ck_cap")).start())
    q.awaitTermination()
    got = {(r["user_id"], r["event_id"])
           for r in spark.sql("SELECT * FROM capped").collect()}

    from pyspark.sql import Window

    from etl_tool_spark.catalog import _events

    w = Window.partitionBy("user_id", F.date_trunc("day", F.col("ts"))) \
              .orderBy("ts", "event_id")
    batch = {(r["user_id"], r["event_id"]) for r in
             _events(spark, SF_DIR)
             .withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") <= 2)
             .select("user_id", "event_id").collect()}
    assert got == batch and len(got) > 0


def test_near_dedup_ingest_gate(spark, tmp_path):
    """Streaming near-dup ingest gate: the landing zone equals the
    sequential batch fold (keep-earliest vs landed survivors), contains
    no near-dup pair, and a doc near-duplicating a batch-1 survivor is
    dropped in batch 2."""
    from etl_tool_spark.llm.dedup import minhash_dedup_pairs
    from etl_tool_spark.streaming.dedup import (land_near_batch,
                                                near_dedup_ingest_stream)

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    uniq = ("one two three four five six seven eight nine ten eleven "
            "twelve thirteen fourteen fifteen sixteen")
    rows1 = [(1, base + " END1"), (2, base + " END2"),   # 2 near-dups 1
             (3, uniq + " first")]
    rows2 = [(10, base + " END3"),                        # near-dups doc 1
             (11, uniq + " first extra"),                 # near-dups doc 3
             (12, "totally different text with no overlap at all here")]
    schema = "doc_id long, text string"
    b1 = spark.createDataFrame(rows1, schema)
    b2 = spark.createDataFrame(rows2, schema)

    src = tmp_path / "docs_stream"
    src.mkdir()
    b1.coalesce(1).write.parquet(str(src / "f1"))
    b2.coalesce(1).write.parquet(str(src / "f2"))
    stream = (spark.readStream.schema(b1.schema)
                   .option("maxFilesPerTrigger", 1)
                   .parquet(str(src / "*")))
    near_dedup_ingest_stream(stream, str(tmp_path / "store"),
                             str(tmp_path / "landed"),
                             str(tmp_path / "ckpt"))
    landed = spark.read.parquet(str(tmp_path / "landed"))
    got = {r["doc_id"] for r in landed.collect()}
    assert got == {1, 3, 12}  # 2 drops in-batch; 10 & 11 drop vs store

    # landed set is pairwise near-dup-free under the same hash family
    leftover = minhash_dedup_pairs(landed.select("doc_id", "text")).count()
    assert leftover == 0

    # sequential batch fold produces the identical landing zone
    fold_store = str(tmp_path / "fold_store")
    fold_out = str(tmp_path / "fold_landed")
    land_near_batch(b1, 0, fold_store, fold_out)
    land_near_batch(b2, 1, fold_store, fold_out)
    fold = {r["doc_id"]
            for r in spark.read.parquet(fold_out).collect()}
    assert fold == got


def test_near_gate_resent_ids_drop(spark, tmp_path):
    """A batch that re-sends documents under ids the store already holds
    (an at-least-once source) lands without error and without a second
    copy. Keyed by id alone, the verify doubled those ids' rows: the
    exact in-batch copy divided by zero, and without it the re-sent
    documents landed twice."""
    from etl_tool_spark.streaming.dedup import land_near_batch

    words = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lambda mu nu xi omicron pi rho sigma tau upsilon").split()
    docs = [(i, " ".join(words[5 * i:5 * i + 5] * 3) + f" doc{i}")
            for i in range(4)]
    docs[1] = (1, docs[0][1])        # an exact copy: drops in-batch
    schema = "doc_id long, text string"
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    land_near_batch(spark.createDataFrame(docs, schema), 7, store, out)
    land_near_batch(spark.createDataFrame(
        docs + [(9, "a fresh document about something else entirely")],
        schema), 8, store, out)
    got = sorted((r["doc_id"], r["batch_id"])
                 for r in spark.read.parquet(out).collect())
    assert got == [(0, 7), (2, 7), (3, 7), (9, 8)]


def test_semantic_ingest_gate(spark, tmp_path):
    """Streaming semantic (embedding-cosine) ingest gate: the landing
    zone equals the sequential batch fold, contains no cosine pair at
    the threshold, and a vector near-duplicating a batch-1 survivor is
    dropped in batch 2."""
    from etl_tool_spark.llm.similarity import embedding_dup_pairs
    from etl_tool_spark.streaming.dedup import (land_semantic_batch,
                                                semantic_ingest_stream)

    def vec(*v):
        return [float(x) for x in v]

    e1 = vec(1, 0, 0, 0, 0.1, 0, 0, 0)
    e1b = vec(0.99, 0.01, 0, 0, 0.1, 0, 0, 0)      # cosine ~1 vs e1
    e3 = vec(0, 1, 0, 0, 0, 0.1, 0, 0)
    e3b = vec(0, 0.98, 0.02, 0, 0, 0.1, 0, 0)      # cosine ~1 vs e3
    orth = vec(0, 0, 0, 1, 0, 0, 0, 0.1)
    rows1 = [(1, e1), (2, e1b), (3, e3)]           # 2 near-dups 1 in-batch
    rows2 = [(10, vec(0.98, 0, 0.02, 0, 0.1, 0, 0, 0)),  # near e1 (stored)
             (11, e3b),                                   # near e3 (stored)
             (12, orth)]                                  # unique
    schema = "vec_id long, embedding array<float>"
    b1 = spark.createDataFrame(rows1, schema)
    b2 = spark.createDataFrame(rows2, schema)
    kw = dict(threshold=0.9, dim=8, bands=16, rows_per_band=4)

    src = tmp_path / "vec_stream"
    src.mkdir()
    b1.coalesce(1).write.parquet(str(src / "f1"))
    b2.coalesce(1).write.parquet(str(src / "f2"))
    stream = (spark.readStream.schema(b1.schema)
                   .option("maxFilesPerTrigger", 1)
                   .parquet(str(src / "*")))
    semantic_ingest_stream(stream, str(tmp_path / "store"),
                           str(tmp_path / "landed"),
                           str(tmp_path / "ckpt"), **kw)
    landed = spark.read.parquet(str(tmp_path / "landed"))
    got = {r["vec_id"] for r in landed.collect()}
    assert got == {1, 3, 12}  # 2 drops in-batch; 10 & 11 drop vs store

    # landed set is pairwise cosine-dup-free under the same LSH family
    leftover = embedding_dup_pairs(landed.select("vec_id", "embedding"),
                                   **kw).count()
    assert leftover == 0

    # sequential batch fold produces the identical landing zone
    land_semantic_batch(b1, 0, str(tmp_path / "fs"), str(tmp_path / "fl"), **kw)
    land_semantic_batch(b2, 1, str(tmp_path / "fs"), str(tmp_path / "fl"), **kw)
    fold = {r["vec_id"]
            for r in spark.read.parquet(str(tmp_path / "fl")).collect()}
    assert fold == got


def _store_tables(spark, store):
    """Sorted rows of every store table present (fp/, sig/, bands/, vec/;
    a bare exact-dedup store is its own flat table)."""
    import os

    tables = {sub: os.path.join(store, sub)
              for sub in ("fp", "sig", "bands", "vec")
              if os.path.isdir(os.path.join(store, sub))}
    if not tables and any(f.endswith(".parquet") for f in os.listdir(store)):
        tables["."] = store
    return {sub: sorted(map(str, spark.read.parquet(d).collect()))
            for sub, d in tables.items()}


class _Crash(Exception):
    """A crash injected at one write boundary of a commit."""


def _inject_crash(monkeypatch, point, store, out):
    """Make the next batch crash at ``point`` by patching the parquet
    writer or the commit module (no hook in engine code):

    land     right after the landing write to ``out``;
    stage    after the first write of a store table (once the writes
             overlapped with it finish), before the batch marker — the
             point where an append-then-marker store would hold the
             batch's rows without its marker;
    publish  after the marker's publish, before the promote;
    promote  after the promote's first file move."""
    from pyspark.sql import DataFrameWriter

    if point in ("land", "stage"):
        write = DataFrameWriter.parquet

        def parquet(self, path, *a, **k):
            write(self, path, *a, **k)
            if (path == out if point == "land" else
                    path.startswith(store) and "/gate-staging" not in path):
                raise _Crash(point)
        monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
        return
    from etl_tool_spark import commit as C

    if point == "publish":
        def promote(manifest):
            raise _Crash(point)
        monkeypatch.setattr(C, "promote", promote)
    else:
        move = C._move

        def move_once(*a):
            move(*a)
            raise _Crash(point)
        monkeypatch.setattr(C, "_move", move_once)


def _landed(spark, out, id_col):
    """Landed rows de-duplicated on (id, batch_id): what a consumer of
    the at-least-once landing zone reads."""
    return sorted(map(str, spark.read.parquet(out)
                      .dropDuplicates([id_col, "batch_id"]).collect()))


_GATE_CASES = [(f, None) for f in ("near", "exact", "semantic", "clean",
                                   "budget")] + [
    (f, p) for f in ("near", "exact", "semantic", "clean")
    for p in ("land", "stage", "publish", "promote")] + [
    ("budget", "land"), ("budget", "publish"), ("near", "bare")]


@pytest.fixture(scope="module")
def clean_gate_runs():
    """family → (landed rows, store tables) of one crash-free run."""
    return {}


@pytest.mark.parametrize(
    "family,crash", _GATE_CASES,
    ids=[f if p is None else f"{f}-{p}" for f, p in _GATE_CASES])
def test_ingest_gate_replay_is_noop(spark, tmp_path, monkeypatch,
                                    clean_gate_runs, family, crash):
    """Replaying a batch must leave the landing zone (de-duplicated on
    (id, batch_id)) and every store table exactly as a clean run left
    them, with no duplicate rows — after a FULLY-applied batch (the
    batch marker makes the replay a no-op; a bare empty marker file, as
    written before markers carried a manifest, counts too) and after a
    crash at each write boundary of the commit. Same-id pairs are
    excluded by a < b, so a store copy could never flag its own replay:
    without the commit a crash between the store append and the marker
    would duplicate the batch's signatures, and a crash after the clean
    gate's fp/ append would strand the batch's signatures outside sig/
    and bands/."""
    from etl_tool_spark.streaming import dedup as G

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    docs = spark.createDataFrame(
        [(1, base + " ONE"), (2, "unique text here"), (3, base + " ONE"),
         (4, "another fresh document body")], "doc_id long, text string")
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.1, 0.0]), (2, [0.99, 0.01, 0.1, 0.0]),
         (3, [0.0, 1.0, 0.0, 0.1]), (4, [0.0, 0.0, 1.0, 0.5])],
        "vec_id long, embedding array<float>")
    land = {
        "near": lambda s, o: G.land_near_batch(docs, 7, s, o),
        "exact": lambda s, o: G.land_batch(docs, 7, s, o),
        "semantic": lambda s, o: G.land_semantic_batch(
            vecs, 7, s, o, threshold=0.9, dim=4, bands=8, rows_per_band=2),
        "clean": lambda s, o: G.land_clean_batch(docs, 7, s, o),
        "budget": lambda s, o: G.land_budget_batch(docs, 7, s, o,
                                                   quota_frac=0.5),
    }[family]
    id_col = "vec_id" if family == "semantic" else "doc_id"

    if family not in clean_gate_runs:
        store, out = str(tmp_path / "clean"), str(tmp_path / "clean_out")
        land(store, out)
        clean_gate_runs[family] = (_landed(spark, out, id_col),
                                   _store_tables(spark, store))
    landed1, tables1 = clean_gate_runs[family]
    assert landed1
    if family != "budget":  # the budget gate keeps only batch markers
        assert tables1

    store, out = str(tmp_path / "store"), str(tmp_path / "landed")
    if crash in (None, "bare"):
        land(store, out)
        if crash == "bare":
            marker = tmp_path / "store" / "_applied" / "7"
            for f in (marker, marker.with_name(".7.crc")):
                f.unlink(missing_ok=True)
            marker.touch()
    else:
        with monkeypatch.context() as m:
            _inject_crash(m, crash, store, out)
            with pytest.raises(_Crash):
                land(store, out)
    land(store, out)                            # the replay
    assert _landed(spark, out, id_col) == landed1
    tables = _store_tables(spark, store)
    assert tables == tables1
    for rows in tables.values():
        assert len(rows) == len(set(rows)), "duplicate store rows"


def test_full_clean_ingest_stream(spark, tmp_path):
    """The complete streaming cleaning gate: the landing zone is
    quality/language-filtered, exactly deduped, pairwise near-dup-free,
    and equals the sequential land_clean_batch fold over the same
    (pre-filtered) batches."""
    from etl_tool_spark.llm.dedup import minhash_dedup_pairs
    from etl_tool_spark.llm.text import (fingerprint, language_id,
                                         quality_features, tokens)
    from etl_tool_spark.streaming.dedup import (full_clean_ingest_stream,
                                                land_clean_batch)

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
                 .limit(300).cache())
    src = tmp_path / "in"
    src.mkdir()
    b1 = docs.filter(F.col("doc_id") % 3 == 0)
    b2 = docs.filter(F.col("doc_id") % 3 != 0)
    b1.coalesce(1).write.parquet(str(src / "f1"))
    b2.coalesce(1).write.parquet(str(src / "f2"))
    stream = (spark.readStream.schema(docs.schema)
                   .option("maxFilesPerTrigger", 1)
                   .parquet(str(src / "*")))
    full_clean_ingest_stream(stream, str(tmp_path / "store"),
                             str(tmp_path / "landed"),
                             str(tmp_path / "ckpt"))
    landed = spark.read.parquet(str(tmp_path / "landed")).cache()
    got = {r["doc_id"] for r in landed.collect()}
    assert got, "gate landed nothing"

    # 1. every landed doc passes the stateless filters
    base = landed.select("*", tokens(F.col("text")).alias("_toks"))
    feats = quality_features(F.col("text"), toks=F.col("_toks"))
    bad = (base.select(feats["quality_score"].alias("_q"),
                       language_id(F.col("text"),
                                   toks=F.col("_toks")).alias("_lang"))
               .filter((F.col("_q") < 0.5) | (F.col("_lang") == "und")))
    assert bad.count() == 0

    # 2. no two landed docs share a fingerprint
    fps = landed.select(fingerprint(F.col("text")).alias("_fp"))
    assert fps.count() == fps.distinct().count()

    # 3. pairwise near-dup-free under the same hash family
    assert minhash_dedup_pairs(landed.select("doc_id", "text")).count() == 0

    # 4. sequential fold over pre-filtered batches lands the same set
    def filt(df):
        b = df.select("*", tokens(F.col("text")).alias("_toks"))
        f = quality_features(F.col("text"), toks=F.col("_toks"))
        return (b.select("*", f["quality_score"].alias("_q"),
                         language_id(F.col("text"),
                                     toks=F.col("_toks")).alias("_lang"))
                 .filter((F.col("_q") >= 0.5) & (F.col("_lang") != "und"))
                 .drop("_toks", "_q", "_lang"))

    land_clean_batch(filt(b1), 0, str(tmp_path / "fs"), str(tmp_path / "fl"))
    land_clean_batch(filt(b2), 1, str(tmp_path / "fs"), str(tmp_path / "fl"))
    fold = {r["doc_id"]
            for r in spark.read.parquet(str(tmp_path / "fl")).collect()}
    assert fold == got
    landed.unpersist()
    docs.unpersist()


def test_budget_ingest_stream_matches_fold(spark, tmp_path):
    """Streaming token-budget admission gate: the landed set equals the
    sequential land_budget_batch fold over the same batches, keeps the
    best-quality half of each batch's token mass (boundary doc
    included), never lands a worse document over a better one, and a
    replay of an applied batch is a no-op."""
    from etl_tool_spark.streaming.dedup import (budget_ingest_stream,
                                                land_budget_batch)

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
                 .limit(300).select("doc_id", "text").cache())
    src = tmp_path / "in"
    src.mkdir()
    b1 = docs.filter(F.col("doc_id") % 3 == 0)
    b2 = docs.filter(F.col("doc_id") % 3 != 0)
    b1.coalesce(1).write.parquet(str(src / "f1"))
    b2.coalesce(1).write.parquet(str(src / "f2"))
    stream = (spark.readStream.schema(docs.schema)
                   .option("maxFilesPerTrigger", 1)
                   .parquet(str(src / "*")))
    budget_ingest_stream(stream, str(tmp_path / "store"),
                         str(tmp_path / "landed"),
                         str(tmp_path / "ckpt"), quota_frac=0.5)
    landed = spark.read.parquet(str(tmp_path / "landed")).cache()
    got = {r["doc_id"] for r in landed.collect()}
    assert got, "gate landed nothing"

    # fold equivalence (admission is a pure function of batch content,
    # so it holds whichever order the two files triggered in)
    land_budget_batch(b1, 0, str(tmp_path / "fs"), str(tmp_path / "fl"),
                      quota_frac=0.5)
    land_budget_batch(b2, 1, str(tmp_path / "fs"), str(tmp_path / "fl"),
                      quota_frac=0.5)
    fold = spark.read.parquet(str(tmp_path / "fl")).cache()
    assert {r["doc_id"] for r in fold.collect()} == got

    # per-batch: landed mass crosses the quota iff anything was dropped,
    # and no dropped doc outranks a landed one on quality
    for b, src_df in ((0, b1), (1, b2)):
        rows = fold.filter(F.col("batch_id") == b).collect()
        mass = sum(r["n_tokens"] for r in rows)
        batch_ids = {r["doc_id"] for r in src_df.collect()}
        dropped = batch_ids - {r["doc_id"] for r in rows}
        if dropped:
            from etl_tool_spark.llm.text import (quality_features,
                                                 token_count, tokens)
            base = src_df.select("*", tokens(F.col("text")).alias("_toks"))
            feats = quality_features(F.col("text"), toks=F.col("_toks"))
            scored = {r["doc_id"]: (r["q"], r["nt"]) for r in base.select(
                "doc_id", feats["quality_score"].alias("q"),
                token_count(F.col("text")).alias("nt")).collect()}
            total = sum(nt for _, nt in scored.values())
            assert mass >= 0.5 * total  # boundary doc crossed the line
            max_dropped_q = max(scored[i][0] for i in dropped)
            min_landed_q = min(r["quality_score"] for r in rows)
            assert max_dropped_q <= min_landed_q

    # replay of an applied batch is a no-op (marker)
    n_before = fold.count()
    land_budget_batch(b1, 0, str(tmp_path / "fs"), str(tmp_path / "fl"),
                      quota_frac=0.5)
    assert spark.read.parquet(str(tmp_path / "fl")).count() == n_before
    landed.unpersist(); fold.unpersist(); docs.unpersist()


@pytest.mark.parametrize("gate", ["budget_frac", "budget_quota", "exact"])
def test_gate_batches_release_checkpoints(spark, tmp_path, gate):
    """Gate batches leave no persisted RDD behind: the budget gate's
    scored frame and the exact gate's survivors are released after each
    batch, not when JVM garbage collection gets to them — a stream runs
    forever."""
    from etl_tool_spark.streaming import dedup as G

    land = {
        "budget_frac": lambda b, i, s, o: G.land_budget_batch(
            b, i, s, o, quota_frac=0.5),
        "budget_quota": lambda b, i, s, o: G.land_budget_batch(
            b, i, s, o, token_quota=500),
        "exact": G.land_batch,
    }[gate]
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
                 .limit(90).select("doc_id", "text"))
    sc = spark.sparkContext
    persisted = sc._jsc.getPersistentRDDs().size()
    for i in range(3):
        land(docs.filter(F.col("doc_id") % 3 == i), i,
             str(tmp_path / "store"), str(tmp_path / "landed"))
    assert spark.read.parquet(str(tmp_path / "landed")).count() > 0
    assert sc._jsc.getPersistentRDDs().size() == persisted


def test_incremental_mv_deltas_match_recompute(spark, tmp_path):
    """operators/mv.py:update_agg_mv across three batches with the hard
    cases: a key UPDATED into a different group (mass must migrate), a
    group deleted down to zero members (must leave the MV), and a
    re-upsert of a deleted key. After every batch the MV must equal a
    full recompute of the snapshot — while having been built from
    deltas only."""
    from etl_tool_spark.operators.mv import update_agg_mv
    from etl_tool_spark.streaming.cdc import read_snapshot

    snap, mv = str(tmp_path / "snap"), str(tmp_path / "mv")

    def batch(rows):
        return spark.createDataFrame(
            rows, "k long, seq long, op string, grp string, v long")

    batches = [
        batch([(1, 1, "U", "a", 10), (2, 2, "U", "a", 20),
               (3, 3, "U", "b", 5)]),
        # k=2 migrates a→b with a new value; k=3 deleted (b would be
        # empty but k=2 just arrived); k=4 joins a
        batch([(2, 4, "U", "b", 7), (3, 5, "D", None, None),
               (4, 6, "U", "a", 1)]),
        # delete k=2 (group b now empty → must drop out of the MV);
        # re-upsert k=3 into c
        batch([(2, 7, "D", None, None), (3, 8, "U", "c", 9)]),
    ]
    for i, b in enumerate(batches):
        got = {(r["grp"], r["mv_sum"], r["mv_n"])
               for r in update_agg_mv(spark, snap, mv, b, keys=["k"],
                                      group_col="grp", value_col="v",
                                      batch_id=i).collect()}
        want = {(r["grp"], r["s"], r["n"])
                for r in read_snapshot(spark, snap)
                .groupBy("grp")
                .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
                .collect()}
        assert got == want, f"batch {i}: {got} != {want}"
    assert {r["grp"] for r in spark.read.parquet(f"{mv}/v2").collect()} \
        == {"a", "c"}  # b emptied out, c re-created


def test_incremental_mv_minmax_lossy_recompute(spark, tmp_path):
    """min/max IVM: deleting a group's stored extreme must expose the
    second-best (the lossy recompute path), while pure inserts fold via
    least/greatest without touching the snapshot twice. Every batch's
    MV must equal the full recompute."""
    from etl_tool_spark.operators.mv import update_agg_mv
    from etl_tool_spark.streaming.cdc import read_snapshot

    snap, mv = str(tmp_path / "snap"), str(tmp_path / "mv")

    def batch(rows):
        return spark.createDataFrame(
            rows, "k long, seq long, op string, grp string, v long")

    batches = [
        batch([(1, 1, "U", "a", 10), (2, 2, "U", "a", 99),
               (3, 3, "U", "a", 50)]),
        batch([(2, 4, "D", None, None)]),       # delete a's max → 50
        batch([(1, 5, "U", "a", 7), (4, 6, "U", "a", 60)]),
        # update k=1 10→7 (old 10 > stored min? no: 10 was the min →
        # lossy) and insert a new non-extreme; min must become 7
    ]
    for i, b in enumerate(batches):
        got = {(r["grp"], r["mv_sum"], r["mv_n"], r["mv_min"], r["mv_max"])
               for r in update_agg_mv(spark, snap, mv, b, keys=["k"],
                                      group_col="grp", value_col="v",
                                      batch_id=i,
                                      track_minmax=True).collect()}
        want = {(r["grp"], r["s"], r["n"], r["mn"], r["mx"])
                for r in read_snapshot(spark, snap).groupBy("grp")
                .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"),
                     F.min("v").alias("mn"), F.max("v").alias("mx"))
                .collect()}
        assert got == want, f"batch {i}: {got} != {want}"
    assert got == {("a", 117, 3, 7, 60)}


def test_incremental_mv_retry_after_partial_failure(spark, tmp_path,
                                                   monkeypatch):
    """The snapshot merge and the MV write cannot be one atomic commit;
    a crash between them must be recoverable. Simulates the crash by
    merging a batch into the snapshot WITHOUT writing its MV, then
    re-running update_agg_mv for the same batch_id: the old side must
    pin to the pre-batch snapshot version (a current-snapshot read would
    fold a zero delta and lose the batch from the MV forever). A replay
    of a fully-applied batch is a no-op returning the stored MV, and a
    refresh that crashes at a write boundary replays to the same MV."""
    from etl_tool_spark.operators.mv import update_agg_mv
    from etl_tool_spark.streaming.cdc import merge_cdc_batch, read_snapshot

    snap, mv = str(tmp_path / "snap"), str(tmp_path / "mv")

    def batch(rows):
        return spark.createDataFrame(
            rows, "k long, seq long, op string, grp string, v long")

    b0 = batch([(1, 1, "U", "a", 10), (2, 2, "U", "b", 5)])
    update_agg_mv(spark, snap, mv, b0, keys=["k"], group_col="grp",
                  value_col="v", batch_id=0)

    # crash simulation: batch 1's snapshot merge succeeded, MV write died
    b1 = batch([(1, 3, "U", "a", 20), (3, 4, "U", "b", 7)])
    merge_cdc_batch(b1, snap, keys=["k"], batch_id=1)

    got = {(r["grp"], r["mv_sum"], r["mv_n"])
           for r in update_agg_mv(spark, snap, mv, b1, keys=["k"],
                                  group_col="grp", value_col="v",
                                  batch_id=1).collect()}
    want = {(r["grp"], r["s"], r["n"])
            for r in read_snapshot(spark, snap).groupBy("grp")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()}
    assert got == want == {("a", 20, 1), ("b", 12, 2)}

    # replay of the fully-applied batch: same MV back, nothing rewritten
    again = {(r["grp"], r["mv_sum"], r["mv_n"])
             for r in update_agg_mv(spark, snap, mv, b1, keys=["k"],
                                    group_col="grp", value_col="v",
                                    batch_id=1).collect()}
    assert again == got

    # a refresh that crashes after its snapshot publish, or after its
    # MV write and before _MV_COMMITTED: the replay gives the same MV
    # and the same snapshot
    from pyspark.sql import DataFrameWriter

    from etl_tool_spark import commit as C

    want_snap = sorted(map(str, read_snapshot(spark, snap).collect()))
    publish, write = C.publish, DataFrameWriter.parquet
    for point in ("snapshot", "mv"):
        snap2 = str(tmp_path / f"snap-{point}")
        mv2 = str(tmp_path / f"mv-{point}")
        update_agg_mv(spark, snap2, mv2, b0, keys=["k"], group_col="grp",
                      value_col="v", batch_id=0)

        def crashing(path, text, point=point):
            ok = publish(path, text)
            if "/_versions/" in path:
                raise _Crash(point)
            return ok

        def parquet(self, path, *a, mv2=mv2, **k):
            write(self, path, *a, **k)
            if path.startswith(mv2):
                raise _Crash("mv")
        with monkeypatch.context() as m:
            if point == "snapshot":
                m.setattr(C, "publish", crashing)
            else:
                m.setattr(DataFrameWriter, "parquet", parquet)
            with pytest.raises(_Crash):
                update_agg_mv(spark, snap2, mv2, b1, keys=["k"],
                              group_col="grp", value_col="v", batch_id=1)
        replay = {(r["grp"], r["mv_sum"], r["mv_n"])
                  for r in update_agg_mv(spark, snap2, mv2, b1, keys=["k"],
                                         group_col="grp", value_col="v",
                                         batch_id=1).collect()}
        assert replay == got, point
        assert sorted(map(str, read_snapshot(spark, snap2).collect())) \
            == want_snap, point


def test_crawl_ingest_stream_gates_duplicate_archives(spark, tmp_path):
    """The streaming crawl loop (WARC split → HTML strip → langid →
    exact gate) must land each distinct page once across batches: a
    page re-crawled in a later batch is gated by the fingerprint store,
    and the landed frame matches the one-shot batch composition."""
    import gzip
    import io

    from etl_tool_spark.streaming.dedup import crawl_ingest_stream

    def warc(doc_id: int, body: str) -> bytes:
        page = (f"<html><body><p>{body}</p>"
                f"<!-- boilerplate --></body></html>").encode()
        return (b"WARC/1.0\r\nWARC-Type: response\r\n"
                b"WARC-Target-URI: https://x/" + str(doc_id).encode()
                + b"\r\nContent-Length: " + str(len(page)).encode()
                + b"\r\n\r\n" + page + b"\r\n\r\n")

    texts = {1: "the cat and the dog of the house",
             2: "el gato y la casa de los perros",
             3: "one of a kind body text here the end"}
    b1 = [(i, warc(i, t)) for i, t in texts.items()]
    # batch 2: one re-crawl of page 1 (same body, new id) + one new page
    b2 = [(11, warc(11, texts[1])), (4, warc(4, "fresh page four text"))]
    schema = "media_id long, payload binary"
    src = tmp_path / "in"
    src.mkdir()
    spark.createDataFrame(b1, schema).coalesce(1) \
         .write.parquet(str(src / "f1"))

    args = (str(tmp_path / "store"), str(tmp_path / "landed"),
            str(tmp_path / "ckpt"))

    def run():
        s = spark.readStream.schema(schema).parquet(str(src / "*"))
        crawl_ingest_stream(s, *args)

    run()
    spark.createDataFrame(b2, schema).coalesce(1) \
         .write.parquet(str(src / "f2"))
    run()

    landed = spark.read.parquet(str(tmp_path / "landed"))
    rows = {r["media_id"]: r for r in landed.collect()}
    assert set(rows) == {1, 2, 3, 4}          # 11 gated: duplicate body
    assert rows[1]["lang"] == "en" and rows[2]["lang"] == "es"
    assert rows[1]["target_uri"] == "https://x/1"
    assert rows[1]["text"] == texts[1]        # page furniture stripped
    assert rows[4]["batch_id"] == 1


def test_ingest_gates_handle_empty_batches(spark, tmp_path):
    """An empty micro-batch (routine under availableNow/file triggers)
    must be a harmless no-op for every gate — pinned because the
    round-7 signature-staging rewrite reads the staged batch parquet
    back, and an empty write must not break that read or poison the
    store for later batches."""
    from pyspark.sql import functions as F

    from etl_tool_spark.streaming.dedup import (land_clean_batch,
                                                land_near_batch,
                                                land_semantic_batch)

    d = spark.createDataFrame(
        [(1, "hello world hello again"), (2, "other text here now")],
        "doc_id INT, text STRING")
    empty = d.filter(F.col("doc_id") > 99)
    d3 = spark.createDataFrame([(3, "fresh third document text")],
                               "doc_id INT, text STRING")
    for land in (land_near_batch, land_clean_batch):
        base = tmp_path / land.__name__
        store, out = str(base / "store"), str(base / "out")
        land(d, 0, store, out)
        land(empty, 1, store, out)   # no-op, must not corrupt the store
        land(d3, 2, store, out)
        got = sorted((r["doc_id"], r["batch_id"])
                     for r in spark.read.parquet(out).collect())
        assert got == [(1, 0), (2, 0), (3, 2)], land.__name__

    e = spark.createDataFrame(
        [(i, [float(i + j) for j in range(64)]) for i in range(4)],
        "vec_id INT, embedding ARRAY<FLOAT>")
    base = tmp_path / "sem"
    store, out = str(base / "store"), str(base / "out")
    kw = dict(threshold=0.999999)
    land_semantic_batch(e.filter(F.col("vec_id") < 2), 0, store, out, **kw)
    land_semantic_batch(e.filter(F.col("vec_id") > 99), 1, store, out, **kw)
    land_semantic_batch(e.filter(F.col("vec_id") >= 2), 2, store, out, **kw)
    got = sorted((r["vec_id"], r["batch_id"])
                 for r in spark.read.parquet(out).collect())
    assert got == [(0, 0), (1, 0), (2, 2), (3, 2)]

    # an empty LOCAL frame (its partitioned band write runs no job, so
    # the probe's observation never gets metrics) through the update
    # store: no pairs, and the store is unchanged
    from etl_tool_spark.llm.dedup import incremental_minhash_pairs
    from etl_tool_spark.llm.similarity import incremental_embedding_pairs

    cases = [  # the near and semantic gate stores above are such stores
        (incremental_minhash_pairs, tmp_path / "land_near_batch" / "store",
         "doc_id INT, text STRING", {}),
        (incremental_embedding_pairs, tmp_path / "sem" / "store",
         "vec_id INT, embedding ARRAY<FLOAT>", kw),
    ]
    for pairs, store, schema, kwargs in cases:
        before = _store_tables(spark, str(store))
        got = pairs(spark.createDataFrame([], schema), str(store),
                    update_store=True, **kwargs).collect()
        assert got == [], pairs.__name__
        assert _store_tables(spark, str(store)) == before, pairs.__name__
