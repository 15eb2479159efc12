"""Pipeline compiler/runner: Extract → Filter → Transform → Flatten →
Deduplicate → Load (reference stage order: internal/app/app.go:148-181).

Unlike the reference's three eager in-memory passes, the stages compile
to lazy DataFrames; Catalyst pushes the filter into the scan, prunes
unused columns, and codegens the whole mapping chain. Errored records
split off a CHANNEL frame before flatten; a run that acts on both
outputs checkpoints that frame, so it scans its source once.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_tool_spark.operators.dedup import dedup
from etl_tool_spark.operators.errors import (
    ERROR_COL,
    ERROR_MESSAGE_FIELD,
    ORIG_COL,
    POS_COL,
    SEQ_COL,
    add_error,
    halt_if_errors,
    split_errors,
    write_error_file,
)
from etl_tool_spark.operators.filter import (FILTER_ERROR, apply_filter,
                                             apply_filter_with_errors)
from etl_tool_spark.operators.flatten import flatten, non_list_error
from etl_tool_spark.operators.mapping import apply_mappings
from etl_tool_spark.plans.config import PlaybookConfig
from etl_tool_spark.sources.registry import read_source
from etl_tool_spark.sources.sinks import write_jdbc_custom_sql, write_sink


class QualityError(RuntimeError):
    """Raised when the playbook's quality gate exceeds maxFailures."""


@dataclass
class PipelineResult:
    output: DataFrame          # clean records (lazy until you act on it)
    errors: DataFrame          # errored records + etl_error_message (lazy)
    written: bool
    load_processed: int = 0    # custom-DML loader: records committed
    load_failed: int = 0       # custom-DML loader: records skipped (non-batched)
    # Observation metrics from the load/dry-run action itself (no second
    # pipeline execution): {"rows_out": N} when the batch path ran.
    metrics: dict | None = None


def _read_hwm(state_file: str):
    """High-water mark from the incremental state file (None first run)."""
    import json
    import os

    if not os.path.exists(state_file):
        return None
    with open(state_file) as f:
        return json.load(f).get("max")


def _write_hwm(state_file: str, column: str, value) -> None:
    import datetime
    import json
    import os

    os.makedirs(os.path.dirname(os.path.abspath(state_file)), exist_ok=True)
    if hasattr(value, "isoformat"):
        value = value.isoformat(sep=" ")
    with open(state_file, "w") as f:
        json.dump({"column": column, "max": value,
                   "updated": datetime.datetime.now(
                       datetime.timezone.utc).isoformat()}, f)


def _wm_col(df: DataFrame, inc: dict):
    """The typed watermark expression. ``castTo`` handles string-typed
    sources (CSV/XLSX parity reads): 'id' as a string would advance
    lexicographically ('10' < '2'), so numeric/timestamp watermarks
    over string columns must declare their type."""
    c = F.col(inc["column"])
    return c.cast(inc["castTo"]) if inc.get("castTo") else c


def _apply_incremental(df: DataFrame, inc: dict) -> DataFrame:
    """Filter to rows strictly above the stored mark; the comparison
    value casts to the watermark's type so typed (timestamp/numeric)
    predicates push down into the scan."""
    mark = _read_hwm(inc["stateFile"])
    if mark is None:
        return df
    wm = _wm_col(df, inc)
    target = inc.get("castTo") or dict(df.dtypes)[inc["column"]]
    return df.filter(wm > F.lit(mark).cast(target))


def _pending_hwm(spark: SparkSession, cfg: PlaybookConfig):
    """Candidate high-water mark: the max watermark over the increment,
    captured BEFORE the load and written to the state file only after
    the load succeeds. Capturing before (rather than re-reading the
    mutable source after) keeps the race's failure mode safe: rows a
    producer appends while the load runs can exceed the captured mark
    and are re-read next run (duplicates in an append destination —
    at-least-once), where a post-load re-read would advance the mark
    past rows that were never written and silently drop them forever.
    The agg's predicate is the OLD mark, so its cost is one
    pushdown-pruned scan of the increment's watermark column. (Like any
    high-water-mark scheme this assumes watermark-monotonic arrivals;
    out-of-order late rows need a streaming source with a watermark
    instead.) Returns None when the increment is empty ⇒ mark stays."""
    src = cfg.source
    inc = src.incremental
    df = read_source(spark, src.type, src.file or src.query or "",
                     src.options, attach_seq=False)
    df = _apply_incremental(df, inc)
    return df.agg(F.max(_wm_col(df, inc))).collect()[0][0]


def _channel(spark: SparkSession, cfg: PlaybookConfig) -> DataFrame:
    """Extract → filter → mappings → errorOnNonList check: the frame both
    outputs of a run split from, every error kind in ERROR_COL."""
    if cfg.sql:
        # Spark-native SQL stage (beyond the reference): named sources
        # register as temp views (seq-free — SELECT * must not leak
        # engine columns), the query's result becomes the working frame,
        # and a fresh encounter-order seq is attached for dedup
        # first/last semantics downstream.
        views = dict(cfg.sources)
        if cfg.source is not None:
            views["src"] = cfg.source
        for name, ep in views.items():
            read_source(spark, ep.type, ep.file or ep.query or "",
                        ep.options, attach_seq=False) \
                .createOrReplaceTempView(name)
        df = spark.sql(cfg.sql).withColumn(
            SEQ_COL, F.monotonically_increasing_id())
    elif cfg.source is not None and cfg.source.stream:
        df = _read_stream_source(spark, cfg.source)
    else:
        src = cfg.source
        df = read_source(spark, src.type, src.file or src.query or "", src.options)
        if src.incremental:
            df = _apply_incremental(df, src.incremental)

    # Filter runs on source records, pre-transform (app.go:150-164); its
    # eval errors never halt (app.go:156-161), so only a file or DLQ keeps them
    eh = cfg.errorHandling
    if eh.mode == "skip" and (eh.errorFile or eh.deadLetterDir):
        df, _ = apply_filter_with_errors(df, cfg.filter)
    else:
        df = apply_filter(df, cfg.filter)

    if cfg.mappings:
        df = apply_mappings(df, cfg.mappings, fips=cfg.fipsMode,
                            extra_keep=(SEQ_COL,))

    fl = cfg.flattening
    if fl and fl.errorOnNonList:
        df = add_error(df, non_list_error(df, fl.sourceField,
                                          fl.conditionField, fl.conditionValue))
    if ORIG_COL in df.columns:
        # only errored rows read it: keep it off a checkpoint's clean rows
        df = df.withColumn(ORIG_COL, F.when(F.col(ERROR_COL).isNotNull(),
                                            F.col(ORIG_COL)))
    return df


def _outputs(cfg: PlaybookConfig, channel: DataFrame
             ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Split the channel, then flatten and dedup the clean rows only: one
    error row per source record (processor.go:94-101 precede 110-122)."""
    split = split_errors(channel)
    clean = split.clean
    if cfg.flattening:
        fl = cfg.flattening
        clean = flatten(clean, fl.sourceField, fl.targetField,
                        include_parent=fl.includeParent,
                        condition_field=fl.conditionField,
                        condition_value=fl.conditionValue)
    if cfg.dedup:
        clean = dedup(clean, list(cfg.dedup.keys), cfg.dedup.strategy,
                      cfg.dedup.strategyField, seq_col=SEQ_COL)
    errors = split.errors
    return (clean.drop(SEQ_COL, POS_COL), errors,
            errors.filter(F.col(ERROR_MESSAGE_FIELD) == FILTER_ERROR))


def build_pipeline(spark: SparkSession, cfg: PlaybookConfig
                   ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Compile the playbook to (clean_df, error_df, filter_error_df)
    without executing. ``error_df`` holds every errored source record;
    ``filter_error_df`` is its filter-eval subset (kept for a file/DLQ)."""
    return _outputs(cfg, _channel(spark, cfg))


def _read_stream_source(spark: SparkSession, src) -> DataFrame:
    """readStream over a file endpoint. Streams need an explicit schema,
    so one batch read infers it from the existing files (at a real
    deployment the schema comes from the table catalog). File paths
    become parent-dir + glob, like streaming/events.py."""
    import os

    path = src.file or ""
    if src.type == "text":
        # text's schema is fixed (value: string) — no inference read
        reader = spark.readStream
        if src.options.get("lineSep"):
            reader = reader.option("lineSep", src.options["lineSep"])
        if os.path.isfile(path):
            reader = reader.option("pathGlobFilter", os.path.basename(path))
            path = os.path.dirname(path)
        return reader.text(path).withColumnRenamed("value", "text")
    batch = read_source(spark, src.type, path, src.options, attach_seq=False)
    reader = spark.readStream.schema(batch.schema)
    fmt = {"csv": "csv", "json": "json", "parquet": "parquet", "orc": "orc"}[src.type]
    opts = dict(src.options)
    if fmt == "csv":
        opts.setdefault("header", "true")
        if "delimiter" in opts:
            opts["sep"] = opts.pop("delimiter")
    for k, v in opts.items():
        if isinstance(v, (str, int, bool)):
            reader = reader.option(k, v)
    if os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    return reader.format(fmt).load(path)


def _drain_dlq(cfg: PlaybookConfig, errors: DataFrame) -> None:
    """Dead-letter queue: errored records stream to their own JSON-lines
    sink with an independent checkpoint — the unbounded-stream analogue
    of the reference's errorFile. Runs as a second query over the same
    availableNow source; delivery is at-least-once per sink, and the
    DLQ carries the original record + etl_error_message."""
    dlq = cfg.errorHandling.deadLetterDir
    if dlq:
        eq = (errors.writeStream.format("json")
                    .option("checkpointLocation", dlq.rstrip("/")
                            + "_checkpoint")
                    .outputMode("append")
                    .trigger(availableNow=True)
                    .start(dlq))
        eq.awaitTermination()


def _run_stream(spark: SparkSession, cfg: PlaybookConfig,
                clean: DataFrame, errors: DataFrame) -> PipelineResult:
    """Checkpointed availableNow writeStream to the file destination;
    the returned ``output`` is a batch read-back of what was written (so
    PipelineResult keeps its contract — counts/collect work)."""
    dst = cfg.destination
    checkpoint = dst.checkpoint or (dst.file or "") + "_checkpoint"
    if dst.type == "cdc":
        # streaming MERGE: each micro-batch folds into the versioned
        # snapshot store with an atomic commit (streaming/cdc.py)
        from etl_tool_spark.streaming.cdc import (cdc_merge_stream,
                                                  normalize_cdc_options,
                                                  read_snapshot)

        q = cdc_merge_stream(
            clean, dst.file or "", checkpoint,
            **normalize_cdc_options({**dst.options, **dst.loader}))
        _drain_dlq(cfg, errors)
        q.awaitTermination()
        return PipelineResult(read_snapshot(spark, dst.file or ""),
                              errors, written=True)
    writer = (clean.writeStream.format(dst.type)
              .option("checkpointLocation", checkpoint)
              .outputMode("append")
              .trigger(availableNow=True))
    if dst.type == "csv":
        writer = writer.option("header", "true")
    q = writer.start(dst.file or "")
    _drain_dlq(cfg, errors)
    q.awaitTermination()
    read_opts = {"header": True} if dst.type == "csv" else {}
    out = spark.read.options(**read_opts).format(dst.type).load(dst.file or "")
    return PipelineResult(out, errors, written=True)


def run_pipeline(spark: SparkSession, cfg: PlaybookConfig,
                 dry_run: bool = False) -> PipelineResult:
    if cfg.destination is None and cfg.destinations:
        # normalize here too (load_config already does): direct-API
        # callers building PlaybookConfig with only `destinations` mean
        # "write everywhere", not "dry run"
        cfg = replace(cfg, destination=cfg.destinations[0],
                      destinations=cfg.destinations[1:])
    channel = _channel(spark, cfg)
    clean, errors, _ = _outputs(cfg, channel)

    streaming = cfg.source is not None and cfg.source.stream
    if streaming:
        if dry_run or cfg.dryRun or cfg.destination is None:
            raise ValueError("streaming playbooks need a destination "
                             "and cannot dry-run")
        # validation already forced mode=skip / no errorFile / no halt;
        # the DLQ (when configured) carries every error kind
        return _run_stream(spark, cfg, clean, errors)

    eh = cfg.errorHandling
    if not ((ERROR_COL in channel.columns and (eh.mode == "halt" or eh.errorFile))
            or cfg.quality is not None or cfg.destinations):
        return _execute(spark, cfg, clean, errors, dry_run)
    # more than one action: the first materializes the channel, the rest
    # read its blocks instead of re-running scan → mappings; the result
    # keeps the lazy frames, usable after the release
    from etl_tool_spark.llm.graph import release_checkpoint

    pinned = channel.localCheckpoint(eager=False)
    try:
        res = _execute(spark, cfg, *_outputs(cfg, pinned)[:2], dry_run)
    finally:
        release_checkpoint(pinned)
    return replace(res, output=clean, errors=errors)


def _execute(spark: SparkSession, cfg: PlaybookConfig, clean: DataFrame,
             errors: DataFrame, dry_run: bool) -> PipelineResult:
    """A batch run's actions: halt, error file, quality gate, load."""
    # Observations: the actions the pipeline runs anyway report the
    # stage counts the reference logs from its eager passes — no second
    # execution to count anything (observe() is metric piggybacking on
    # the existing action, zero extra cost)
    from pyspark.sql import Observation

    stage_metrics: dict = {}

    mode = cfg.errorHandling.mode
    if mode == "halt":
        # processing errors halt; filter-eval errors only skip (app.go:156-161)
        halt_if_errors(errors)
    if mode == "skip" and cfg.errorHandling.errorFile:
        err_obs = Observation()
        errors = errors.observe(err_obs, F.count(F.lit(1)).alias("rows_error"))
        write_error_file(errors, cfg.errorHandling.errorFile)
        stage_metrics.update(err_obs.get)

    obs = Observation()
    clean = clean.observe(obs, F.count(F.lit(1)).alias("rows_out"))

    def _metrics() -> dict:
        return {**stage_metrics, **obs.get}

    if cfg.quality is not None:
        # quality gate: one extra aggregate pass over the clean frame
        # BEFORE the load (operators/quality.py). Over budget ⇒ abort
        # with the per-check counts — nothing is written.
        from etl_tool_spark.operators.quality import run_checks

        qrows = run_checks(clean, list(cfg.quality.checks)).collect()
        n_failures = sum(int(r["failures"]) for r in qrows)
        stage_metrics["quality_failures"] = n_failures
        if n_failures > int(cfg.quality.maxFailures):
            detail = ", ".join(f"{r['check']}={r['failures']}"
                               for r in qrows if r["failures"])
            raise QualityError(
                f"quality gate failed: {n_failures} violations "
                f"(budget {cfg.quality.maxFailures}): {detail}")

    if dry_run or cfg.dryRun or cfg.destination is None:
        # dry run: count + 5-record sample, no load (app.go:174-177)
        n = clean.count()
        sample = clean.limit(5).collect()
        _ = (n, sample)
        return PipelineResult(clean, errors, written=False, metrics=_metrics())

    incremental = cfg.source is not None and cfg.source.incremental
    pending_mark = _pending_hwm(spark, cfg) if incremental else None

    def _commit_hwm() -> None:
        if incremental and pending_mark is not None:
            inc = cfg.source.incremental
            _write_hwm(inc["stateFile"], inc["column"], pending_mark)

    def _write_extras() -> None:
        # fan-out: same clean frame, additional sinks. Each write re-runs
        # the (cheap, pushdown-pruned) plan; for expensive chains the
        # primary destination IS the materialization and extras would
        # read it back — the playbook analogue is chaining playbooks.
        for extra in cfg.destinations:
            write_sink(clean, extra.type, extra.file or "",
                       {**extra.options, **extra.loader})

    dst = cfg.destination
    loader_mode = str(dst.loader.get("mode", "")).lower()
    if dst.type in ("postgres", "jdbc") and loader_mode == "sql":
        opts = {**dst.options, **dst.loader}
        counts = write_jdbc_custom_sql(clean, dst.loader.get("command", ""), opts)
        _write_extras()
        _commit_hwm()
        # the custom-DML loader executes via an RDD action, which never
        # fires DataFrame observation listeners — obs.get would block
        # forever here. The loader's own counts are the output metric.
        return PipelineResult(clean, errors, written=True,
                              load_processed=counts["processed"],
                              load_failed=counts["failed"],
                              metrics={**stage_metrics,
                                       "rows_out": counts["processed"]
                                       + counts["failed"]})
    write_sink(clean, dst.type, dst.file or "", {**dst.options, **dst.loader})
    _write_extras()
    _commit_hwm()
    return PipelineResult(clean, errors, written=True, metrics=_metrics())
