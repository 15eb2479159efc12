"""Per-record error channel: halt / skip / error-file.

The reference attributes the first failing rule's error to the record and
either aborts the job (``halt``, the default) or drops the record and
appends the *original* record plus ``etl_error_message`` to a CSV error
file (``skip``) — internal/processor/processor.go:94-101, error writer
internal/io/csv.go:354-518, defaults internal/config/load.go:50-60.

Spark-side design: one nullable string column (``ERROR_COL``) carries a
record's first error of any kind — filter-eval, mapping, errorOnNonList —
and the original record rides along as a struct column (``ORIG_COL``).
``split_errors`` splits that channel frame once, before flatten, so the
error file holds one row per errored source record."""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ERROR_COL = "_etl_error"
ORIG_COL = "_etl_orig"
SEQ_COL = "_etl_seq"
POS_COL = "_etl_pos"  # intra-parent position after flatten (encounter order)

ERROR_MESSAGE_FIELD = "etl_error_message"


class PipelineHaltError(RuntimeError):
    """Raised under errorHandling.mode=halt when any record errors."""


@dataclass
class SplitResult:
    clean: DataFrame
    errors: DataFrame  # original record columns + etl_error_message


def add_error(df: DataFrame, err: Column) -> DataFrame:
    """Mark ``err`` (null = none) into ERROR_COL; an earlier error wins."""
    if ERROR_COL in df.columns:
        err = F.coalesce(F.col(ERROR_COL), err)
    return df.withColumn(ERROR_COL, err)


def split_errors(df: DataFrame) -> SplitResult:
    """Split a frame carrying ERROR_COL/ORIG_COL into clean rows (error
    column dropped) and error rows (original record + message). The error
    frame never carries the internal seq/pos columns — the reference's
    error file holds original record fields + message only
    (csv.go:429-437)."""
    internal = [c for c in (SEQ_COL, POS_COL) if c in df.columns]
    if ERROR_COL not in df.columns:
        empty = (df.limit(0).drop(*internal)
                   .withColumn(ERROR_MESSAGE_FIELD, F.lit("")))
        return SplitResult(df, empty)
    clean = df.filter(F.col(ERROR_COL).isNull()).drop(ERROR_COL, ORIG_COL)
    err = df.filter(F.col(ERROR_COL).isNotNull())
    if ORIG_COL in df.columns:
        err = err.select(F.col(f"{ORIG_COL}.*"),
                         F.col(ERROR_COL).alias(ERROR_MESSAGE_FIELD))
    else:
        err = err.drop(*internal).withColumnRenamed(ERROR_COL, ERROR_MESSAGE_FIELD)
    return SplitResult(clean, err)


def write_error_file(errors: DataFrame, path: str) -> None:
    """Append error rows as CSV with sorted columns + etl_error_message
    last (reference header convention, csv.go:429-437). Complex-typed
    original-record fields (arrays/structs/maps) are stringified the same
    way the main CSV sink renders them — the reference's error writer uses
    the same %v rendering as its data writer (csv.go:448-462), and Spark's
    CSV datasource would otherwise reject the write outright."""
    from etl_tool_spark.sources.sinks import _stringify_complex

    cols = sorted(c for c in errors.columns if c != ERROR_MESSAGE_FIELD)
    out = _stringify_complex(errors.select(*cols, ERROR_MESSAGE_FIELD))
    out.write.mode("append").option("header", True).csv(path)


def halt_if_errors(errors: DataFrame) -> None:
    """mode=halt: fail fast on the first errored record. ``limit(1)`` keeps
    the scan short-circuiting — Spark stops as soon as one row is found."""
    first = errors.limit(1).collect()
    if first:
        msg = first[0][ERROR_MESSAGE_FIELD]
        raise PipelineHaltError(f"record failed transformation: {msg}")
