"""Filter stage: govaluate predicate over source records, pre-transform
(reference: internal/app/app.go:150-164).

The reference evaluates the compiled expression per record and skips
records whose evaluation errors — writing them to the error file when one
is configured (app.go:156-161), but never halting on them. Here the
expression compiles to a Catalyst predicate: null results are the
eval-error analogue. ``apply_filter`` keeps only TRUE rows (nulls drop
with the falses — and the predicate pushes into the Parquet/JDBC scan, so
at 100 TB the filtered data is never read at all);
``apply_filter_with_errors`` keeps the null-predicate rows too, marked on
the error channel, for runs whose error file consumes them."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_tool_spark.expr import compile_filter
from etl_tool_spark.operators.errors import add_error, split_errors

FILTER_ERROR = "filter eval error"


def apply_filter(df: DataFrame, expression: str | None) -> DataFrame:
    if not expression:
        return df
    return df.filter(compile_filter(expression))


def apply_filter_with_errors(df: DataFrame,
                             expression: str | None) -> tuple[DataFrame, DataFrame]:
    """(channel, filter_errors) from one pass over ``df``: the channel
    keeps the rows whose predicate is TRUE or NULL and marks the NULL ones
    in ERROR_COL, so they ride the error channel through the later stages;
    ``filter_errors`` is those rows split from the channel (original
    record columns + etl_error_message), matching the reference's
    error-file rows for filter eval failures (app.go:156-161)."""
    if expression:
        pred = compile_filter(expression)
        df = add_error(df.filter(pred | pred.isNull()),
                       F.when(pred.isNull(), F.lit(FILTER_ERROR)))
    return df, split_errors(df).errors
