"""Flatten (explode) stage.

Reference semantics (internal/processor/processor.go:170-230):
  * optional equality gate: if ``conditionField`` is set and the record's
    (stringified) value != ``conditionValue`` ⇒ record passes through
    UNFLATTENED (keeps the source field, no target field);
  * source field missing/nil or non-list ⇒ silently drop the record, or
    error when ``errorOnNonList`` (feeds the error channel);
  * empty list ⇒ zero output records;
  * otherwise one output record per item, item bound to ``targetField``;
    with ``includeParent`` (default true) all parent fields are copied
    minus the source field; with false the output record is only
    ``{targetField: item}``.
  * ``sourceField`` may be a dot-notation path into nested structs
    (getNestedField, processor.go:233-245).

Spark compilation: ``F.explode`` (which already drops null/empty arrays,
matching the default path) on the gated subset, unioned by name with the
pass-through subset. Exploding is fully parallel — no driver involvement.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_tool_spark.operators.errors import (ERROR_COL, ORIG_COL, POS_COL,
                                             SEQ_COL, add_error)


def _resolve_path(df: DataFrame, path: str) -> Column | None:
    """Dot-path → Column, or None when the path can't exist in the schema."""
    parts = path.split(".")
    if parts[0] not in df.columns:
        return None
    col = F.col(f"`{parts[0]}`")
    for p in parts[1:]:
        col = col.getField(p)
    return col


def _is_array_path(df: DataFrame, path: str) -> bool:
    from pyspark.sql.types import ArrayType, StructType

    parts = path.split(".")
    schema = df.schema
    cur = None
    for i, p in enumerate(parts):
        if not isinstance(schema, StructType) or p not in schema.fieldNames():
            return False
        cur = schema[p].dataType
        schema = cur
    return isinstance(cur, ArrayType)


def _gate(df: DataFrame, condition_field: str | None,
          condition_value: str | None) -> Column | None:
    """conditionField gate, TRUE ⇒ flatten; None = no condition."""
    if not condition_field:
        return None
    cond_col = _resolve_path(df, condition_field)
    if cond_col is None:
        return F.lit(False)
    return cond_col.isNotNull() & (cond_col.cast("string") == F.lit(condition_value or ""))


def non_list_error(df: DataFrame, source_field: str,
                   condition_field: str | None = None,
                   condition_value: str | None = None) -> Column:
    """errorOnNonList's message for each record the gate admits whose
    source field is missing, nil or not a list: a pipeline can check it
    before the explode and split errored records off unflattened."""
    src = _resolve_path(df, source_field)
    if src is not None and _is_array_path(df, source_field):
        err = F.when(src.isNull(),
                     F.lit(f"flattening source field '{source_field}' not found or is nil"))
    else:
        err = F.lit(f"flattening source field '{source_field}' not found or is not a list")
    gate = _gate(df, condition_field, condition_value)
    return err if gate is None else F.when(gate, err)


def flatten(df: DataFrame, source_field: str, target_field: str,
            include_parent: bool = True, error_on_non_list: bool = False,
            condition_field: str | None = None,
            condition_value: str | None = None) -> DataFrame:
    if condition_field and _resolve_path(df, condition_field) is None:
        # condition field can never match ⇒ everything passes through
        return df
    gate = _gate(df, condition_field, condition_value)
    if error_on_non_list:
        # errored records (this check's or an earlier stage's) pass through
        df = add_error(df, non_list_error(df, source_field, condition_field,
                                          condition_value))
        ok = F.col(ERROR_COL).isNull()
        gate = ok if gate is None else gate & ok

    src = _resolve_path(df, source_field)
    src_is_array = src is not None and _is_array_path(df, source_field)

    if gate is not None:
        to_flatten = df.filter(gate)
        passthrough = df.filter(~F.coalesce(gate, F.lit(False)))
    else:
        to_flatten = df
        passthrough = None

    if src is None or not src_is_array:
        # column missing entirely or statically non-list: records dropped
        flattened = to_flatten.limit(0)
        if target_field not in flattened.columns:
            flattened = flattened.withColumn(target_field, F.lit(None).cast("string"))
    else:
        # posexplode drops null AND empty arrays (the reference default) and
        # keeps the intra-parent position so first/last dedup has true
        # per-flattened-record encounter order (processor.go:204-227)
        exploded = to_flatten.select("*", F.posexplode(src).alias(POS_COL, target_field))
        if include_parent:
            flattened = _drop_path(exploded, source_field)
        else:
            keep = [target_field] + [c for c in (ERROR_COL, ORIG_COL, SEQ_COL, POS_COL)
                                     if c in exploded.columns]
            flattened = exploded.select(*keep)

    if passthrough is not None:
        return flattened.unionByName(passthrough, allowMissingColumns=True)
    return flattened


def _drop_path(df: DataFrame, path: str) -> DataFrame:
    """Remove a (possibly nested) field — removeNestedField parity
    (processor.go:248-273)."""
    parts = path.split(".")
    if len(parts) == 1:
        return df.drop(parts[0])
    root = parts[0]
    if root not in df.columns:
        return df
    return df.withColumn(root, F.col(f"`{root}`").dropFields(".".join(parts[1:])))
