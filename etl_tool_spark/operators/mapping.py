"""Mapping / projection chain.

Reference semantics (internal/processor/processor.go:144-167): an ordered
list of ``{source, target, transform, params}`` rules; each rule reads
from ``currentRecordState`` = original fields ∪ previously-written
targets (so later rules can consume earlier targets, and targets may
shadow source names); missing source ⇒ nil input; the output record
contains ONLY the mapping targets; the first failing rule attributes its
error to the record (error channel) and the ORIGINAL record goes to the
error file.

Spark compilation: one ``withColumn`` per rule over a working frame (the
frame itself is the record state — original columns plus written
targets), error-marker columns coalesced in rule order (first error
wins), original record snapshotted once into a struct column for the
error path, and a final targets-only ``select``. The entire chain is a
single projection pipeline for Catalyst — it collapses into one
whole-stage-codegen'd Project node."""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_tool_spark.functions.registry import Ctx, TransformError, build_transform
from etl_tool_spark.operators.errors import ERROR_COL, ORIG_COL


@dataclass
class MappingRule:
    source: str
    target: str
    transform: str | None = None
    params: dict = field(default_factory=dict)


def _normalize(rules: list) -> list[MappingRule]:
    out = []
    for r in rules:
        if isinstance(r, MappingRule):
            out.append(r)
        else:
            out.append(MappingRule(
                source=r.get("source", ""),
                target=r["target"],
                transform=r.get("transform"),
                params=r.get("params") or {},
            ))
    return out


def apply_mappings(df: DataFrame, rules: list, fips: bool = False,
                   keep_error_channel: bool = True,
                   extra_keep: tuple[str, ...] = ()) -> DataFrame:
    """Compile the mapping chain onto ``df``.

    Returns a frame with columns = targets (+ ERROR_COL/ORIG_COL when
    ``keep_error_channel`` and any rule can fail or ``df`` already
    carries ERROR_COL, + ``extra_keep`` passthrough columns such as the
    _seq ordering column)."""
    rules = _normalize(rules)
    if not rules:
        return df

    targets: list[str] = []
    seen_targets: set[str] = set()
    for r in rules:
        if r.target in seen_targets:
            raise TransformError(f"duplicate mapping target {r.target!r}")
        seen_targets.add(r.target)
        targets.append(r.target)

    from etl_tool_spark.operators.errors import SEQ_COL

    original_cols = [c for c in df.columns if c not in (ERROR_COL, ORIG_COL, SEQ_COL)]
    work = df
    if keep_error_channel and ORIG_COL not in df.columns:
        work = work.withColumn(ORIG_COL, F.struct(*[F.col(f"`{c}`") for c in original_cols]))

    # a row that arrives errored (filter-eval) keeps its error and is not
    # mapped: CASE WHEN evaluates no rule on it, so none can raise there
    error_markers = ([F.col(ERROR_COL)]
                     if keep_error_channel and ERROR_COL in df.columns else [])
    guard = F.col(ERROR_COL).isNull() if error_markers else None
    for idx, rule in enumerate(rules):
        dtypes = {name: dt for name, dt in work.dtypes
                  if name not in (ERROR_COL, ORIG_COL)}
        ctx = Ctx(dtypes=dtypes, source=rule.source, fips=fips)
        src_col = ctx.col(rule.source) if rule.source else F.lit(None)
        src_dtype = ctx.dtype(rule.source)
        result = build_transform(rule.transform or "", rule.params, src_col, src_dtype, ctx)
        value, error = result.value, result.error
        if guard is not None:
            value = F.when(guard, value)
            error = None if error is None else F.when(guard, error)
        work = work.withColumn(rule.target, value)
        if error is not None:
            # first-error-wins: tag with rule context like processor.go:157
            error_markers.append(
                F.when(error.isNotNull(),
                       F.concat(F.lit(f"mapping rule {idx} (target '{rule.target}'): "),
                                error)))

    keep = list(targets) + [c for c in extra_keep if c in work.columns and c not in targets]
    if keep_error_channel and error_markers:
        err = F.coalesce(*error_markers) if len(error_markers) > 1 else error_markers[0]
        work = work.withColumn(ERROR_COL, err)
        return work.select(*[F.col(f"`{c}`") for c in keep], ORIG_COL, ERROR_COL)
    if keep_error_channel and ORIG_COL in work.columns:
        work = work.drop(ORIG_COL)
    return work.select(*[F.col(f"`{c}`") for c in keep])
