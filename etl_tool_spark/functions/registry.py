"""The mapping-rule transform registry: 26 Column-builder functions.

Mirrors the reference registry (internal/transform/transform.go:49-81;
dispatch transform.go:87-138) — same names (matched lowercase), same
permissive/strict semantics — but each function compiles to a built-in
Catalyst expression instead of a per-record Go call, so the whole mapping
chain stays inside whole-stage codegen.

Contract: every builder returns ``TransformResult(value, error)``.
``error`` is a nullable string Column — non-null means this rule failed
for the row and feeds the error channel (halt/skip, processor.go:94-101).
Permissive functions never set ``error`` (they yield null / pass-through
like the reference); ``must*`` / ``validate*`` functions do.

Plan-time validation (unknown names, bad params, regex compilation,
md5-under-FIPS) raises ``TransformError`` before any data is read,
mirroring internal/config/validation.go:288-580.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

from etl_tool_spark.datefmt import (
    FALLBACK_JVM_PATTERNS,
    RFC3339_JVM,
    go_layout_to_jvm,
    parse_candidates,
)
from etl_tool_spark.expr import translate
from etl_tool_spark.functions.coerce import (
    MISSING_MARKER,
    canonical_for_hash,
    coerce_bool,
    coerce_double,
    coerce_long,
    go_to_string,
)

__all__ = ["TRANSFORMS", "TransformResult", "TransformError", "build_transform",
           "apply_transform"]


class TransformError(ValueError):
    """Plan-time transform configuration error."""


@dataclass
class TransformResult:
    value: Column
    error: Column | None = None


@dataclass
class Ctx:
    """What a builder may inspect: the working frame's column→dtype map
    (the reference's `currentRecordState`), the rule's source column+type,
    and engine options."""

    dtypes: dict[str, str]
    source: str | None
    fips: bool = False

    def col(self, name: str) -> Column:
        if name in self.dtypes:
            return F.col(f"`{name}`")
        return F.lit(None)  # missing field ⇒ nil (processor.go:151)

    def dtype(self, name: str) -> str | None:
        return self.dtypes.get(name)


def _is_string(dtype: str | None) -> bool:
    return dtype is None or dtype.lower() == "string"


# --------------------------------------------------------------------------
# Conversions (permissive)
# --------------------------------------------------------------------------

def t_to_string(col, dtype, params, ctx):
    return TransformResult(go_to_string(col, dtype))


def t_to_int(col, dtype, params, ctx):
    return TransformResult(coerce_long(col, dtype))


def t_to_float(col, dtype, params, ctx):
    return TransformResult(coerce_double(col, dtype))


def t_to_bool(col, dtype, params, ctx):
    return TransformResult(coerce_bool(col, dtype))


# timestamp_seconds holds microseconds in a long: beyond Long.MAX / 1e6
# seconds it raises 'long overflow' under ANSI mode
_MAX_EPOCH_S = 9_223_372_036_854


def _epoch_secs(col, dtype) -> Column:
    """epoch seconds (loose-parsed, truncated); NULL for NaN, ±inf and
    values no timestamp can hold (Spark orders NaN above +inf, so the
    range test excludes all three)."""
    d = coerce_double(col, dtype)
    return F.when(d.between(-_MAX_EPOCH_S, _MAX_EPOCH_S),
                  F.floor(d).cast("long"))


def _epoch_date(col, dtype) -> Column:
    """epoch seconds → 'yyyy-MM-dd' UTC string."""
    return F.date_format(F.timestamp_seconds(_epoch_secs(col, dtype)),
                         "yyyy-MM-dd")


def t_epoch_to_date(col, dtype, params, ctx):
    # unparseable ⇒ pass-through original (transform.go:148-153); the output
    # column is string-typed so the pass-through is the %v rendering.
    converted = _epoch_date(col, dtype)
    return TransformResult(F.coalesce(converted, go_to_string(col, dtype)))


def _parse_ts(col: Column, dtype: str | None, input_format: str | None) -> Column:
    """String→timestamp with the reference's format fallback chain
    (transform.go:332-359); timestamp input passes straight through."""
    if dtype and dtype.lower().startswith(("timestamp", "date")):
        return col.cast("timestamp")
    s = col.cast("string")

    def attempt(pattern: str) -> Column:
        strip_re, pat = parse_candidates(pattern)
        inp = F.regexp_replace(s, strip_re, "") if strip_re else s
        return F.try_to_timestamp(inp, F.lit(pat))

    if input_format:
        return attempt(go_layout_to_jvm(input_format))
    cands = [attempt(RFC3339_JVM)]
    cands += [attempt(p) for p in FALLBACK_JVM_PATTERNS]
    return F.coalesce(*cands)


def t_date_convert(col, dtype, params, ctx):
    out_fmt = go_layout_to_jvm(params.get("outputFormat") or "2006-01-02T15:04:05Z07:00")
    ts = _parse_ts(col, dtype, params.get("inputFormat"))
    converted = F.date_format(ts, out_fmt)
    return TransformResult(F.coalesce(converted, go_to_string(col, dtype)))


def t_multi_date_convert(col, dtype, params, ctx):
    formats = params.get("formats")
    if not isinstance(formats, list) or not formats:
        raise TransformError("multiDateConvert requires a non-empty 'formats' list")
    out = params.get("outputFormat")
    if not out:
        raise TransformError("multiDateConvert requires 'outputFormat'")
    s = col.cast("string")
    cands = [F.try_to_timestamp(s, F.lit(go_layout_to_jvm(f))) for f in formats]
    converted = F.date_format(F.coalesce(*cands), go_layout_to_jvm(out))
    return TransformResult(F.coalesce(converted, go_to_string(col, dtype)))


def t_calculate_age(col, dtype, params, ctx):
    # whole days between UTC date(epoch) and today; future ⇒ 0; fail ⇒ nil
    secs = _epoch_secs(col, dtype)
    days = F.datediff(F.current_date(), F.to_date(F.timestamp_seconds(secs)))
    return TransformResult(F.when(days.isNotNull(), F.greatest(F.lit(0), days)))


# --------------------------------------------------------------------------
# Conversions (strict must*)
# --------------------------------------------------------------------------

def _err(cond: Column, msg: str) -> Column:
    return F.when(cond, F.lit(msg))


def t_must_to_int(col, dtype, params, ctx):
    v = coerce_long(col, dtype)
    return TransformResult(v, _err(v.isNull(), "mustToInt: cannot convert value to integer"))


def t_must_to_float(col, dtype, params, ctx):
    v = coerce_double(col, dtype)
    return TransformResult(v, _err(v.isNull(), "mustToFloat: cannot convert value to float"))


def t_must_to_bool(col, dtype, params, ctx):
    # unlike toBool, nil and "" are errors (transform.go:694-727)
    v = coerce_bool(col, dtype)
    empty_str = _is_string(dtype) and True
    bad = v.isNull() | col.isNull()
    if empty_str:
        bad = bad | (F.trim(col.cast("string")) == "")
    # toBool maps ""→false, but mustToBool rejects it, so recompute: a row
    # is an error if input is null/"" or the loose parse yields null.
    return TransformResult(v, _err(bad, "mustToBool: cannot convert value to boolean"))


def t_must_epoch_to_date(col, dtype, params, ctx):
    converted = _epoch_date(col, dtype)
    return TransformResult(converted,
                           _err(converted.isNull(), "mustEpochToDate: cannot parse epoch"))


def t_must_date_convert(col, dtype, params, ctx):
    out_fmt = go_layout_to_jvm(params.get("outputFormat") or "2006-01-02T15:04:05Z07:00")
    ts = _parse_ts(col, dtype, params.get("inputFormat"))
    converted = F.date_format(ts, out_fmt)
    return TransformResult(converted,
                           _err(converted.isNull(), "mustDateConvert: cannot parse date"))


# --------------------------------------------------------------------------
# String functions (non-string values pass through unchanged)
# --------------------------------------------------------------------------

def t_trim(col, dtype, params, ctx):
    if not _is_string(dtype):
        return TransformResult(col)
    return TransformResult(F.trim(col))


def t_upper(col, dtype, params, ctx):
    if not _is_string(dtype):
        return TransformResult(col)
    return TransformResult(F.upper(col))


def t_lower(col, dtype, params, ctx):
    if not _is_string(dtype):
        return TransformResult(col)
    return TransformResult(F.lower(col))


def t_replace_all(col, dtype, params, ctx):
    if "old" not in params or "new" not in params:
        raise TransformError("replaceAll requires 'old' and 'new' params")
    if not _is_string(dtype):
        return TransformResult(col)
    return TransformResult(F.replace(col, F.lit(str(params["old"])), F.lit(str(params["new"]))))


def t_substring(col, dtype, params, ctx):
    # rune-based 0-indexed start/length with clamping (transform.go:497-531)
    try:
        start = int(params["start"])
        length = int(params["length"])
    except (KeyError, TypeError, ValueError) as e:
        raise TransformError("substring requires integer 'start' and 'length'") from e
    if not _is_string(dtype):
        return TransformResult(col)
    start = max(0, start)
    if length <= 0:
        return TransformResult(F.when(col.isNull(), col).otherwise(F.lit("")))
    sub = F.substring(col, start + 1, length)  # Spark is 1-based, codepoint-safe
    return TransformResult(F.when(F.length(col) <= start, F.lit("")).otherwise(sub))


def t_regex_extract(col, dtype, params, ctx):
    pattern = params.get("pattern")
    if not pattern:
        raise TransformError("regexExtract requires 'pattern'")
    try:
        ngroups = re.compile(pattern).groups
    except re.error as e:
        raise TransformError(f"regexExtract: bad pattern: {e}") from e
    if not _is_string(dtype):
        return TransformResult(F.lit(None).cast("string"))  # non-string ⇒ nil
    if ngroups < 1:
        return TransformResult(F.lit(None).cast("string"))  # no capture group ⇒ nil
    # reference returns nil on no-match; Spark regexp_extract returns "" —
    # gate on rlike so a genuinely-empty capture still comes through.
    extracted = F.regexp_extract(col, pattern, 1)
    return TransformResult(F.when(col.rlike(pattern), extracted))


# --------------------------------------------------------------------------
# Multi-field / conditional / crypto
# --------------------------------------------------------------------------

def t_coalesce(col, dtype, params, ctx):
    fields = params.get("fields")
    if not isinstance(fields, list) or not fields:
        raise TransformError("coalesce requires a non-empty 'fields' list")
    # first field whose value is non-nil and (if string) non-empty
    # (transform.go:534-570); the rule's own source value is ignored.
    branches = []
    dtypes = [ctx.dtype(f) for f in fields]
    uniform = len({d for d in dtypes if d is not None}) <= 1
    for f, d in zip(fields, dtypes):
        c = ctx.col(f)
        if not uniform:
            c = go_to_string(c, d)  # mixed types: canonical string rendering
        cond = c.isNotNull()
        if _is_string(d):
            cond = cond & (c.cast("string") != "")
        branches.append(F.when(cond, c))
    return TransformResult(F.coalesce(*branches))


def t_branch(col, dtype, params, ctx):
    branches = params.get("branches")
    if not isinstance(branches, list) or not branches:
        raise TransformError("branch requires a non-empty 'branches' list")

    def resolver(name: str):
        if name == "inputValue":
            return col
        return None

    result = None
    out_is_str = any(isinstance(b.get("value"), str) for b in branches)

    def render(v):
        if out_is_str and v is not None and not isinstance(v, str):
            return str(v)
        return v

    for b in reversed(branches):
        if "condition" not in b:
            raise TransformError("branch: every branch needs a 'condition'")
        cond = translate(str(b["condition"]), resolver=resolver)
        val = F.lit(render(b.get("value")))
        tail = result if result is not None else (go_to_string(col, dtype) if out_is_str else col)
        result = F.when(cond, val).otherwise(tail)
    return TransformResult(result)


_HASH_ALGOS = {"sha256", "sha512", "md5"}


def t_hash(col, dtype, params, ctx):
    algo = str(params.get("algorithm", "")).lower()
    fields = params.get("fields")
    if algo not in _HASH_ALGOS:
        raise TransformError(f"hash: unsupported algorithm {algo!r}")
    if ctx.fips and algo == "md5":
        raise TransformError("hash algorithm 'md5' not allowed in FIPS mode")
    if not isinstance(fields, list) or not fields:
        raise TransformError("hash requires a non-empty 'fields' list")
    parts = []
    for name in sorted(str(f) for f in fields):  # sorted names (transform.go:631)
        d = ctx.dtype(name)
        if d is None:
            parts.append(F.lit(MISSING_MARKER))
        else:
            parts.append(canonical_for_hash(ctx.col(name), d))
    payload = F.concat_ws("||", *parts)
    if algo == "sha256":
        return TransformResult(F.sha2(payload, 256))
    if algo == "sha512":
        return TransformResult(F.sha2(payload, 512))
    return TransformResult(F.md5(payload))


# --------------------------------------------------------------------------
# Validations (value passes through; error marker on failure)
# --------------------------------------------------------------------------

def t_validate_required(col, dtype, params, ctx):
    bad = col.isNull()
    if _is_string(dtype):
        bad = bad | (F.trim(col.cast("string")) == "")
    return TransformResult(col, _err(bad, "validateRequired: value is missing or blank"))


def t_validate_regex(col, dtype, params, ctx):
    pattern = params.get("pattern")
    if not pattern:
        raise TransformError("validateRegex requires 'pattern'")
    try:
        re.compile(pattern)
    except re.error as e:
        raise TransformError(f"validateRegex: bad pattern: {e}") from e
    if not _is_string(dtype):
        return TransformResult(col)  # non-strings pass (transform.go:826-830)
    bad = col.isNotNull() & ~col.rlike(pattern)
    return TransformResult(col, _err(bad, f"validateRegex: value does not match {pattern!r}"))


def t_validate_numeric_range(col, dtype, params, ctx):
    lo = params.get("min")
    hi = params.get("max")
    if lo is None and hi is None:
        raise TransformError("validateNumericRange requires 'min' and/or 'max'")
    num = coerce_double(col, dtype)
    bad = F.lit(False)
    if lo is not None:
        bad = bad | (num < float(lo))
    if hi is not None:
        bad = bad | (num > float(hi))
    bad = num.isNotNull() & bad  # non-numerics pass (transform.go:850-856)
    return TransformResult(col, _err(bad, "validateNumericRange: value out of range"))


def t_validate_allowed_values(col, dtype, params, ctx):
    values = params.get("values")
    if not isinstance(values, list) or not values:
        raise TransformError("validateAllowedValues requires a non-empty 'values' list")
    # CompareValues cross-type equality: numeric-vs-numeric compared as
    # double (so 10 == "10"), else string equality (transform.go:1052-1117).
    num_allowed = []
    str_allowed = []
    for v in values:
        try:
            num_allowed.append(float(v))
        except (TypeError, ValueError):
            pass
        str_allowed.append(str(v))
    num = coerce_double(col, dtype)
    ok = F.lit(False)
    if num_allowed:
        ok = ok | (num.isNotNull() & num.isin(num_allowed))
    ok = ok | (num.isNull() & col.cast("string").isin(str_allowed))
    bad = ~F.coalesce(ok, F.lit(False))  # nil never equals an allowed value
    return TransformResult(col, _err(bad, "validateAllowedValues: value not in allowed set"))


# --------------------------------------------------------------------------
# LLM-data scoring transforms: declarative playbook access to the text
# analyzers (llm/text.py). Pure Column builders like the core 26 —
# `mappings: [{source: text, target: lang, transform: languageId}]`
# filters a corpus without leaving YAML.
# --------------------------------------------------------------------------

def _text_transform(load_fn, fips_md5: bool = False):
    """Factory for string-in Column-out analyzer wrappers — one place
    for the cast, the FIPS gate, and future param plumbing."""
    def builder(col: Column, dtype, params, ctx) -> TransformResult:
        if fips_md5 and ctx.fips:
            raise TransformError(
                "fingerprint is md5-based and not allowed in FIPS mode")
        return TransformResult(load_fn(params)(col.cast("string")))
    return builder


def _load_language_id(params):
    from etl_tool_spark.llm.text import language_id
    return language_id


def _load_quality_score(params):
    from etl_tool_spark.llm.text import quality_features
    return lambda c: quality_features(c)["quality_score"]


def _load_token_count(params):
    from etl_tool_spark.llm.text import token_count
    return token_count


def _load_fingerprint(params):
    from etl_tool_spark.llm.text import fingerprint
    return fingerprint


def _load_redact_pii(params):
    from etl_tool_spark.llm.prep import redact_pii
    return redact_pii


def _load_normalize_url(params):
    from etl_tool_spark.llm.prep import normalize_url
    strip_www = bool(params.get("stripWww", True))
    return lambda c: normalize_url(c, strip_www=strip_www)


def _load_compression_ratio(params):
    from etl_tool_spark.llm.text import compression_ratio
    level = int(params.get("level", 6))
    return lambda c: compression_ratio(c, level=level)


t_language_id = _text_transform(_load_language_id)
t_quality_score = _text_transform(_load_quality_score)
t_token_count = _text_transform(_load_token_count)
t_fingerprint = _text_transform(_load_fingerprint, fips_md5=True)
t_redact_pii = _text_transform(_load_redact_pii)
t_normalize_url = _text_transform(_load_normalize_url)
t_compression_ratio = _text_transform(_load_compression_ratio)


# --------------------------------------------------------------------------
# Registry + dispatch
# --------------------------------------------------------------------------

TRANSFORMS = {
    "tostring": t_to_string,
    "toint": t_to_int,
    "tofloat": t_to_float,
    "tobool": t_to_bool,
    "epochtodate": t_epoch_to_date,
    "dateconvert": t_date_convert,
    "multidateconvert": t_multi_date_convert,
    "calculateage": t_calculate_age,
    "musttoint": t_must_to_int,
    "musttofloat": t_must_to_float,
    "musttobool": t_must_to_bool,
    "mustepochtodate": t_must_epoch_to_date,
    "mustdateconvert": t_must_date_convert,
    "trim": t_trim,
    "touppercase": t_upper,
    "tolowercase": t_lower,
    "replaceall": t_replace_all,
    "substring": t_substring,
    "regexextract": t_regex_extract,
    "coalesce": t_coalesce,
    "branch": t_branch,
    "hash": t_hash,
    "validaterequired": t_validate_required,
    "validateregex": t_validate_regex,
    "validatenumericrange": t_validate_numeric_range,
    "validateallowedvalues": t_validate_allowed_values,
    # beyond-reference: LLM-data scoring (llm/text.py, llm/prep.py)
    "languageid": t_language_id,
    "qualityscore": t_quality_score,
    "tokencount": t_token_count,
    "fingerprint": t_fingerprint,
    "redactpii": t_redact_pii,
    "normalizeurl": t_normalize_url,
    "compressionratio": t_compression_ratio,
}

# transforms whose shorthand suffix ("name:xyz") becomes the 'pattern' param
_SHORTHAND_PATTERN = {"regexextract", "validateregex"}


def register_transform(name: str, fn) -> None:
    """User-extension point (the reference's registry is a closed
    compile-time Go map, transform.go:46-81 — here it's open). ``fn``
    has the builder signature ``(col, dtype, params, ctx) ->
    TransformResult`` and must be a pure Column construction: returning
    built-in-function Columns keeps user transforms inside codegen, the
    same contract the core 26 follow."""
    key = name.strip().lower()
    if not key:
        raise TransformError("transform name must be non-empty")
    TRANSFORMS[key] = fn


def build_transform(name: str, params: dict | None, col: Column,
                    dtype: str | None, ctx: Ctx) -> TransformResult:
    """Dispatch like transform.ApplyTransform (transform.go:87-138):
    lowercase lookup; ``name:shorthand`` feeds the 'pattern' param for
    regexExtract/validateRegex; unknown name ⇒ pass-through original
    value with a warning (transform.go:96-99)."""
    params = dict(params or {})
    raw = name.strip()
    key = raw.lower()
    if ":" in raw:
        base, _, shorthand = raw.partition(":")
        if base.lower() in _SHORTHAND_PATTERN:
            key = base.lower()
            params.setdefault("pattern", shorthand)
    fn = TRANSFORMS.get(key)
    if fn is None:
        if key in ("", "none"):
            return TransformResult(col)
        import warnings

        warnings.warn(f"unknown transform {name!r}: passing value through", stacklevel=2)
        return TransformResult(col)
    return fn(col, dtype, params, ctx)


def apply_transform(name: str, params: dict | None, col: Column,
                    dtype: str | None = None,
                    dtypes: dict[str, str] | None = None,
                    source: str | None = None,
                    fips: bool = False) -> TransformResult:
    """Convenience wrapper building a Ctx from loose arguments."""
    return build_transform(name, params, col, dtype, Ctx(dtypes or {}, source, fips))
