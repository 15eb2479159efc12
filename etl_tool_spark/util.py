"""Utility helpers mirroring internal/util/util.go: env-var expansion
(shared with plans.config) and credential masking for logs."""

from __future__ import annotations

import re

__all__ = ["mask_credentials", "mask_sensitive_fields", "SENSITIVE_KEY_RE",
           "bounded_collect", "guard_bridge_file",
           "DRIVER_COLLECT_MAX_ROWS", "DRIVER_PARSE_MAX_BYTES"]

#: Default row cap for parity-format sinks that materialize the frame
#: on the driver (JSON array / YAML / XML / XLSX documents). These
#: formats are single-document by the reference's contract — past ~1M
#: rows the stdlib writers would OOM the driver anyway, and the right
#: sink is parquet/orc/JSON-lines.
DRIVER_COLLECT_MAX_ROWS = 1_000_000

#: Default byte cap for sources parsed whole on the driver (YAML, XML,
#: XLSX stdlib bridges).
DRIVER_PARSE_MAX_BYTES = 256 * 1024 * 1024


def bounded_collect(rows_df, what: str, max_rows: int | None = None) -> list:
    """``df.collect()`` with a hard row cap: plans ``limit(cap+1)`` so
    the driver pulls AT MOST cap+1 rows even when the frame is data-
    sized, then fails fast with a clear error instead of OOMing.
    Partition order (what plain collect returns) is preserved."""
    cap = DRIVER_COLLECT_MAX_ROWS if max_rows is None else int(max_rows)
    rows = rows_df.limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"{what}: more than {cap} rows for a driver-side "
            "single-document output; use a distributed format "
            "(parquet/orc, or JSON-lines via arrayFile=false), or raise "
            "the 'driverCollectMaxRows' option")
    return rows


def guard_bridge_file(path: str, what: str,
                      max_bytes: int | None = None) -> str:
    """Fail fast when a driver-parsed source file exceeds the bridge
    cap — a clear error beats an OOM mid-parse. Missing files pass
    through (the parser raises its own, better error)."""
    import os

    cap = DRIVER_PARSE_MAX_BYTES if max_bytes is None else int(max_bytes)
    try:
        size = os.path.getsize(path)
    except OSError:
        return path
    if size > cap:
        raise ValueError(
            f"{what}: {path!r} is {size} bytes, over the {cap}-byte "
            "driver-parse cap; convert to a distributed format or raise "
            "the 'driverParseMaxBytes' option")
    return path


# key-name patterns considered sensitive (util.go:108-156)
SENSITIVE_KEY_RE = re.compile(
    r"password|secret|token|key|auth|credential|pass|pwd", re.IGNORECASE)

_URI_CRED_RE = re.compile(r"(//[^/@:]+):[^@/]+@")
_KV_CRED_RE = re.compile(
    r"\b(password|pwd|secret|token)(\s*=\s*)([^\s;&]+)", re.IGNORECASE)


def mask_credentials(uri: str) -> str:
    """Mask the password in connection URIs (postgres://u:pw@h/db →
    postgres://u:****@h/db) and in key=value conn strings
    (util.go:69-106)."""
    masked = _URI_CRED_RE.sub(r"\1:****@", uri)
    return _KV_CRED_RE.sub(r"\1\2****", masked)


def mask_sensitive_fields(record: dict) -> dict:
    """Mask values of sensitive-looking keys before logging a record
    (util.go:108-156)."""
    return {k: ("****" if SENSITIVE_KEY_RE.search(k) and v is not None else v)
            for k, v in record.items()}
