"""Sink writers.

Reference conventions being matched (internal/io/csv.go:139-337,
json.go:46-94, xlsx.go:175-304, xml.go:139-262, yaml.go:67-127,
postgres.go:264-532): columns sorted alphabetically on write; CSV nil →
""; JSON output is a single pretty array; XLSX one sheet; XML
<records><record><field>…; Postgres COPY-style bulk append or custom
per-record DML with $1..$N placeholders bound in alphabetical
target-field order.

Two write modes:
  * parity mode (default for the document formats): single file like the
    reference — fine for the small outputs those formats imply;
  * scale mode (csv/json/parquet/orc dirs, jdbc): Spark-native partitioned
    writers, the 100 TB path.
"""

from __future__ import annotations

import json as _json
import math
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_tool_spark.operators.errors import ERROR_COL, ORIG_COL, POS_COL, SEQ_COL
from etl_tool_spark.util import bounded_collect


class SinkError(ValueError):
    pass


def _clean(df: DataFrame) -> DataFrame:
    drop = [c for c in (ERROR_COL, ORIG_COL, SEQ_COL, POS_COL) if c in df.columns]
    return df.drop(*drop) if drop else df


def _sorted_cols(df: DataFrame) -> DataFrame:
    return df.select(*[F.col(f"`{c}`") for c in sorted(df.columns)])


def _stringify_complex(df: DataFrame) -> DataFrame:
    """CSV/XLSX can't hold arrays/structs/maps; the reference renders them
    with Go %v (csv.go:243-249). Cast to Spark's string rendering."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    for f in df.schema.fields:
        if isinstance(f.dataType, (ArrayType, MapType, StructType)):
            df = df.withColumn(f.name, F.col(f"`{f.name}`").cast("string"))
    return df


def write_csv(df: DataFrame, path: str, options: dict[str, Any]) -> None:
    out = _stringify_complex(_sorted_cols(_clean(df)))
    single = options.get("singleFile", True)
    if single:
        out = out.coalesce(1)
    (out.write.mode(options.get("mode", "overwrite"))
        .option("header", True)
        .option("emptyValue", "")  # nil/missing → "" (csv.go:243-249)
        .option("nullValue", "")
        .option("sep", options.get("delimiter", ","))
        .csv(path))


def write_json(df: DataFrame, path: str, options: dict[str, Any]) -> None:
    out = _sorted_cols(_clean(df))
    if options.get("arrayFile", True):
        # parity: one indented JSON array document (json.go:46-94).
        # Collect happens on the driver — parity mode targets document-sized
        # outputs; use arrayFile=False (JSON-lines dir) at scale. The
        # row cap fails fast instead of OOMing the driver.
        records = [r.asDict(recursive=True) for r in bounded_collect(
            out, "json arrayFile sink", options.get("driverCollectMaxRows"))]
        with open(path, "w") as f:
            _json.dump(records, f, indent=2, default=str)
    else:
        out.write.mode(options.get("mode", "overwrite")).json(path)


_Z_BITS = 8  # quantile buckets per z-order dimension (256 each)


def _murmur3_int32(v: int, seed: int = 42) -> int:
    """Murmur3_x86_32.hashInt — the hash Spark's HashPartitioning
    applies to an IntegerType column (seed 42), reimplemented so the
    driver can pick partition-routing tokens without a Spark job.
    Returns the signed int32 Spark produces (pinned against F.hash in
    tests)."""
    M = 0xFFFFFFFF
    k = (v & M) * 0xCC9E2D51 & M
    k = ((k << 15) | (k >> 17)) & M
    k = k * 0x1B873593 & M
    h = (seed ^ k) & M
    h = ((h << 13) | (h >> 19)) & M
    h = (h * 5 + 0xE6546B64) & M
    h ^= 4  # fmix(h ^ len=4 bytes)
    h ^= h >> 16
    h = h * 0x85EBCA6B & M
    h ^= h >> 13
    h = h * 0xC2B2AE35 & M
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def _partition_tokens(n: int) -> list[int]:
    """token[p] = the smallest int whose murmur3 hash pmods to p — so
    ``repartition(n, token_col)`` places rows tagged token[p] in exactly
    output partition p. This is how an explicit range partitioner is
    expressed through the DataFrame API: compute the range bucket as an
    expression, map bucket → token, hash-repartition on the token.
    Expected n·H(n) ≈ n·ln n probes; driver-side, microseconds."""
    tokens: list[int | None] = [None] * n
    found = t = 0
    while found < n:
        if tokens[_murmur3_int32(t) % n] is None:  # % == pmod on ints
            tokens[_murmur3_int32(t) % n] = t
            found += 1
        t += 1
    return tokens  # type: ignore[return-value]


def _rank_pmf(bs: list[float]):
    """Approximate pmf of the quantile-rank value (0..2^Z_BITS-1) a
    column's rows take under boundary list ``bs`` — derived from the
    boundaries ALONE, on the driver. Each of the 256 inter-boundary
    slots carries 1/256 of the rows; a run of DUPLICATE boundaries is a
    point mass whose rank is the index past the run (rank = #bs ≤ v,
    duplicates included) — the duplicate-boundary handling that keeps
    low-cardinality columns from fooling the estimate."""
    import bisect

    import numpy as np

    m = len(bs)
    mass = np.zeros(m + 1)
    for j in range(m + 1):
        lo = bs[j - 1] if j > 0 else None
        hi = bs[j] if j < m else None
        if lo is not None and hi is not None and lo == hi:
            r = bisect.bisect_right(bs, lo)  # point mass at duplicate
        else:
            r = j
        mass[r] += 1.0 / (m + 1)
    return mass[:m + 1]


def _morton_range_bounds(bounds: list[list[float]], k: int,
                         n: int) -> list[int] | None:
    """Driver-derived morton range boundaries for ``n`` partitions —
    the explicit range partitioner that replaces repartitionByRange's
    SAMPLING PASS (which re-evaluated the whole rank+morton expression
    over every row just to learn ranges the quantile grid already
    implies). The joint rank distribution is estimated as the product
    of the per-column rank pmfs (exact for k=1; an independence
    approximation for k=2 whose error costs only file-size balance,
    never correctness — every partition still covers a contiguous
    morton range, so min/max pruning is unaffected). Returns the n-1
    boundary values, or None when the rank grid is too large to
    enumerate (k > 2) or a column has no boundaries (an empty frame or
    an all-null column) and the caller should fall back to sampling."""
    if k > 2 or not all(bounds):
        return None
    if n < 2:
        return []
    import numpy as np

    def spread(i: int):
        r = np.arange(1 << _Z_BITS, dtype=np.int64)
        out = np.zeros_like(r)
        for bit in range(_Z_BITS):
            out += ((r >> bit) & 1) << (bit * k + i)
        return out

    if k == 1:
        morton = spread(0)
        pmf = _rank_pmf(bounds[0])[:1 << _Z_BITS]
    else:
        morton = (spread(0)[:, None] + spread(1)[None, :]).ravel()
        pmf = (_rank_pmf(bounds[0])[:1 << _Z_BITS, None]
               * _rank_pmf(bounds[1])[None, :1 << _Z_BITS]).ravel()
    order = np.argsort(morton, kind="stable")
    cum = np.cumsum(pmf[order])
    cells = morton[order]
    idx = np.searchsorted(cum, [t / n for t in range(1, n)], side="left")
    return [int(cells[min(i, len(cells) - 1)]) for i in idx]


def _count_le(values: list, v: Column) -> Column:
    """#{x in values: x <= v} for SORTED ``values`` (duplicates allowed),
    0 for a null ``v``: count the block ends <= v (blocks of ceil(√n)),
    then within the one block that count m points at — exact, since the
    first m blocks are <= v and everything past block m's end is > v.
    O(√n) comparisons per row instead of n."""
    if not values:
        return F.lit(0)
    blk = math.isqrt(len(values) - 1) + 1
    arr = F.array(*[F.lit(x) for x in values])
    ends = F.array(*[F.lit(values[e])
                     for e in range(blk - 1, len(values), blk)])
    m = F.size(F.filter(ends, lambda x: x <= v))
    return m * blk + F.size(F.filter(F.slice(arr, m * blk + 1, blk),
                                     lambda x: x <= v))


def _zorder(df: DataFrame, cols: list[str], n_partitions=None) -> DataFrame:
    """Multi-dimensional clustering (Delta OPTIMIZE ZORDER analogue):
    map each numeric column to a 256-bucket quantile rank, interleave
    the rank bits into a Morton code, and range-sort the output on it.
    Files then cover compact hyper-rectangles of the key space, so a
    range predicate on ANY z-ordered column — not just the leading sort
    key — excludes out-of-range files' row groups via their min/max
    stats.

    The quantile boundaries come from approxQuantile (one sampled pass,
    the same cost class as repartitionByRange's sampling). Nulls sort
    to bucket 0. Numeric/timestamp columns only."""
    from pyspark.sql import functions as F

    probs = [i / (1 << _Z_BITS) for i in range(1, 1 << _Z_BITS)]
    casted = [F.col(c).cast("double") for c in cols]
    tmp = df.select(*[c.alias(f"_z{i}") for i, c in enumerate(casted)])
    # keep DUPLICATE boundaries: bucket = #boundaries <= v is then the
    # value's quantile RANK, which stretches low-cardinality columns
    # across the full 0..255 range. Deduping instead leaves such a
    # column only its few low Morton bits, and the other dimension's
    # high bits dominate the ordering — no clustering for it at all.
    # One multi-column call = ONE pass over the table for all dimensions.
    # one-bucket rank error: a boundary may land one bucket off its
    # true quantile, which just shifts which hyper-rectangle a row
    # falls in — invisible to pruning power at the 2^Z_BITS grain, and
    # the sketch is ~4x smaller than the near-exact 0.001 pass this
    # stage used to pay for.
    bounds = tmp.stat.approxQuantile(
        [f"_z{i}" for i in range(len(cols))], probs, 1.0 / (1 << _Z_BITS))
    k = len(cols)
    # materialize each bucket rank in its own projection first: the
    # morton expression reads it 2^Z_BITS times, and CollapseProject
    # keeps a non-cheap expression with multiple references in its own
    # project, so the rank scan runs ONCE per row per column instead of
    # once per extracted bit. _count_le's block search (~32 array
    # comparisons instead of 255) measured 1.25 s → 0.2 s per data pass
    # on the 100k-row bench table.
    out = df
    for i, (c, bs) in enumerate(zip(casted, bounds)):
        # bucket = number of boundaries <= value (0..256); a null, or a
        # column with no non-null value, ranks 0
        out = out.withColumn(f"_zb{i}", _count_le(bs, c).cast("bigint"))
    morton = F.lit(0).cast("bigint")
    for i in range(k):
        bucket = F.col(f"_zb{i}")
        for bit in range(_Z_BITS):
            morton = morton + F.shiftleft(
                F.shiftright(bucket, bit).bitwiseAND(F.lit(1)),
                bit * k + i)
    out = out.withColumn("_zorder", morton) \
             .drop(*[f"_zb{i}" for i in range(k)])
    # EXPLICIT range partitioner (round 9): repartitionByRange pays a
    # SAMPLING pass that re-executes the whole upstream plan — scan +
    # rank block-search + morton interleave — over every row, just to
    # learn range bounds the quantile grid already implies. The bounds
    # are instead derived on the driver from the per-column rank pmfs
    # (zero data passes, duplicate-boundary point masses handled; see
    # _morton_range_bounds), the range bucket becomes a per-row
    # expression, and a murmur3 token computed per bucket routes each
    # bucket to its own hash partition (_partition_tokens) — one
    # evaluation pass total where there were two. Every partition still
    # covers a contiguous morton range, so the files' min/max stats
    # prune exactly as before; the independence approximation in the
    # joint pmf can only skew partition SIZES (§2.5 risk accepted and
    # bounded: k ≤ 2 here, correlated columns degrade file-size balance,
    # not pruning or results). k > 2 falls back to sampled ranges.
    n = (int(n_partitions) if n_partitions
         else int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")))
    mb = _morton_range_bounds(bounds, k, n)
    if mb is None:
        out = out.repartitionByRange(n, "_zorder")
    else:
        tokens = _partition_tokens(n)
        zpart = _count_le(mb, F.col("_zorder"))
        tok = F.element_at(F.array(*[F.lit(t) for t in tokens]), zpart + 1)
        out = (out.withColumn("_ztok", tok)
                  .repartition(n, F.col("_ztok")).drop("_ztok"))
    return out.sortWithinPartitions("_zorder").drop("_zorder")


def _columnar_writer(df: DataFrame, options: dict[str, Any]):
    """Shared parquet/orc writer config: partitionBy lays out the
    100 TB directory scheme (readers prune partitions on the filter
    column), maxRecordsPerFile bounds file sizes so compaction/scan
    parallelism stays healthy.

    ``sortBy`` lays the data out in GLOBAL order: repartitionByRange
    (one shuffle with sampled range bounds) + sortWithinPartitions.
    Files then cover non-overlapping key ranges, and a range predicate
    excludes every row group of out-of-range files (footer-only reads
    in vanilla Spark; table formats skip the files outright) — the
    time-ordered archive layout. ``sortPartitions`` overrides the
    output partition count (defaults to the session shuffle setting).

    ``zorderBy`` clusters on SEVERAL columns at once via a Morton code
    over per-column quantile ranks (see _zorder) — range predicates on
    any of the listed columns skip files, at the cost of weaker
    single-column locality than sortBy."""
    out = _clean(df)
    sort_by = options.get("sortBy")
    zorder_by = options.get("zorderBy")
    if sort_by and zorder_by:
        raise SinkError("sortBy and zorderBy are mutually exclusive")
    if isinstance(zorder_by, str):
        zorder_by = [zorder_by]
    if sort_by:
        if isinstance(sort_by, str):
            sort_by = [sort_by]
        n = options.get("sortPartitions")
        out = (out.repartitionByRange(int(n), *sort_by) if n
               else out.repartitionByRange(*sort_by))
        out = out.sortWithinPartitions(*sort_by)
    elif zorder_by:
        out = _zorder(out, list(zorder_by), options.get("sortPartitions"))
    writer = out.write.mode(options.get("mode", "overwrite"))
    partition_by = options.get("partitionBy")
    if partition_by:
        if isinstance(partition_by, str):
            partition_by = [partition_by]
        writer = writer.partitionBy(*partition_by)
    if options.get("maxRecordsPerFile"):
        writer = writer.option("maxRecordsPerFile",
                               int(options["maxRecordsPerFile"]))
    return writer


def write_parquet(df: DataFrame, path: str, options: dict[str, Any]) -> None:
    """``bloomFilterColumns`` (list) writes a parquet bloom filter per
    listed column: point-lookup predicates (`key = x`, joins on the
    key) then skip row groups whose filter proves absence — the
    file-level complement to min/max stats, which are useless for
    high-cardinality unsorted keys (every row group spans the whole
    value range, but blooms still prune). ``bloomFilterExpectedItems``
    sizes the filters (default 1M distinct per row group)."""
    writer = _columnar_writer(df, options)
    for col in options.get("bloomFilterColumns") or []:
        writer = writer.option(f"parquet.bloom.filter.enabled#{col}", "true")
        writer = writer.option(
            f"parquet.bloom.filter.expected.ndv#{col}",
            int(options.get("bloomFilterExpectedItems", 1_000_000)))
    writer.parquet(path)


def write_orc(df: DataFrame, path: str, options: dict[str, Any]) -> None:
    _columnar_writer(df, options).orc(path)


def write_text(df: DataFrame, path: str, options: dict[str, Any]) -> None:
    """Raw text sink: writes the ``textColumn`` (default: the frame's
    single string column, or ``text``) one row per line. Corpus export
    for .txt-consuming tooling."""
    out = _clean(df)
    col = options.get("textColumn")
    if col is None:
        col = "text" if "text" in out.columns else (
            out.columns[0] if len(out.columns) == 1 else None)
    if col is None or col not in out.columns:
        raise SinkError("text sink needs a 'textColumn' option (or a "
                        "single-column / 'text'-column frame)")
    (out.select(F.col(f"`{col}`").cast("string").alias("value"))
        .write.mode(options.get("mode", "overwrite")).text(path))


def write_yaml(df: DataFrame, path: str, options: dict[str, Any]) -> None:
    import yaml

    out = _sorted_cols(_clean(df))
    records = [r.asDict(recursive=True) for r in bounded_collect(
        out, "yaml sink", options.get("driverCollectMaxRows"))]
    with open(path, "w") as f:
        yaml.safe_dump(records if records else None, f, sort_keys=True,
                       default_flow_style=False)


def write_xml(df: DataFrame, path: str, options: dict[str, Any]) -> None:
    import xml.etree.ElementTree as ET

    record_tag = options.get("xmlRecordTag", "record")
    root_tag = options.get("xmlRootTag", "records")
    out = _sorted_cols(_clean(df))
    root = ET.Element(root_tag)
    for r in bounded_collect(out, "xml sink",
                             options.get("driverCollectMaxRows")):
        rec = ET.SubElement(root, record_tag)
        for k in sorted(r.asDict()):
            child = ET.SubElement(rec, k)
            v = r[k]
            child.text = "" if v is None else str(v)
    tree = ET.ElementTree(root)
    ET.indent(tree)
    tree.write(path, encoding="unicode", xml_declaration=True)


def write_xlsx(df: DataFrame, path: str, options: dict[str, Any]) -> None:
    """stdlib OOXML bridge (sources/xlsx.py — no openpyxl needed):
    headers sorted alphabetically, bools rendered 'true'/'false', None
    → "" (internal/io/xlsx.go:191-304). Whole-workbook single-document
    format by the reference's contract — driver-side like the JSON
    parity array; scale data goes to parquet/orc."""
    from etl_tool_spark.sources.xlsx import write_xlsx_records

    out = _stringify_complex(_sorted_cols(_clean(df)))
    records = [r.asDict() for r in bounded_collect(
        out, "xlsx sink", options.get("driverCollectMaxRows"))]
    write_xlsx_records(records, path,
                       sheet_name=options.get("sheetName", "Sheet1"))


def write_jdbc(df: DataFrame, path: str, options: dict[str, Any]) -> None:
    """Bulk append (reference COPY path, postgres.go:264-314). Batched via
    the JDBC 'batchsize' option; per-partition parallel inserts. A 300 s
    statement timeout (the reference's write-side default,
    postgres.go:152) keeps a hung database from stalling the job;
    override with ``queryTimeout`` (seconds, 0 disables)."""
    url = options.get("url") or options.get("connectionString")
    if not url:
        raise SinkError("jdbc sink requires 'url'")
    table = options.get("table") or path
    writer = (_sorted_cols(_clean(df)).write.format("jdbc")
              .option("url", url).option("dbtable", table)
              .option("batchsize", options.get("batch_size", 1000))
              .option("queryTimeout", int(options.get("queryTimeout", 300)))
              .mode(options.get("mode", "append")))
    for k in ("user", "password", "driver"):
        if k in options:
            writer = writer.option(k, options[k])
    writer.save()


def _set_statement_timeout(conn, seconds: int) -> None:
    """Best-effort per-session statement timeout on a DB-API connection
    (postgres.go:152 hardcodes 300 s on the write path). `SET
    statement_timeout` is Postgres syntax; engines without it (sqlite)
    reject the statement and the guard is skipped — the timeout is a
    hang protection, not a correctness requirement."""
    if seconds <= 0:
        return
    try:
        cur = conn.cursor()
        cur.execute(f"SET statement_timeout = {int(seconds) * 1000}")
        conn.commit()
    except Exception:
        try:
            conn.rollback()
        except Exception:
            pass


def _run_sql_commands(driver_module: str, url: str, commands: list[str],
                      command_type: str, timeout_s: int = 300) -> None:
    """Preload/postload command list in ONE transaction
    (postgres.go:211-262): all-or-nothing, failure aborts with the
    failing command identified. Runs driver-side — these are DDL/
    maintenance statements, not data-parallel work."""
    import importlib

    if not commands:
        return
    mod = importlib.import_module(driver_module)
    conn = mod.connect(url)
    _set_statement_timeout(conn, timeout_s)
    try:
        cur = conn.cursor()
        try:
            # explicit BEGIN: python-sqlite3's legacy autocommit never wraps
            # DDL in a transaction; Postgres just warns if one is open
            cur.execute("BEGIN")
        except Exception:
            pass
        for i, cmd in enumerate(commands):
            try:
                cur.execute(cmd)
            except Exception as e:
                conn.rollback()
                raise SinkError(
                    f"{command_type} command #{i + 1} failed ({cmd!r}): {e}") from e
        conn.commit()
    finally:
        conn.close()


def write_jdbc_custom_sql(df: DataFrame, command: str,
                          options: dict[str, Any]) -> dict[str, int]:
    """Custom per-record DML loader (loader.mode=sql, postgres.go:316-532).

    Placeholders: ``$N`` refers to the N-th target field in ALPHABETICAL
    order (postgres.go:326-331, pgx numbered args) — out-of-order,
    repeated, and sparse placeholders are all honored by binding each
    textual occurrence to its named index, exactly as pgx does.

    ``preload`` / ``postload`` (postgres.go:169-199): SQL command lists
    run in their own single transaction before / after the load; a
    preload failure aborts the load, postload runs only after a fully
    successful load.

    batch_size>0 ⇒ one transaction per batch; ANY failure in a batch
    rolls that batch back and aborts the load (postgres.go:497-507 —
    earlier batches stay committed). batch_size<=0 ⇒ one transaction per
    record; failed records are logged (masked) + skipped and COUNTED
    (postgres.go:339-406). Returns {'processed': n, 'failed': m}.

    Executed per partition via DB-API so the driver never materializes
    the data. ``driver_module`` selects the executor-side DB-API module
    (default psycopg; sqlite3 works for tests) and ``paramstyle`` the
    placeholder flavor ('pyformat' → %s, 'qmark' → ?)."""
    import re

    driver_module = options.get("driver_module", "psycopg")
    url = options.get("url") or options.get("connectionString") or options.get("database")
    if not url:
        raise SinkError("custom-sql sink requires 'url' (or 'database')")
    batch_size = int(options.get("batch_size", 0))
    timeout_s = int(options.get("queryTimeout", 300))  # postgres.go:152
    placeholder = "?" if options.get("paramstyle", "pyformat") == "qmark" else "%s"
    cols = sorted(_clean(df).columns)  # alphabetical $n binding (postgres.go:326-331)
    # bind each $N occurrence (textual order) to the N-th sorted column —
    # '$2 ... $1' and repeated/sparse placeholders bind like pgx numbered args
    param_idx = [int(m) - 1 for m in re.findall(r"\$(\d+)", command)]
    bad = [i + 1 for i in param_idx if not 0 <= i < len(cols)]
    if bad:
        raise SinkError(
            f"placeholder $%d out of range: %d target field(s) %s"
            % (bad[0], len(cols), cols))
    sql = re.sub(r"\$(\d+)", lambda m: placeholder, command)

    preload = list(options.get("preload") or [])
    postload = list(options.get("postload") or [])
    _run_sql_commands(driver_module, url, preload, "preload", timeout_s)

    rows = _clean(df).select(*[F.col(f"`{c}`") for c in cols])

    def run_partition(it):
        import importlib
        import logging

        try:
            mod = importlib.import_module(driver_module)
        except ImportError as e:  # pragma: no cover
            raise NotImplementedError(
                f"custom-sql loader needs the {driver_module!r} DB-API module "
                "on executors") from e
        log = logging.getLogger("etl_tool_spark.loader")
        conn = mod.connect(url)
        _set_statement_timeout(conn, timeout_s)
        processed = failed = 0
        try:
            cur = conn.cursor()
            if batch_size > 0:
                batch = []

                def flush():
                    nonlocal processed
                    if not batch:
                        return
                    try:
                        cur.executemany(sql, batch)
                        conn.commit()
                    except Exception as e:
                        # whole batch rolls back and the load aborts
                        # (postgres.go:497-507); earlier batches committed
                        conn.rollback()
                        raise SinkError(
                            f"custom-sql batch of {len(batch)} failed: {e}") from e
                    processed += len(batch)
                    batch.clear()

                for row in it:
                    batch.append(tuple(row[i] for i in param_idx))
                    if len(batch) >= batch_size:
                        flush()
                flush()
            else:
                from etl_tool_spark.util import mask_sensitive_fields

                for row in it:
                    try:
                        cur.execute(sql, tuple(row[i] for i in param_idx))
                        conn.commit()
                        processed += 1
                    except Exception as e:  # log + skip (postgres.go:377-381)
                        conn.rollback()
                        failed += 1
                        log.error(
                            "custom-sql loader: record failed, skipping: %s; "
                            "record (masked): %s", e,
                            mask_sensitive_fields(dict(zip(cols, row))))
        finally:
            conn.close()
        yield (processed, failed)

    counts = rows.rdd.mapPartitions(run_partition).collect()
    processed = sum(c[0] for c in counts)
    failed = sum(c[1] for c in counts)
    if failed:
        import logging

        logging.getLogger("etl_tool_spark.loader").warning(
            "custom-sql loader: %d records processed, %d records failed "
            "(skipped)", processed, failed)

    _run_sql_commands(driver_module, url, postload, "postload", timeout_s)
    return {"processed": processed, "failed": failed}


def write_cdc(df: DataFrame, path: str, options: dict[str, Any]) -> None:
    """Batch MERGE INTO the versioned snapshot store (streaming/cdc.py):
    the frame is a change log (keys + seq + op + payload) folded into
    the keyed snapshot at ``path`` with an atomic version commit.
    Options: ``keys`` (required), ``seqColumn``/``opColumn`` (default
    seq/op), ``buckets`` (default 16), ``batchId``."""
    from etl_tool_spark.streaming.cdc import (merge_cdc_batch,
                                              normalize_cdc_options)

    kw = normalize_cdc_options(options)
    if not kw["keys"]:
        raise SinkError("cdc sink requires options.keys: [key columns]")
    merge_cdc_batch(_clean(df), path, **kw,
                    batch_id=options.get("batchId"))


_WRITERS = {
    "cdc": write_cdc,
    "csv": write_csv,
    "text": write_text,
    "json": write_json,
    "parquet": write_parquet,
    "orc": write_orc,
    "yaml": write_yaml,
    "yml": write_yaml,
    "xml": write_xml,
    "xlsx": write_xlsx,
    "postgres": write_jdbc,
    "jdbc": write_jdbc,
}


def write_sink(df: DataFrame, sink_type: str, path: str,
               options: dict[str, Any] | None = None) -> None:
    """Factory dispatch (internal/io/factory.go:52-87).

    ``manifest: [cols]`` on a parquet/orc destination additionally
    writes the per-file min/max stats manifest after the data lands
    (sources/skipping.py) — write time is when the files are hot, and
    pruned_read then plans range queries from the manifest."""
    opts = options or {}
    fn = _WRITERS.get(sink_type.lower())
    if fn is None:
        raise SinkError(f"unsupported sink type {sink_type!r}")
    fn(df, path, opts)
    manifest_cols = opts.get("manifest")
    if manifest_cols and sink_type.lower() in ("parquet", "orc"):
        if sink_type.lower() != "parquet":
            raise SinkError("manifest option currently supports parquet only")
        from etl_tool_spark.sources.skipping import write_manifest

        if isinstance(manifest_cols, str):
            manifest_cols = [manifest_cols]
        write_manifest(df.sparkSession, path, list(manifest_cols))
