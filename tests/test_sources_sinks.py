"""Reader-quirk parity (FIXTURES.md B6 / internal/io/*_test.go shapes) and
the custom-DML loader driven end-to-end against sqlite."""

import sqlite3

import pytest

from etl_tool_spark.sources.registry import read_source
from etl_tool_spark.sources.sinks import SinkError, write_jdbc_custom_sql, write_sink


def test_csv_quirks(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text(
        "# a comment line\n"
        "id|name|val\n"
        "1|alpha|10\n"
        "2|beta\n"            # short row → skipped (csv.go:110-114)
        "3|gamma|30|extra\n"  # long row → skipped
        "4|delta|40\n")
    df = read_source(spark, "csv", str(p),
                     {"delimiter": "|", "commentChar": "#"}, attach_seq=False)
    rows = {r["id"]: r["name"] for r in df.collect()}
    assert rows == {"1": "alpha", "4": "delta"}
    assert [f.dataType.simpleString() for f in df.schema] == ["string"] * 3


@pytest.mark.parametrize("content,want", [
    # empty header → column skipped (csv.go:91-95, csv_test.go "Empty header")
    ("h1,,h3\nv1,v2,v3", [{"h1": "v1", "h3": "v3"}]),
    # duplicate header → last occurring column wins (csv_test.go "Duplicate headers")
    ("h1,h2,h1\nv1,v2,v3", [{"h1": "v3", "h2": "v2"}]),
    # trailing comma: 3 headers (last empty, dropped); rows must have 3 fields
    ("h1,h2,\nv1,v2,", [{"h1": "v1", "h2": "v2"}]),
    # header names are trimmed (csv.go:89)
    (" h1 , h2\nv1,v2", [{"h1": "v1", "h2": "v2"}]),
])
def test_csv_header_quirks(spark, tmp_path, content, want):
    p = tmp_path / "in.csv"
    p.write_text(content)
    df = read_source(spark, "csv", str(p), attach_seq=False)
    got = sorted([r.asDict() for r in df.collect()],
                 key=lambda d: sorted(d.items()))
    assert got == want


def test_csv_header_quirks_wrong_arity_still_dropped(spark, tmp_path):
    # arity is judged against the ORIGINAL header count (3), not the
    # surviving column count (2) — csv.go:110-114
    p = tmp_path / "in.csv"
    p.write_text("h1,h2,h1\nv1,v2,v3\nshort,row\na,b,c\n")
    df = read_source(spark, "csv", str(p), attach_seq=False)
    key = lambda d: sorted(d.items())
    assert sorted((r.asDict() for r in df.collect()), key=key) == sorted(
        [{"h1": "v3", "h2": "v2"}, {"h1": "c", "h2": "b"}], key=key)


def test_json_single_object(spark, tmp_path):
    p = tmp_path / "one.json"
    p.write_text('{"id": 7, "nested": {"x": 1}}')  # single object → 1 record
    df = read_source(spark, "json", str(p), attach_seq=False)
    assert df.count() == 1
    assert df.collect()[0]["nested"]["x"] == 1


def test_yaml_forms(spark, tmp_path):
    single = tmp_path / "single.yaml"
    single.write_text("id: 1\nname: a\n")  # single map → 1 record
    assert read_source(spark, "yaml", str(single), attach_seq=False).count() == 1
    empty = tmp_path / "empty.yaml"
    empty.write_text("")
    assert read_source(spark, "yaml", str(empty), attach_seq=False).count() == 0


def test_xml_custom_record_tag(spark, tmp_path):
    p = tmp_path / "in.xml"
    p.write_text(
        "<data><item attr='ignored'><id>1</id><name> padded <b>bold</b> </name></item>"
        "<item><id>2</id><name>two</name></item></data>")
    df = read_source(spark, "xml", str(p), {"xmlRecordTag": "item"}, attach_seq=False)
    rows = {r["id"]: r["name"] for r in df.collect()}
    # nested element text flattened, trimmed (xml.go:109-118); attrs ignored
    assert rows == {"1": "padded bold", "2": "two"}


def test_custom_sql_loader_sqlite(spark, tmp_path):
    """loader.mode=sql end-to-end: alphabetical $n binding, batched
    transactions — against a real DB-API target (sqlite3 on executors)."""
    db = tmp_path / "out.db"
    with sqlite3.connect(db) as conn:
        conn.execute("CREATE TABLE sink (k INTEGER, v TEXT)")

    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    # sorted cols → (k, v); $1 = k, $2 = v (alphabetical, postgres.go:326-331)
    write_jdbc_custom_sql(df.coalesce(1), "INSERT INTO sink VALUES ($1, $2)",
                          {"database": str(db), "driver_module": "sqlite3",
                           "paramstyle": "qmark", "batch_size": 2})
    with sqlite3.connect(db) as conn:
        got = sorted(conn.execute("SELECT k, v FROM sink").fetchall())
    assert got == [(1, "a"), (2, "b"), (3, "c")]


def test_custom_sql_loader_skips_failures(spark, tmp_path):
    db = tmp_path / "out2.db"
    with sqlite3.connect(db) as conn:
        conn.execute("CREATE TABLE sink (k INTEGER PRIMARY KEY, v TEXT)")

    df = spark.createDataFrame([(1, "a"), (1, "dup"), (2, "b")], "k long, v string")
    # batch_size<=0 ⇒ per-record commit, failed records skipped AND counted
    # (postgres.go:339-406 logs each failed record; counts surface here)
    counts = write_jdbc_custom_sql(df.coalesce(1), "INSERT INTO sink VALUES ($1, $2)",
                                   {"database": str(db), "driver_module": "sqlite3",
                                    "paramstyle": "qmark", "batch_size": 0})
    with sqlite3.connect(db) as conn:
        got = sorted(conn.execute("SELECT k FROM sink").fetchall())
    assert got == [(1,), (2,)]
    assert counts == {"processed": 2, "failed": 1}


def test_custom_sql_out_of_order_repeated_sparse_placeholders(spark, tmp_path):
    """$N binds by NUMBER (pgx numbered args, postgres.go loadWithCustomSQL):
    '$2...$1' swaps, '$1' twice repeats, and using only $2 is sparse —
    all must bind the N-th ALPHABETICAL column, not textual position."""
    db = tmp_path / "out3.db"
    with sqlite3.connect(db) as conn:
        conn.execute("CREATE TABLE sink (k INTEGER, v TEXT, v2 TEXT)")

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    # sorted cols → ($1=k, $2=v); command uses them out of order + repeats $2
    write_jdbc_custom_sql(
        df.coalesce(1), "INSERT INTO sink VALUES ($1, $2, $2)",
        {"database": str(db), "driver_module": "sqlite3",
         "paramstyle": "qmark", "batch_size": 10})
    with sqlite3.connect(db) as conn:
        got = sorted(conn.execute("SELECT k, v, v2 FROM sink").fetchall())
    assert got == [(1, "a", "a"), (2, "b", "b")]

    db2 = tmp_path / "out4.db"
    with sqlite3.connect(db2) as conn:
        conn.execute("CREATE TABLE sink (v TEXT, k INTEGER)")
    write_jdbc_custom_sql(
        df.coalesce(1), "INSERT INTO sink (v, k) VALUES ($2, $1)",
        {"database": str(db2), "driver_module": "sqlite3",
         "paramstyle": "qmark", "batch_size": 0})
    with sqlite3.connect(db2) as conn:
        got = sorted(conn.execute("SELECT k, v FROM sink").fetchall())
    # out-of-order: $2 (v) lands in v, $1 (k) in k — the round-1 positional
    # rewrite would have swapped them
    assert got == [(1, "a"), (2, "b")]

    with pytest.raises(SinkError, match="out of range"):
        write_jdbc_custom_sql(df, "INSERT INTO sink VALUES ($3)",
                              {"database": str(db2), "driver_module": "sqlite3",
                               "paramstyle": "qmark"})


def test_custom_sql_preload_postload(spark, tmp_path):
    """preload creates the table (own transaction, before the load);
    postload builds an index after it (postgres.go:169-199)."""
    db = tmp_path / "pre.db"
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    counts = write_jdbc_custom_sql(
        df.coalesce(1), "INSERT INTO sink VALUES ($1, $2)",
        {"database": str(db), "driver_module": "sqlite3", "paramstyle": "qmark",
         "batch_size": 5,
         "preload": ["CREATE TABLE sink (k INTEGER, v TEXT)",
                     "CREATE TABLE audit (note TEXT)"],
         "postload": ["CREATE INDEX sink_k ON sink(k)",
                      "INSERT INTO audit VALUES ('loaded')"]})
    assert counts["processed"] == 2
    with sqlite3.connect(db) as conn:
        assert sorted(conn.execute("SELECT k FROM sink").fetchall()) == [(1,), (2,)]
        assert conn.execute("SELECT note FROM audit").fetchall() == [("loaded",)]
        idx = conn.execute(
            "SELECT name FROM sqlite_master WHERE type='index'").fetchall()
        assert ("sink_k",) in idx


def test_custom_sql_preload_failure_aborts_load(spark, tmp_path):
    """A failing preload command aborts before ANY record is loaded, and
    the whole preload transaction rolls back (postgres.go:171-173)."""
    db = tmp_path / "preabort.db"
    with sqlite3.connect(db) as conn:
        conn.execute("CREATE TABLE sink (k INTEGER, v TEXT)")

    df = spark.createDataFrame([(1, "a")], "k long, v string")
    with pytest.raises(SinkError, match="preload command #2"):
        write_jdbc_custom_sql(
            df, "INSERT INTO sink VALUES ($1, $2)",
            {"database": str(db), "driver_module": "sqlite3",
             "paramstyle": "qmark",
             "preload": ["CREATE TABLE pre_ok (x INTEGER)",
                         "CREATE TABLE sink (k INTEGER, v TEXT)"]})  # exists → fails
    with sqlite3.connect(db) as conn:
        assert conn.execute("SELECT count(*) FROM sink").fetchone() == (0,)
        # first preload command rolled back with the failing one
        names = conn.execute(
            "SELECT name FROM sqlite_master WHERE type='table'").fetchall()
        assert ("pre_ok",) not in names


def test_parquet_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "x")], "id long, v string")
    write_sink(df, "parquet", str(tmp_path / "out.pq"), {})
    back = read_source(spark, "parquet", str(tmp_path / "out.pq"), attach_seq=False)
    assert back.collect() == df.collect()


def test_xlsx_roundtrip(spark, tmp_path):
    """stdlib OOXML bridge: write → read round-trip with sorted headers,
    bool casing ('true'/'false', xlsx.go:281) and None → ""."""
    p = tmp_path / "out.xlsx"
    df = spark.createDataFrame(
        [(1, "alpha", True, None), (2, "be < & to", False, "x")],
        "id long, name string, flag boolean, opt string")
    write_sink(df, "xlsx", str(p), {"sheetName": "Data"})
    back = read_source(spark, "xlsx", str(p), {"sheetName": "Data"},
                       attach_seq=False)
    assert back.columns == ["flag", "id", "name", "opt"]
    rows = sorted((r["id"], r["name"], r["flag"], r["opt"])
                  for r in back.collect())
    assert rows == [("1", "alpha", "true", ""), ("2", "be < & to", "false", "x")]


def test_xlsx_sheet_selection_and_errors(spark, tmp_path):
    from etl_tool_spark.sources.xlsx import XlsxError, write_xlsx_records

    p = tmp_path / "s.xlsx"
    write_xlsx_records([{"a": "1"}], str(p), sheet_name="Custom")
    assert read_source(spark, "xlsx", str(p), {"sheetIndex": 0},
                       attach_seq=False).count() == 1
    with pytest.raises(XlsxError):
        read_source(spark, "xlsx", str(p), {"sheetName": "Nope"})
    with pytest.raises(XlsxError):
        read_source(spark, "xlsx", str(p), {"sheetIndex": 3})
    with pytest.raises(XlsxError):
        write_xlsx_records([], str(p), sheet_name="bad[name]")


def test_xlsx_header_quirks_and_cell_types(spark, tmp_path):
    """Hand-built workbook exercising shared strings, inline strings,
    boolean and numeric cells, duplicate headers (last wins), empty
    headers (ignored), and short rows (backfilled with "")."""
    import zipfile

    from etl_tool_spark.sources.xlsx import read_xlsx_records

    ss = ('<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/'
          'spreadsheetml/2006/main"><si><t>h1</t></si><si><t>shared</t></si></sst>')
    sheet = ('<?xml version="1.0"?><worksheet xmlns="http://schemas.openxml'
             'formats.org/spreadsheetml/2006/main"><sheetData>'
             # header: h1 (shared), '' (empty, ignored), ' h2 ' (trim), h1 dup (last wins)
             '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="inlineStr"><is><t/></is></c>'
             '<c r="C1" t="inlineStr"><is><t> h2 </t></is></c>'
             '<c r="D1" t="inlineStr"><is><t>h1</t></is></c></row>'
             # data: shared string, skipped B, number, bool — D wins h1
             '<row r="2"><c r="A2" t="s"><v>1</v></c><c r="C2"><v>42</v></c>'
             '<c r="D2" t="b"><v>1</v></c></row>'
             # short row: only A present; h2 + dup-h1 backfill ""
             '<row r="3"><c r="A3" t="inlineStr"><is><t>solo</t></is></c></row>'
             '</sheetData></worksheet>')
    wb = ('<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats'
          '.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats'
          '.org/officeDocument/2006/relationships"><sheets>'
          '<sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>')
    rels = ('<?xml version="1.0"?><Relationships xmlns="http://schemas.openxml'
            'formats.org/package/2006/relationships"><Relationship Id="rId1" '
            'Type="http://schemas.openxmlformats.org/officeDocument/2006/'
            'relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>')
    p = tmp_path / "quirk.xlsx"
    with zipfile.ZipFile(p, "w") as z:
        z.writestr("xl/workbook.xml", wb)
        z.writestr("xl/_rels/workbook.xml.rels", rels)
        z.writestr("xl/sharedStrings.xml", ss)
        z.writestr("xl/worksheets/sheet1.xml", sheet)
    recs = read_xlsx_records(str(p))
    assert recs == [{"h1": "TRUE", "h2": "42"},   # D2 bool wins h1; C numeric
                    {"h1": "", "h2": ""}]          # short row backfilled


def test_text_source_and_sink_roundtrip(spark, tmp_path):
    src = tmp_path / "corpus.txt"
    src.write_text("first doc line\nsecond doc line\n\nfourth line\n")
    from etl_tool_spark.sources.registry import read_source
    from etl_tool_spark.sources.sinks import write_sink

    df = read_source(spark, "text", str(src))
    assert df.columns[0] == "text"
    lines = [r["text"] for r in df.collect()]
    assert len(lines) == 4 and "" in lines

    out = tmp_path / "out_txt"
    write_sink(df.filter("text <> ''"), "text", str(out), {})
    back = spark.read.text(str(out))
    assert sorted(r["value"] for r in back.collect()) == \
        sorted(l for l in lines if l)


def test_text_wholetext_one_row_per_file(spark, tmp_path):
    d = tmp_path / "docs"
    d.mkdir()
    (d / "a.txt").write_text("alpha beta\ngamma\n")
    (d / "b.txt").write_text("delta\n")
    from etl_tool_spark.sources.registry import read_source

    df = read_source(spark, "text", str(d), {"wholetext": True},
                     attach_seq=False)
    got = sorted(r["text"] for r in df.collect())
    assert got == ["alpha beta\ngamma\n", "delta\n"]


def test_text_sink_requires_resolvable_column(spark, tmp_path):
    import pytest as _pytest

    from etl_tool_spark.sources.sinks import SinkError, write_sink

    two_cols = spark.createDataFrame([(1, "x")], "a long, b string")
    with _pytest.raises(SinkError):
        write_sink(two_cols, "text", str(tmp_path / "nope"), {})
    write_sink(two_cols, "text", str(tmp_path / "ok"), {"textColumn": "b"})
    assert [r["value"] for r in spark.read.text(str(tmp_path / "ok")).collect()] == ["x"]


def test_parquet_global_sort_layout(spark, tmp_path):
    """sortBy lays files out in global order: every part file covers a
    non-overlapping id range (parquet min/max stats then let readers
    skip whole files on range predicates) and rows inside each file are
    sorted."""
    import glob

    df = spark.createDataFrame([(i * 37 % 1000, f"v{i}") for i in range(1000)],
                               "id long, v string")
    out = str(tmp_path / "sorted.pq")
    write_sink(df, "parquet", out, {"sortBy": "id", "sortPartitions": 4})
    parts = sorted(glob.glob(out + "/part-*"))
    assert len(parts) == 4
    ranges = []
    for p in parts:
        vals = [r.id for r in spark.read.parquet(p).collect()]
        assert vals == sorted(vals)          # sorted within the file
        ranges.append((min(vals), max(vals)))
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo                      # files cover disjoint ranges
    back = spark.read.parquet(out)
    assert back.count() == 1000


def test_parquet_zorder_layout(spark, tmp_path):
    """zorderBy clusters files on BOTH columns: every part file covers a
    compact sub-rectangle of the (x, y) space, so each column's per-file
    span is well below the global span (sortBy would give this for the
    leading key only; an unsorted write for neither)."""
    import glob
    import itertools

    rows = [(x, y) for x, y in itertools.product(range(64), range(64))]
    df = spark.createDataFrame(rows, "x long, y long")
    out = str(tmp_path / "z.pq")
    write_sink(df, "parquet", out, {"zorderBy": ["x", "y"],
                                    "sortPartitions": 16})
    parts = sorted(glob.glob(out + "/part-*"))
    assert len(parts) == 16
    for col in ("x", "y"):
        spans = []
        for p in parts:
            vals = [r[col] for r in spark.read.parquet(p).collect()]
            spans.append(max(vals) - min(vals))
        # 16 morton tiles over a 64x64 grid → each file covers a
        # 16x64-or-narrower band; mean span must be far below global 63
        assert sum(spans) / len(spans) <= 40, (col, spans)
    assert spark.read.parquet(out).count() == 64 * 64


def test_zorder_explicit_partitioner(spark, tmp_path):
    """Round 9: the z-order shuffle routes rows through driver-derived
    morton range bounds + murmur tokens instead of repartitionByRange.
    Pins (a) the Python murmur3 reimplementation against Spark's
    F.hash, (b) token → physical-partition placement (token p lands in
    partition p exactly), (c) the write runs ONE job — the sampling
    pass that re-evaluated the morton expression is gone."""
    from pyspark.sql import functions as F

    from etl_tool_spark.sources.sinks import (_murmur3_int32,
                                              _partition_tokens)

    vals = [0, 1, 7, -3, 123456, -98765, 2**31 - 1, -2**31]
    got = spark.createDataFrame([(v,) for v in vals], "v int") \
               .select(F.hash("v").alias("h")).collect()
    assert [r.h for r in got] == [_murmur3_int32(v) for v in vals]

    n = 8
    tokens = _partition_tokens(n)
    df = spark.createDataFrame([(p, tokens[p]) for p in range(n)],
                               "p int, tok int")
    placed = (df.repartition(n, F.col("tok"))
                .select("p", F.spark_partition_id().alias("pid")).collect())
    assert all(r.p == r.pid for r in placed)

    # the write runs 4 jobs on this data (approxQuantile sketch + AQE
    # shuffle/write stages); the repartitionByRange form ran 5 — the
    # extra one was the range-sampling job that re-evaluated the whole
    # rank+morton expression over every row. Pin the sampling job's
    # absence.
    sc = spark.sparkContext
    rows = [(x, (x * 37) % 64) for x in range(4096)]
    data = spark.createDataFrame(rows, "x long, y long")
    sc.setJobGroup("zorder-write", "zorder-write", False)
    try:
        write_sink(data, "parquet", str(tmp_path / "zj"),
                   {"zorderBy": ["x", "y"], "sortPartitions": 8})
    finally:
        sc.setJobGroup(None, None, False)
    jobs = sc.statusTracker().getJobIdsForGroup("zorder-write")
    assert len(jobs) <= 4, f"z-order write ran {len(jobs)} jobs (sampling back?)"


@pytest.mark.parametrize("n", [0, 1, 255, 1023])
def test_count_le_matches_searchsorted(spark, n):
    """_count_le, the z-order rank and partition-id search, equals
    numpy.searchsorted(side="right") on a sorted list with duplicates,
    for probes at, between and outside its values; a null counts 0."""
    import numpy as np
    from pyspark.sql import functions as F

    from etl_tool_spark.sources.sinks import _count_le

    rng = np.random.default_rng(n)
    values = sorted(float(v) for v in rng.integers(0, n // 3 + 1, n))
    probes = sorted({p for v in set(values) for p in (v - 0.5, v, v + 0.5)}
                    | {-1e9, 1e9})
    df = spark.createDataFrame([(p,) for p in probes] + [(None,)],
                               "v double")
    got = {r.v: r.c for r in
           df.select("v", _count_le(values, F.col("v")).alias("c")).collect()}
    want = np.searchsorted(np.asarray(values), probes, side="right")
    assert [got[p] for p in probes] == want.tolist()
    assert got[None] == 0


def test_zorder_write_1024_partitions(spark, tmp_path):
    """A zorderBy write with sortPartitions 1024 (each row's partition
    id searches 1023 morton bounds) keeps every row and spreads them
    over most of the partitions."""
    import glob

    rows = [(x, (x * 37) % 64) for x in range(4096)]
    out = str(tmp_path / "z1024")
    write_sink(spark.createDataFrame(rows, "x long, y long"), "parquet", out,
               {"zorderBy": ["x", "y"], "sortPartitions": 1024})
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == rows
    assert len(glob.glob(out + "/part-*")) > 512


def test_zorder_sortby_exclusive(spark, tmp_path):
    df = spark.createDataFrame([(1, 2)], "x long, y long")
    with pytest.raises(SinkError):
        write_sink(df, "parquet", str(tmp_path / "e.pq"),
                   {"sortBy": "x", "zorderBy": ["x", "y"]})


def test_manifest_pruned_read(spark, tmp_path):
    """write_manifest + pruned_read: a narrow range over a range-sorted
    table touches a strict subset of files, matches the full-scan
    filter exactly, and still reads files appended after the manifest."""
    from etl_tool_spark.sources.skipping import pruned_read, write_manifest

    d = str(tmp_path / "t.pq")
    df = spark.range(10000).selectExpr("id", "id * 2 AS v")
    write_sink(df, "parquet", d, {"sortBy": "id", "sortPartitions": 10})
    write_manifest(spark, d, ["id"])

    full = spark.read.parquet(d)
    assert len(full.inputFiles()) == 10   # manifest dir hidden from reads

    out = pruned_read(spark, d, "id", 2500, 2600)
    got = sorted(r.id for r in out.collect())
    assert got == list(range(2500, 2601))
    assert len(out.inputFiles()) <= 2     # 1-2 of the 10 range files

    # append new data WITHOUT refreshing the manifest: must still be read
    spark.range(20000, 20050).selectExpr("id", "id * 2 AS v") \
         .coalesce(1).write.mode("append").parquet(d)
    out2 = pruned_read(spark, d, "id", 19999, 20010)
    assert sorted(r.id for r in out2.collect()) == list(range(20000, 20011))


def test_sink_manifest_option(spark, tmp_path):
    from etl_tool_spark.sources.skipping import pruned_read

    d = str(tmp_path / "m.pq")
    df = spark.range(5000).selectExpr("id", "id % 9 AS g")
    write_sink(df, "parquet", d,
               {"sortBy": "id", "sortPartitions": 5, "manifest": ["id"]})
    out = pruned_read(spark, d, "id", 100, 120)
    assert sorted(r.id for r in out.collect()) == list(range(100, 121))
    assert len(out.inputFiles()) == 1


def test_zorder_accepts_string_option(spark, tmp_path):
    """YAML `zorderBy: ts` (a bare string) must mean one column, not
    per-character column names."""
    df = spark.range(100).selectExpr("id as x", "id * 2 as y")
    out = str(tmp_path / "z1")
    write_sink(df, "parquet", out, {"zorderBy": "x", "sortPartitions": 2})
    back = spark.read.parquet(out)
    assert back.count() == 100


@pytest.mark.parametrize("cols", [["x"], ["x", "y"]])
def test_zorder_empty_and_all_null(spark, tmp_path, cols):
    """An empty frame and an all-null zorderBy column give approxQuantile
    no boundaries: the write falls back to sampled ranges (every row
    ranks 0 on such a column) instead of raising IndexError."""
    empty = spark.range(0).selectExpr("id as x", "id as y")
    out = str(tmp_path / "empty")
    write_sink(empty, "parquet", out, {"zorderBy": cols, "sortPartitions": 4})
    assert spark.read.parquet(out).count() == 0

    nulls = spark.range(100).selectExpr("CAST(NULL AS BIGINT) as x", "id as y")
    out = str(tmp_path / "nulls")
    write_sink(nulls, "parquet", out, {"zorderBy": cols, "sortPartitions": 4})
    back = spark.read.parquet(out)
    assert back.count() == 100 and back.filter("x IS NOT NULL").count() == 0


def test_parquet_merge_schema_evolution(spark, tmp_path):
    """options.mergeSchema: a source dir whose newer files added a
    column reads the union schema (older rows null) instead of whatever
    the first footer says."""
    from etl_tool_spark.sources.registry import read_source

    d = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "id long, v string") \
         .write.parquet(d + "/p1")
    spark.createDataFrame([(2, "b", 9.5)], "id long, v string, score double") \
         .write.parquet(d + "/p2")
    merged = read_source(spark, "parquet", d + "/p*",
                         {"mergeSchema": True}, attach_seq=False)
    assert set(merged.columns) == {"id", "v", "score"}
    got = {r["id"]: r["score"] for r in merged.collect()}
    assert got == {1: None, 2: 9.5}


def test_statement_timeout_issued_on_postgres_like_connection():
    """The DB-API loader sets a session statement timeout (the reference
    hardcodes 300 s on the write path, postgres.go:152). Against an
    engine that accepts `SET statement_timeout` the value arrives in
    milliseconds; 0 disables the guard entirely."""
    from etl_tool_spark.sources.sinks import _set_statement_timeout

    class Cur:
        def __init__(self, log):
            self.log = log

        def execute(self, sql, *a):
            self.log.append(sql)

    class Conn:
        def __init__(self):
            self.log = []
            self.committed = False

        def cursor(self):
            return Cur(self.log)

        def commit(self):
            self.committed = True

        def rollback(self):  # pragma: no cover - not hit on happy path
            self.log.append("ROLLBACK")

    conn = Conn()
    _set_statement_timeout(conn, 300)
    assert conn.log == ["SET statement_timeout = 300000"] and conn.committed

    off = Conn()
    _set_statement_timeout(off, 0)
    assert off.log == []


def test_statement_timeout_skipped_on_sqlite(spark, tmp_path):
    """sqlite rejects `SET statement_timeout`; the guard must swallow
    that and the load still succeed (timeout is hang protection, not a
    correctness requirement)."""
    db = tmp_path / "timeout.db"
    with sqlite3.connect(db) as conn:
        conn.execute("CREATE TABLE sink (k INTEGER, v TEXT)")
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    counts = write_jdbc_custom_sql(
        df.coalesce(1), "INSERT INTO sink VALUES ($1, $2)",
        {"database": str(db), "driver_module": "sqlite3",
         "paramstyle": "qmark", "batch_size": 1, "queryTimeout": 60})
    assert counts == {"processed": 1, "failed": 0}


def test_jdbc_reader_sets_query_timeout(spark, monkeypatch):
    """read_jdbc must plumb queryTimeout (default 60 s, reference
    postgres.go:26,50) into the Spark JDBC reader options."""
    from etl_tool_spark.sources import registry

    seen = {}

    class FakeReader:
        def format(self, fmt):
            seen["format"] = fmt
            return self

        def option(self, k, v):
            seen[k] = v
            return self

        def load(self):
            return "LOADED"

    monkeypatch.setattr(type(spark), "read", property(lambda self: FakeReader()))
    out = registry.read_jdbc(spark, "SELECT 1", {"url": "jdbc:postgresql://x/db"})
    assert out == "LOADED"
    assert seen["queryTimeout"] == 60
    seen.clear()
    registry.read_jdbc(spark, "SELECT 1",
                       {"url": "jdbc:postgresql://x/db", "queryTimeout": 0})
    assert seen["queryTimeout"] == 0


def test_parquet_bloom_filter_columns(spark, tmp_path):
    """bloomFilterColumns writes per-column parquet bloom filters:
    the footer grows by the serialized filter (sized by expected NDV)
    and the data reads back identically. (pyarrow in this container
    doesn't expose bloom_filter_offset, so the size delta — stable and
    order-of-kilobytes — is the observable.)"""
    import glob
    import os

    from etl_tool_spark.sources.sinks import write_parquet

    df = (spark.range(20000)
               .selectExpr("id", "cast(id % 7 as string) as cat")
               .coalesce(1))
    plain_dir, bloom_dir = str(tmp_path / "plain"), str(tmp_path / "bloom")
    write_parquet(df, plain_dir, {})
    write_parquet(df, bloom_dir, {"bloomFilterColumns": ["id"],
                                  "bloomFilterExpectedItems": 20000})
    size = {d: sum(os.path.getsize(f)
                   for f in glob.glob(d + "/*.parquet"))
            for d in (plain_dir, bloom_dir)}
    assert size[bloom_dir] > size[plain_dir] + 1024, size
    got = spark.read.parquet(bloom_dir)
    assert got.count() == 20000
    assert (got.orderBy("id").collect()
            == spark.read.parquet(plain_dir).orderBy("id").collect())


# ---------------------------------------------------- bridge size guards

def test_driver_collect_cap_raises_not_ooms(spark, tmp_path):
    """VERDICT r6 #8: parity sinks that materialize on the driver must
    fail fast past the row cap (plumbed via driverCollectMaxRows), not
    OOM mid-collect."""
    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    for sink in ("json", "yaml", "xml", "xlsx"):
        with pytest.raises(ValueError, match="driverCollectMaxRows"):
            write_sink(df, sink, str(tmp_path / f"cap.{sink}"),
                       {"driverCollectMaxRows": 5})
    # at/under the cap the same sinks still write
    write_sink(df, "json", str(tmp_path / "ok.json"),
               {"driverCollectMaxRows": 10})
    assert (tmp_path / "ok.json").exists()


def test_driver_parse_cap_raises_before_parsing(spark, tmp_path):
    """Driver-parsed sources (yaml/xml/xlsx bridges) reject oversized
    files up front via driverParseMaxBytes."""
    y = tmp_path / "big.yaml"
    y.write_text("- {a: 1}\n" * 200)
    with pytest.raises(ValueError, match="driverParseMaxBytes"):
        read_source(spark, "yaml", str(y), {"driverParseMaxBytes": 64},
                    attach_seq=False)
    x = tmp_path / "big.xml"
    x.write_text("<rs>" + "<record><a>1</a></record>" * 100 + "</rs>")
    with pytest.raises(ValueError, match="driverParseMaxBytes"):
        read_source(spark, "xml", str(x), {"driverParseMaxBytes": 64},
                    attach_seq=False)
    # under the cap still parses
    got = read_source(spark, "yaml", str(y),
                      {"driverParseMaxBytes": 10_000_000}, attach_seq=False)
    assert got.count() == 200
