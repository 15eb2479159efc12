"""End-to-end playbook tests replicating the reference's app-level
scenarios (internal/app/app_test.go; man-page examples man.txt:261-338):
filter → mapping → flatten → dedup → sink, dry-run, halt/skip + error
file, format round-trips."""

import json
import os

import pytest

from etl_tool_spark.operators.errors import PipelineHaltError
from etl_tool_spark.plans import load_config, run_pipeline
from etl_tool_spark.plans.config import ConfigError


@pytest.fixture()
def workdir(tmp_path):
    csv = tmp_path / "input.csv"
    csv.write_text(
        "user_id,email,status,amount\n"
        " 1 ,A@X.COM,active,50\n"
        "2,b@y.org,inactive,10\n"
        "12.0,C@Z.IO,active,99\n"
        "abc,bad,active,7\n")
    return tmp_path


def test_e2e_filter_map_skip(spark, workdir):
    out = workdir / "out.json"
    errf = workdir / "errors"
    cfg = load_config({
        "source": {"type": "csv", "file": str(workdir / "input.csv")},
        "filter": "status == 'active' && amount > 0",
        "mappings": [
            {"source": "user_id", "target": "uid", "transform": "mustToInt"},
            {"source": "email", "target": "email", "transform": "toLowerCase"},
        ],
        "errorHandling": {"mode": "skip", "errorFile": str(errf)},
        "destination": {"type": "json", "file": str(out)},
    })
    run_pipeline(spark, cfg)
    records = json.loads(out.read_text())
    assert sorted(r["uid"] for r in records) == [1, 12]
    assert all(r["email"] == r["email"].lower() for r in records)
    err_rows = [f for f in os.listdir(errf) if f.endswith(".csv")]
    assert err_rows, "error file written"


def test_e2e_halt(spark, workdir):
    cfg = load_config({
        "source": {"type": "csv", "file": str(workdir / "input.csv")},
        "mappings": [{"source": "user_id", "target": "uid", "transform": "mustToInt"}],
        "errorHandling": {"mode": "halt"},
    })
    with pytest.raises(PipelineHaltError):
        run_pipeline(spark, cfg)


def test_dry_run_no_write(spark, workdir):
    out = workdir / "never.json"
    cfg = load_config({
        "source": {"type": "csv", "file": str(workdir / "input.csv")},
        "filter": "status == 'active'",
        "destination": {"type": "json", "file": str(out)},
    })
    res = run_pipeline(spark, cfg, dry_run=True)
    assert not res.written and not out.exists()
    assert res.output.count() == 3


def test_flatten_dedup_example(spark, tmp_path):
    """man.txt:317-338 shape: flatten a list then dedup on the item."""
    src = tmp_path / "in.json"
    src.write_text(json.dumps([
        {"order": "A", "items": ["x", "y", "x"]},
        {"order": "B", "items": ["x"]},
    ]))
    out = tmp_path / "out.json"
    cfg = load_config({
        "source": {"type": "json", "file": str(src)},
        "flattening": {"sourceField": "items", "targetField": "item"},
        "dedup": {"keys": ["item"], "strategy": "first"},
        "destination": {"type": "json", "file": str(out)},
    })
    run_pipeline(spark, cfg)
    records = json.loads(out.read_text())
    assert sorted(r["item"] for r in records) == ["x", "y"]
    by_item = {r["item"]: r["order"] for r in records}
    assert by_item["x"] == "A"  # first encounter wins


def test_yaml_xml_roundtrip(spark, tmp_path):
    yml = tmp_path / "in.yaml"
    yml.write_text("- {id: 1, name: a}\n- {id: 2, name: b}\n")
    out_xml = tmp_path / "out.xml"
    cfg = load_config({
        "source": {"type": "yaml", "file": str(yml)},
        "destination": {"type": "xml", "file": str(out_xml)},
    })
    run_pipeline(spark, cfg)
    text = out_xml.read_text()
    assert "<records>" in text and text.count("<record>") == 2

    # read the XML back
    from etl_tool_spark.sources.registry import read_source

    df = read_source(spark, "xml", str(out_xml), attach_seq=False)
    assert sorted(r["name"] for r in df.collect()) == ["a", "b"]


def test_env_expansion(tmp_path, monkeypatch):
    monkeypatch.setenv("ETL_IN", str(tmp_path))
    cfg = load_config({"source": {"type": "csv", "file": "$ETL_IN/x.csv"}})
    assert cfg.source.file == f"{tmp_path}/x.csv"
    monkeypatch.delenv("ETL_IN")
    cfg = load_config({"source": {"type": "csv", "file": "$ETL_IN/x.csv"}})
    assert cfg.source.file == "/x.csv"  # unset → "" (util.go:12-34)
    # mixed known + unknown: the unknown var must STILL blank (Go
    # os.ExpandEnv maps unset → ""), even though part of the string expands
    monkeypatch.setenv("ETL_IN", "/data")
    cfg = load_config({"source": {"type": "csv", "file": "$ETL_IN/d/$UNSET.csv"}})
    assert cfg.source.file == "/data/d/.csv"
    # ${V} braces and %V% styles
    cfg = load_config({"source": {"type": "csv", "file": "${ETL_IN}/%ETL_IN%/x"}})
    assert cfg.source.file == "/data//data/x"


def test_filter_eval_errors_reach_error_file(spark, tmp_path):
    """Records whose filter predicate errors (null result) are written to
    the error file under skip mode (app.go:156-161) — not silently
    dropped; halt mode does NOT halt on them."""
    src = tmp_path / "in.csv"
    src.write_text("id,amount\n1,10\n2,xx\n3,30\n")
    err_dir = tmp_path / "errs"
    cfg = load_config({
        "source": {"type": "csv", "file": str(src)},
        "filter": "amount > 5",   # 'xx' → numeric coercion fails → null
        "errorHandling": {"mode": "skip", "errorFile": str(err_dir)},
        "destination": {"type": "csv", "file": str(tmp_path / "out")},
    })
    res = run_pipeline(spark, cfg)
    kept = {r["id"] for r in res.output.collect()}
    assert kept == {"1", "3"}
    errs = res.errors.collect()
    assert len(errs) == 1
    assert errs[0]["id"] == "2"
    assert errs[0]["etl_error_message"] == "filter eval error"
    import glob

    txt = "".join(open(f).read() for f in glob.glob(f"{err_dir}/*.csv"))
    assert "filter eval error" in txt and ",2," in txt or "2," in txt

    # halt mode: filter-eval errors do NOT halt (reference never halts on
    # filter errors, only on processing errors)
    cfg2 = load_config({
        "source": {"type": "csv", "file": str(src)},
        "filter": "amount > 5",
        "errorHandling": {"mode": "halt"},
        "destination": {"type": "csv", "file": str(tmp_path / "out2")},
    })
    res2 = run_pipeline(spark, cfg2)
    assert {r["id"] for r in res2.output.collect()} == {"1", "3"}


def test_loader_validation():
    with pytest.raises(ConfigError, match="command is required"):
        load_config({"source": {"type": "csv", "file": "x"},
                     "destination": {"type": "postgres",
                                     "loader": {"mode": "sql"}}})
    with pytest.raises(ConfigError, match="invalid mode"):
        load_config({"source": {"type": "csv", "file": "x"},
                     "destination": {"type": "postgres",
                                     "loader": {"mode": "copy2"}}})
    with pytest.warns(UserWarning, match="preload is ignored"):
        load_config({"source": {"type": "csv", "file": "x"},
                     "destination": {"type": "postgres",
                                     "loader": {"preload": ["TRUNCATE t"]}}})


def test_validation_catalog(spark):
    bads = [
        ({"source": {"type": "nope", "file": "x"}}, "unsupported type"),
        ({"source": {"type": "csv", "file": "x"},
          "mappings": [{"source": "a", "target": "t", "transform": "hash",
                        "params": {"algorithm": "md5", "fields": ["a"]}}],
          "fipsMode": True}, "FIPS"),
        ({"source": {"type": "csv", "file": "x"},
          "mappings": [{"source": "a", "target": "t",
                        "transform": "validateNumericRange",
                        "params": {"min": 10, "max": 1}}]}, "min > max"),
        ({"source": {"type": "csv", "file": "x"},
          "errorHandling": {"mode": "explode"}}, "mode"),
    ]
    for raw, _hint in bads:
        with pytest.raises(ConfigError):
            load_config(raw)


def test_error_file_stringifies_complex_columns(spark, tmp_path):
    """A failing record whose original row holds an array column must land
    in the CSV error file (stringified), not crash the CSV write — the
    reference's error writer uses the same %v rendering as its data
    writer (csv.go:448-462)."""
    src = tmp_path / "in.json"
    src.write_text(json.dumps([
        {"id": 1, "amount": "7", "tags": ["a", "b"]},
        {"id": 2, "amount": "nope", "tags": ["c"]},
    ]))
    err_dir = tmp_path / "errs"
    out = tmp_path / "out.json"
    cfg = load_config({
        "source": {"type": "json", "file": str(src)},
        "mappings": [
            {"source": "amount", "target": "amount", "transform": "mustToFloat"},
            {"source": "id", "target": "id"},
            {"source": "tags", "target": "tags"},
        ],
        "errorHandling": {"mode": "skip", "errorFile": str(err_dir)},
        "destination": {"type": "json", "file": str(out)},
    })
    run_pipeline(spark, cfg)
    assert [r["id"] for r in json.loads(out.read_text())] == [1]
    body = "".join((err_dir / f).read_text() for f in os.listdir(err_dir)
                   if f.endswith(".csv"))
    assert "nope" in body and "[c]" in body and "mustToFloat" in body


def test_sql_stage_join_two_sources(spark, tmp_path):
    """Spark-native playbook extension: two named sources joined by a
    'sql' stage, with the standard mapping/dedup/load chain on top."""
    orders = tmp_path / "orders.csv"
    orders.write_text("order_id,cust,amount\n1,a,10\n2,b,5\n3,a,7\n")
    custs = tmp_path / "custs.csv"
    custs.write_text("cust,region\na,west\nb,east\n")
    out = tmp_path / "out.csv"
    cfg = load_config({
        "sources": {
            "orders": {"type": "csv", "file": str(orders)},
            "custs": {"type": "csv", "file": str(custs)},
        },
        "sql": """
            SELECT o.order_id, o.amount, c.region
            FROM orders o JOIN custs c ON o.cust = c.cust
        """,
        "mappings": [
            {"source": "order_id", "target": "order_id", "transform": "mustToInt"},
            {"source": "region", "target": "region", "transform": "toUpperCase"},
            {"source": "amount", "target": "amount", "transform": "toInt"},
        ],
        "destination": {"type": "csv", "file": str(out)},
    })
    run_pipeline(spark, cfg)
    import csv as _csv
    files = [f for f in os.listdir(out) if f.endswith(".csv")]
    rows = []
    for f in files:
        with open(out / f) as fh:
            rows.extend(_csv.DictReader(fh))
    got = sorted((r["order_id"], r["region"], r["amount"]) for r in rows)
    assert got == [("1", "WEST", "10"), ("2", "EAST", "5"), ("3", "WEST", "7")]


def test_sql_stage_primary_source_is_src_view(spark, tmp_path):
    src = tmp_path / "in.csv"
    src.write_text("id,v\n1,x\n2,y\n")
    cfg = load_config({
        "source": {"type": "csv", "file": str(src)},
        "sql": "SELECT id, upper(v) AS v FROM src WHERE id <> '2'",
    })
    res = run_pipeline(spark, cfg)
    assert [(r["id"], r["v"]) for r in res.output.collect()] == [("1", "X")]


def test_sql_stage_validation():
    with pytest.raises(ConfigError, match="requires a 'sql' stage"):
        load_config({"sources": {"a": {"type": "csv", "file": "x.csv"}}})
    with pytest.raises(ConfigError, match="not a valid view name"):
        load_config({"sources": {"bad-name": {"type": "csv", "file": "x.csv"}},
                     "sql": "SELECT 1"})
    with pytest.raises(ConfigError, match="requires a 'source'"):
        load_config({"sql": "SELECT 1"})
    with pytest.raises(ConfigError, match="collides with the implicit"):
        load_config({"source": {"type": "csv", "file": "x.csv"},
                     "sources": {"src": {"type": "csv", "file": "y.csv"}},
                     "sql": "SELECT * FROM src"})


def test_streaming_playbook_matches_batch(spark, tmp_path):
    """source.stream: the same playbook semantics through Structured
    Streaming — the streamed output equals the batch run's output."""
    src_dir = tmp_path / "in"
    src_dir.mkdir()
    (src_dir / "a.csv").write_text("id,status,amount\n1,active,10\n2,bad,3\n")
    (src_dir / "b.csv").write_text("id,status,amount\n3,active,7\n4,active,x\n")
    base = {
        "filter": "status == 'active'",
        "mappings": [
            {"source": "id", "target": "id", "transform": "mustToInt"},
            {"source": "amount", "target": "amount", "transform": "toFloat"},
        ],
        "errorHandling": {"mode": "skip"},
    }
    stream_out = tmp_path / "out_stream"
    cfg_s = load_config({
        **base,
        "source": {"type": "csv", "file": str(src_dir), "stream": True},
        "destination": {"type": "parquet", "file": str(stream_out),
                        "checkpoint": str(tmp_path / "ckpt")},
    })
    res_s = run_pipeline(spark, cfg_s)
    assert res_s.written

    cfg_b = load_config({
        **base,
        "source": {"type": "csv", "file": str(src_dir)},
    })
    res_b = run_pipeline(spark, cfg_b)
    want = sorted((r["id"], r["amount"]) for r in res_b.output.collect())
    got = sorted((r["id"], r["amount"]) for r in res_s.output.collect())
    assert got == want and len(got) == 3  # id=4 amount 'x' -> toFloat null ok


def test_streaming_playbook_validation():
    src = {"type": "csv", "file": "in.csv", "stream": True}
    with pytest.raises(ConfigError, match="halt mode"):
        load_config({"source": src, "errorHandling": {"mode": "halt"}})
    with pytest.raises(ConfigError, match="dedup"):
        load_config({"source": src, "errorHandling": {"mode": "skip"},
                     "dedup": {"keys": ["id"]}})
    with pytest.raises(ConfigError, match="batch-only"):
        load_config({"source": src, "errorHandling": {"mode": "skip"},
                     "sql": "SELECT * FROM src"})


def test_metrics_from_load_action(spark, workdir):
    out = workdir / "m_out"
    cfg = load_config({
        "source": {"type": "csv", "file": str(workdir / "input.csv")},
        "filter": "status == 'active'",
        "destination": {"type": "parquet", "file": str(out)},
    })
    res = run_pipeline(spark, cfg)
    assert res.metrics == {"rows_out": 3}
    res2 = run_pipeline(spark, cfg, dry_run=True)
    assert res2.metrics == {"rows_out": 3}


def test_partitioned_write_options(spark, tmp_path):
    src = tmp_path / "in.csv"
    src.write_text("id,grp\n1,a\n2,b\n3,a\n")
    out = tmp_path / "pq"
    cfg = load_config({
        "source": {"type": "csv", "file": str(src)},
        "destination": {"type": "parquet", "file": str(out),
                        "options": {"partitionBy": "grp",
                                    "maxRecordsPerFile": 1}},
    })
    run_pipeline(spark, cfg)
    assert (out / "grp=a").is_dir() and (out / "grp=b").is_dir()
    back = spark.read.parquet(str(out)).filter("grp = 'a'")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert back.count() == 2


def test_error_count_metric(spark, workdir):
    errf = workdir / "errs2"
    cfg = load_config({
        "source": {"type": "csv", "file": str(workdir / "input.csv")},
        "mappings": [{"source": "user_id", "target": "uid",
                      "transform": "mustToInt"}],
        "errorHandling": {"mode": "skip", "errorFile": str(errf)},
        "destination": {"type": "parquet", "file": str(workdir / "m2_out")},
    })
    res = run_pipeline(spark, cfg)
    # 'abc' fails mustToInt; the errorFile write action reports it
    assert res.metrics["rows_error"] == 1
    assert res.metrics["rows_out"] == 3


def test_quality_gate_passes_and_blocks(spark, tmp_path):
    """The playbook quality gate loads when within budget and aborts
    the load (nothing written) when violations exceed maxFailures."""
    import os

    import yaml

    from etl_tool_spark.plans import load_config, run_pipeline
    from etl_tool_spark.plans.pipeline import QualityError

    src = tmp_path / "in.csv"
    src.write_text("id,status,amount\n1,active,10\n2,active,-3\n3,weird,5\n")

    def pb(max_failures):
        cfg = {
            "source": {"type": "csv", "file": str(src)},
            "mappings": [
                {"source": "id", "target": "id", "transform": "toInt"},
                {"source": "status", "target": "status"},
                {"source": "amount", "target": "amount",
                 "transform": "toFloat"},
            ],
            "quality": {
                "checks": [
                    {"type": "accepted_values", "column": "status",
                     "values": ["active", "inactive"]},
                    {"type": "range", "column": "amount", "min": 0},
                    {"type": "unique", "columns": ["id"]},
                ],
                "maxFailures": max_failures,
            },
            "destination": {"type": "csv",
                            "file": str(tmp_path / f"out{max_failures}.csv")},
        }
        p = tmp_path / f"pb{max_failures}.yaml"
        p.write_text(yaml.safe_dump(cfg))
        return load_config(str(p))

    # 2 violations (weird status, negative amount); budget 5 → loads
    res = run_pipeline(spark, pb(5))
    assert res.written and res.metrics["quality_failures"] == 2
    # budget 0 → aborts, nothing written
    with pytest.raises(QualityError, match="range.amount.=1"):
        run_pipeline(spark, pb(0))
    assert not os.path.exists(tmp_path / "out0.csv")


def test_quality_config_validation(tmp_path):
    import yaml

    from etl_tool_spark.plans import load_config
    from etl_tool_spark.plans.config import ConfigError

    src = tmp_path / "x.csv"
    src.write_text("a\n1\n")
    bad = {
        "source": {"type": "csv", "file": str(src)},
        "mappings": [{"source": "a", "target": "a"}],
        "quality": {"checks": [{"type": "relationship", "column": "a"}]},
    }
    p = tmp_path / "bad.yaml"
    p.write_text(yaml.safe_dump(bad))
    with pytest.raises(ConfigError, match="unknown or unsupported"):
        load_config(str(p))


def test_streaming_dead_letter_queue(spark, tmp_path):
    """Stream mode with deadLetterDir: clean rows land in the
    destination, errored records (with etl_error_message) land as
    JSON-lines in the DLQ — the streaming analogue of errorFile."""
    import yaml

    from etl_tool_spark.plans import load_config, run_pipeline

    src_dir = tmp_path / "in"
    src_dir.mkdir()
    (src_dir / "a.csv").write_text("id,amount\n1,10\n2,notnum\n3,30\n")
    cfg = {
        "source": {"type": "csv", "file": str(src_dir / "*.csv"),
                   "stream": True},
        "mappings": [
            {"source": "id", "target": "id", "transform": "toInt"},
            {"source": "amount", "target": "amount",
             "transform": "mustToFloat"},
        ],
        "errorHandling": {"mode": "skip",
                          "deadLetterDir": str(tmp_path / "dlq")},
        "destination": {"type": "csv", "file": str(tmp_path / "out"),
                        "checkpoint": str(tmp_path / "ckpt")},
    }
    p = tmp_path / "pb.yaml"
    p.write_text(yaml.safe_dump(cfg))
    res = run_pipeline(spark, load_config(str(p)))
    assert res.written
    clean_ids = sorted(int(r["id"]) for r in res.output.collect())
    assert clean_ids == [1, 3]
    dlq = spark.read.json(str(tmp_path / "dlq"))
    rows = dlq.collect()
    assert len(rows) == 1
    assert "mustToFloat" in rows[0]["etl_error_message"] or \
        "rule" in rows[0]["etl_error_message"]


def test_incremental_high_water_mark(spark, tmp_path):
    """Repeated playbook runs ingest only rows above the stored mark:
    run 1 loads everything and records max(id); run 2 with new+old rows
    appends only the new ones; a run with nothing new keeps the mark."""
    import json

    import yaml

    from etl_tool_spark.plans import load_config, run_pipeline

    src = tmp_path / "in.csv"
    state = tmp_path / "state.json"
    out = tmp_path / "out"
    cfg = {
        "source": {"type": "csv", "file": str(src),
                   "incremental": {"column": "id", "castTo": "long",
                                   "stateFile": str(state)}},
        "mappings": [{"source": "id", "target": "id", "transform": "toInt"},
                     {"source": "v", "target": "v"}],
        "destination": {"type": "csv", "file": str(out),
                        "options": {"mode": "append"}},
    }
    p = tmp_path / "pb.yaml"
    p.write_text(yaml.safe_dump(cfg))

    src.write_text("id,v\n1,a\n2,b\n")
    run_pipeline(spark, load_config(str(p)))
    assert json.load(open(state))["max"] == 2

    src.write_text("id,v\n1,a\n2,b\n3,c\n4,d\n")   # old rows re-present
    res2 = run_pipeline(spark, load_config(str(p)))
    assert res2.metrics["rows_out"] == 2            # only 3 and 4
    assert json.load(open(state))["max"] == 4

    res3 = run_pipeline(spark, load_config(str(p)))  # nothing new
    assert res3.metrics["rows_out"] == 0
    assert json.load(open(state))["max"] == 4
    rows = sorted(int(r["id"]) for r in
                  spark.read.option("header", True).csv(str(out)).collect())
    assert rows == [1, 2, 3, 4]


def test_multiple_destinations_fan_out(spark, tmp_path):
    import yaml

    from etl_tool_spark.plans import load_config, run_pipeline

    src = tmp_path / "in.csv"
    src.write_text("id,v\n1,a\n2,b\n")
    cfg = {
        "source": {"type": "csv", "file": str(src)},
        "mappings": [{"source": "id", "target": "id", "transform": "toInt"},
                     {"source": "v", "target": "v"}],
        "destination": {"type": "parquet", "file": str(tmp_path / "main.pq")},
        "destinations": [
            {"type": "csv", "file": str(tmp_path / "export.csv")},
            {"type": "json", "file": str(tmp_path / "export.json")},
        ],
    }
    p = tmp_path / "pb.yaml"
    p.write_text(yaml.safe_dump(cfg))
    run_pipeline(spark, load_config(str(p)))
    assert spark.read.parquet(str(tmp_path / "main.pq")).count() == 2
    assert spark.read.option("header", True) \
        .csv(str(tmp_path / "export.csv")).count() == 2
    import json

    assert len(json.load(open(tmp_path / "export.json"))) == 2


def test_destinations_only_playbook_writes(spark, tmp_path):
    """A playbook listing every sink under `destinations:` (no primary
    `destination:`) must write them all, not silently dry-run."""
    import yaml

    from etl_tool_spark.plans import load_config, run_pipeline

    src = tmp_path / "in.csv"
    src.write_text("id,v\n1,a\n2,b\n")
    cfg = {
        "source": {"type": "csv", "file": str(src)},
        "mappings": [{"source": "id", "target": "id", "transform": "toInt"},
                     {"source": "v", "target": "v"}],
        "destinations": [
            {"type": "parquet", "file": str(tmp_path / "a.pq")},
            {"type": "csv", "file": str(tmp_path / "b.csv")},
        ],
    }
    p = tmp_path / "pb.yaml"
    p.write_text(yaml.safe_dump(cfg))
    res = run_pipeline(spark, load_config(str(p)))
    assert res.written
    assert spark.read.parquet(str(tmp_path / "a.pq")).count() == 2
    assert spark.read.option("header", True).csv(
        str(tmp_path / "b.csv")).count() == 2


def test_custom_dml_playbook_metrics_do_not_block(spark, tmp_path):
    """run_pipeline over a custom-DML (loader.mode=sql) destination: the
    loader executes via an RDD action, which never fires DataFrame
    observation listeners — metrics must come from the loader counts,
    not an Observation.get that would block forever."""
    import sqlite3

    import yaml

    from etl_tool_spark.plans import load_config, run_pipeline

    db = tmp_path / "t.db"
    sqlite3.connect(db).executescript(
        "CREATE TABLE sink (id INTEGER, v TEXT)")
    src = tmp_path / "in.csv"
    src.write_text("id,v\n1,a\n2,b\n3,c\n")
    cfg = {
        "source": {"type": "csv", "file": str(src)},
        "mappings": [{"source": "id", "target": "id", "transform": "toInt"},
                     {"source": "v", "target": "v"}],
        "destination": {
            "type": "jdbc", "file": "",
            "loader": {"mode": "sql",
                       "command": "INSERT INTO sink VALUES ($1, $2)"},
            "options": {"driver_module": "sqlite3", "url": str(db),
                        "paramstyle": "qmark"}},
        # fan-out must run on the custom-DML path too
        "destinations": [{"type": "parquet",
                          "file": str(tmp_path / "archive.pq")}],
    }
    p = tmp_path / "pb.yaml"
    p.write_text(yaml.safe_dump(cfg))
    res = run_pipeline(spark, load_config(str(p)))
    assert res.written and res.load_processed == 3
    assert res.metrics["rows_out"] == 3
    got = sqlite3.connect(db).execute(
        "SELECT id, v FROM sink ORDER BY id").fetchall()
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    assert spark.read.parquet(str(tmp_path / "archive.pq")).count() == 3


def test_cdc_destination_batch_playbook(spark, tmp_path):
    """destination type 'cdc': a batch playbook folds its change-log
    frame into the versioned snapshot store (MERGE INTO surface)."""
    import yaml

    from etl_tool_spark.plans import load_config, run_pipeline
    from etl_tool_spark.streaming.cdc import list_versions, read_snapshot

    src = tmp_path / "changes.csv"
    src.write_text("id,seq,op,payload\n"
                   "1,10,I,a0\n1,11,U,a1\n2,10,I,b0\n2,12,D,\n")
    snap = str(tmp_path / "snap")
    cfg = {
        "source": {"type": "csv", "file": str(src)},
        "mappings": [
            {"source": "id", "target": "id", "transform": "mustToInt"},
            {"source": "seq", "target": "seq", "transform": "mustToInt"},
            {"source": "op", "target": "op"},
            {"source": "payload", "target": "payload"},
        ],
        "destination": {"type": "cdc", "file": snap,
                        "options": {"keys": ["id"], "buckets": 4}},
    }
    p = tmp_path / "pb.yaml"
    p.write_text(yaml.safe_dump(cfg))
    res = run_pipeline(spark, load_config(str(p)))
    assert res.written
    got = {r["id"]: r["payload"]
           for r in read_snapshot(spark, snap).collect()}
    assert got == {1: "a1"}                       # 2 deleted at seq 12
    assert list_versions(spark, snap) == [1]


def test_cdc_destination_requires_keys(tmp_path):
    import yaml

    from etl_tool_spark.plans import load_config

    cfg = {
        "source": {"type": "csv", "file": "in.csv"},
        "destination": {"type": "cdc", "file": "snap"},
    }
    p = tmp_path / "pb.yaml"
    p.write_text(yaml.safe_dump(cfg))
    with pytest.raises(ConfigError, match="cdc sink requires options.keys"):
        load_config(str(p))


def test_cdc_destination_streaming_playbook(spark, tmp_path):
    """A streaming playbook with a cdc destination: micro-batches merge
    into the snapshot; the result reads back the folded state."""
    import yaml

    from etl_tool_spark.plans import load_config, run_pipeline
    from etl_tool_spark.streaming.cdc import list_versions

    src = tmp_path / "changes"
    src.mkdir()
    spark.createDataFrame([(1, 10, "I", "a0"), (2, 10, "I", "b0")],
                          "id long, seq long, op string, payload string") \
         .coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame([(1, 20, "U", "a1")],
                          "id long, seq long, op string, payload string") \
         .coalesce(1).write.parquet(str(src / "f2"))
    snap = str(tmp_path / "snap")
    cfg = {
        "source": {"type": "parquet", "file": str(src / "*"),
                   "stream": True,
                   "options": {"maxFilesPerTrigger": 1}},
        "destination": {"type": "cdc", "file": snap,
                        "checkpoint": str(tmp_path / "ckpt"),
                        "options": {"keys": ["id"], "buckets": 4}},
        "errorHandling": {"mode": "skip"},
    }
    p = tmp_path / "pb.yaml"
    p.write_text(yaml.safe_dump(cfg))
    res = run_pipeline(spark, load_config(str(p)))
    got = {r["id"]: r["payload"] for r in res.output.collect()}
    assert got == {1: "a1", 2: "b0"}
    assert len(list_versions(spark, snap)) == 2   # one commit per batch


def test_cdc_source_reads_snapshot(spark, tmp_path):
    """source type 'cdc': a playbook consumes the folded snapshot a CDC
    playbook maintains (optionally version-pinned)."""
    import yaml

    from etl_tool_spark.plans import load_config, run_pipeline
    from etl_tool_spark.streaming.cdc import merge_cdc_batch

    snap = str(tmp_path / "snap")
    b1 = spark.createDataFrame(
        [(1, 10, "I", "a0"), (2, 10, "I", "b0")],
        "id long, seq long, op string, payload string")
    merge_cdc_batch(b1, snap, keys=["id"], batch_id=0)
    b2 = spark.createDataFrame(
        [(2, 20, "U", "b1")], "id long, seq long, op string, payload string")
    merge_cdc_batch(b2, snap, keys=["id"], batch_id=1)

    cfg = {
        "source": {"type": "cdc", "file": snap},
        "mappings": [{"source": "id", "target": "id"},
                     {"source": "payload", "target": "payload"}],
        "destination": {"type": "parquet", "file": str(tmp_path / "out.pq")},
    }
    p = tmp_path / "pb.yaml"
    p.write_text(yaml.safe_dump(cfg))
    run_pipeline(spark, load_config(str(p)))
    got = {r["id"]: r["payload"]
           for r in spark.read.parquet(str(tmp_path / "out.pq")).collect()}
    assert got == {1: "a0", 2: "b1"}

    # version pin reads history
    cfg["source"]["options"] = {"version": 1}
    cfg["destination"]["file"] = str(tmp_path / "out1.pq")
    p.write_text(yaml.safe_dump(cfg))
    run_pipeline(spark, load_config(str(p)))
    got1 = {r["id"]: r["payload"]
            for r in spark.read.parquet(str(tmp_path / "out1.pq")).collect()}
    assert got1 == {1: "a0", 2: "b0"}


def _error_playbook(tmp_path, spark, monkeypatch, non_list: bool) -> dict:
    """A parquet source with every error kind: filter-eval (null amount),
    mapping (mustToInt on a multi-item record), errorOnNonList (null
    list under the condition gate), plus empty, null and multi-item
    lists on clean records and a value no mapping may see."""
    from pyspark.sql import functions as F

    from etl_tool_spark.functions.registry import TRANSFORMS, TransformResult

    def raise_on_1e300(col, dtype, params, ctx):
        return TransformResult(F.when(
            col == "1e300", F.raise_error(F.lit("mapped a filtered row")))
            .otherwise(col))

    monkeypatch.setitem(TRANSFORMS, "raiseon1e300", raise_on_1e300)
    rows = [
        (1, 10.0, "1", ["a", "b"], "list"),     # clean, two items
        (2, 10.0, "2", [], "list"),             # clean, empty list
        (3, 10.0, "3", None, "list"),           # null list: non-list error
        (4, 10.0, "x", ["c", "d", "e"], "list"),  # mustToInt fails
        (5, None, "1e300", ["f"], "list"),      # filter eval error
        (6, 1.0, "6", ["g"], "list"),           # filtered out
        (7, 10.0, "7", None, "skip"),           # gate closed: passthrough
        (8, 10.0, "y", None, "list"),           # mapping error wins
        (9, None, "z", None, "list"),           # filter error wins
    ]
    src = str(tmp_path / "src.pq")
    spark.createDataFrame(
        rows, "id long, amount double, qty string, tags array<string>, "
              "kind string").write.parquet(src)
    return {
        "source": {"type": "parquet", "file": src},
        "filter": "amount > 5",
        "mappings": [
            # raises on the 1e300 of record 5, which failed the
            # filter: the error channel must keep it unmapped
            {"source": "qty", "target": "day", "transform": "raiseOn1e300"},
            {"source": "id", "target": "id"},
            {"source": "qty", "target": "qty", "transform": "mustToInt"},
            {"source": "tags", "target": "tags"},
            {"source": "kind", "target": "kind"},
        ],
        "flattening": {"sourceField": "tags", "targetField": "tag",
                       "errorOnNonList": non_list,
                       "conditionField": "kind", "conditionValue": "list"},
        "errorHandling": {"mode": "skip",
                          "errorFile": str(tmp_path / "errors")},
        "destination": {"type": "parquet", "file": str(tmp_path / "out")},
    }


@pytest.mark.parametrize("non_list", [False, True])
def test_error_file_one_row_per_source_record(spark, tmp_path, monkeypatch,
                                              non_list):
    """Errored records split off before flatten, as the reference drops
    them in its mapping loop (processor.go:94-101) before flattening
    (processor.go:110-122): the error file holds ONE row per errored
    source record, with its original fields and first error, in the
    reference's column order — checked against DuckDB over the source."""
    import duckdb

    cfg = load_config(_error_playbook(tmp_path, spark, monkeypatch, non_list))
    res = run_pipeline(spark, cfg)
    nl = "TRUE" if non_list else "FALSE"
    con = duckdb.connect()
    con.execute(f"""
        CREATE VIEW ch AS SELECT *, coalesce(
            CASE WHEN amount > 5 IS NULL THEN 'filter' END,
            CASE WHEN TRY_CAST(qty AS BIGINT) IS NULL THEN 'mapping' END,
            CASE WHEN {nl} AND kind = 'list' AND tags IS NULL
                 THEN 'non_list' END) AS err
        FROM read_parquet('{tmp_path}/src.pq/*.parquet')
        WHERE (amount > 5) IS NOT FALSE""")
    want_err = dict(con.execute(
        "SELECT id, err FROM ch WHERE err IS NOT NULL").fetchall())
    want_out = sorted(con.execute("""
        SELECT id, unnest(tags) FROM ch WHERE err IS NULL AND kind = 'list'
        UNION ALL SELECT id, NULL FROM ch WHERE err IS NULL AND kind <> 'list'
    """).fetchall(), key=str)
    assert want_err == ({3: "non_list", 4: "mapping", 5: "filter",
                         8: "mapping", 9: "filter"} if non_list else
                        {4: "mapping", 5: "filter", 8: "mapping",
                         9: "filter"})

    messages = {
        "filter": "filter eval error",
        "mapping": "mapping rule 2 (target 'qty'): mustToInt",
        "non_list": "flattening source field 'tags' not found or is nil",
    }
    errf = spark.read.option("header", True).csv(str(tmp_path / "errors"))
    assert errf.columns == ["amount", "id", "kind", "qty", "tags",
                            "etl_error_message"]
    for rows in (errf.collect(), res.errors.collect()):
        assert len(rows) == len(want_err)          # one per source record
        for r in rows:
            assert r["etl_error_message"].startswith(
                messages[want_err[int(r["id"])]]), r
    by_id = {int(r["id"]): r for r in errf.collect()}
    assert by_id[4]["qty"] == "x" and by_id[4]["tags"] == "[c, d, e]"
    assert by_id[5]["qty"] == "1e300" and by_id[5]["amount"] is None
    assert res.metrics["rows_error"] == len(want_err)

    out = spark.read.parquet(str(tmp_path / "out"))
    assert sorted(((r["id"], r["tag"]) for r in out.collect()),
                  key=str) == want_out


def test_skip_run_scans_source_once(spark, tmp_path, monkeypatch):
    """A skip-mode run with an error file feeds the error file and the
    load from one scan of its source (the error write and the load each
    re-ran scan → filter → mappings before: 3 scans), within the
    run's 4 jobs, and releases the blocks it materialized."""
    import re

    cfg = load_config(_error_playbook(tmp_path, spark, monkeypatch, True))
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()

    def last_executions(k):  # the UI store keeps only the latest ones
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        n = store.executionsCount()
        execs = store.executionsList(max(0, n - k), k)
        return [execs.apply(i) for i in range(execs.size())]

    before = max([e.executionId() for e in last_executions(1)], default=-1)
    persisted = sc._jsc.getPersistentRDDs().size()
    sc.setJobGroup("one-scan", "one-scan", False)
    try:
        res = run_pipeline(spark, cfg)
    finally:
        sc.setJobGroup(None, None, False)
    plans = [e.physicalPlanDescription() for e in last_executions(50)
             if e.executionId() > before]
    scans = sum(len(re.findall(r"^\(\d+\) Scan parquet", p, re.M))
                for p in plans)
    assert scans == 1, plans
    assert len(sc.statusTracker().getJobIdsForGroup("one-scan")) <= 4
    assert sc._jsc.getPersistentRDDs().size() == persisted
    assert len(res.output.collect()) == 3 and len(res.errors.collect()) == 5


def test_epoch_transforms_out_of_range(spark, tmp_path):
    """epochToDate and calculateAge on an epoch no timestamp can hold
    (±1e300, NaN, inf) do not abort the run: epochToDate passes the
    original value through (transform.go:148-153) and calculateAge
    yields nil, while a normal epoch still converts."""
    src, out = str(tmp_path / "src.pq"), str(tmp_path / "out")
    vals = {1: "1e300", 2: "-1e300", 3: "NaN", 4: "inf", 5: "1700000000"}
    spark.createDataFrame(list(vals.items()),
                          "id long, ts string").write.parquet(src)
    run_pipeline(spark, load_config({
        "source": {"type": "parquet", "file": src},
        "mappings": [
            {"source": "id", "target": "id"},
            {"source": "ts", "target": "day", "transform": "epochToDate"},
            {"source": "ts", "target": "age", "transform": "calculateAge"},
        ],
        "destination": {"type": "parquet", "file": out},
    }))
    got = {r["id"]: (r["day"], r["age"])
           for r in spark.read.parquet(out).collect()}
    assert {i: got[i] for i in range(1, 5)} == {
        i: (vals[i], None) for i in range(1, 5)}
    assert got[5][0] == "2023-11-14" and got[5][1] > 1000
