"""Benchmark entry point.

    python3 perfbench/run.py --workload playbook_batch --seed 1 \
        --seconds 15 --trace 0

Run from the root of a source checkout: the engine (``etl_tool_spark``)
is imported from there. Generates the workload's inputs from the seed,
starts one Spark session, warms up with a fixed number of ops, runs
the closed loop for a fixed number of ops sized to take about
``--seconds`` of engine time on the reference VM (so every run, on any
commit, times the same work on the same state), checks the outputs
against the oracles, and prints one JSON line as the last line of
stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` also runs a
second, traced session (Spark event log + a job group per layer call)
and prints the per-layer metrics. Everything is written under
``.perfbench_work/`` (removed at exit) and ``.perfbench_out/`` (one
JSON detail file per run) in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402
import metrics as M  # noqa: E402


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr,
          flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["playbook_batch", "cdc_mv_ingest",
                             "dedup_gate_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="input size preset (tiny: self-test only; "
                         "3 ops whatever --seconds says)")
    return ap.parse_args(argv)


def require_engine() -> None:
    """Fail fast, before any work, unless the engine imports from this
    checkout (not from some other copy on the path)."""
    sys.path.insert(0, ROOT)
    try:
        import etl_tool_spark
    except ImportError as e:
        log(f"cannot import the engine from {ROOT}: {e}")
        sys.exit(2)
    found = os.path.dirname(os.path.dirname(etl_tool_spark.__file__))
    if os.path.realpath(found) != os.path.realpath(ROOT):
        log(f"engine imported from {found}, not from the checkout {ROOT}")
        sys.exit(2)


def start_session(work: str, extra: dict | None = None):
    from etl_tool_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf={**harness.session_conf(work),
                                               **(extra or {})})
    t1 = time.perf_counter()
    spark.range(1).count()
    return spark, t1 - t0, time.perf_counter() - t1


def _cmd(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f"{pid} " + f.read().replace(b"\0", b" ")[:80].decode()
    except OSError:
        return str(pid)


def loop_summary(loop: dict) -> dict:
    tail, q, n = harness.tail(loop["ops"])
    return {"op_p50_s": harness.median(loop["ops"]),
            "read_p50_s": harness.median(loop["reads"]),
            "rows_per_s": loop["rows"] / loop["wall_s"],
            "op_tail_s": tail, "op_tail_quantile": q, "op_tail_samples": n}


def trace_metrics(wl, loop: dict, groups: dict, spans: list,
                  cores: int) -> dict:
    """spark.* per op over the traced loop's op and read groups (an op
    and the read after it), plus the job and shuffle counts per call of
    the ladder groups."""
    from tracing import by_name

    names = by_name(groups)

    def per_call(name: str, key: str, skip_first: bool = True) -> float:
        """Median of ``key`` over the calls of span ``name``; the gate
        ladder's first call (cold pandas-UDF workers, empty store) is
        skipped by default."""
        vals = [g[key] for gid, g in groups.items()
                if gid and gid.split("#")[0] == name
                and not (skip_first and gid.endswith("#0"))]
        n_calls = sum(1 for s in spans if s["name"] == name) - skip_first
        # calls that launched no job have no group in the event log
        vals += [0] * max(0, n_calls - len(vals))
        return harness.median(vals) if vals else 0

    loop_groups = [names.get(f"{wl.name}.{k}", {}) for k in ("op", "read")]
    tot = {k: sum(g.get(k, 0) for g in loop_groups)
           for k in ("jobs", "tasks", "executor_run_s", "executor_cpu_s",
                     "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
                     "spill_bytes")}
    n_ops = len(loop["ops"])
    out = {f"spark.{k}": v / n_ops for k, v in tot.items()}
    out["spark.utilization"] = tot["executor_run_s"] / (loop["wall_s"] * cores)
    out.update({
        "plans.jobs_per_op": per_call("plans.run_pipeline", "jobs", False),
        "operators.dedup_shuffle_bytes": per_call(
            "ladder.operators.dedup", "shuffle_write_bytes", False),
        "cdc.jobs_per_batch": per_call("cdc.update_agg_mv", "jobs", False),
        "cdc.shuffle_write_bytes_per_batch": per_call(
            "cdc.update_agg_mv", "shuffle_write_bytes", False),
        "gate.jobs_per_batch": per_call("gate.land", "jobs"),
    })
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    scratch = harness.pin_env(ROOT, work)
    require_engine()
    for d in scratch:
        os.makedirs(d, exist_ok=True)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)

    import workloads
    from tracing import Tracer, event_log_conf, parse_event_log

    size = workloads.SIZES[args.size]
    # a traced run times two loops (untraced, then traced) and the layer
    # ladders; each loop gets half the budget to keep the run short
    loop_s = args.seconds / 2 if args.trace else args.seconds
    n_ops = workloads.loop_ops(args.workload, size, loop_s)
    spark = None
    try:
        t0 = time.perf_counter()
        wl = workloads.WORKLOADS[args.workload](None, args.seed, work, size)
        input_gen_s = time.perf_counter() - t0
        log(f"inputs generated in {input_gen_s:.2f}s")

        # ---- untraced session: setup, warm-up, timed loop -------------
        with harness.RssSampler() as rss:
            t0 = time.perf_counter()
            spark, start_s, first_s = start_session(work)
            fingerprint = harness.host_fingerprint(spark)
            wl.spark = spark
            wl.begin("timed")
            warm_s, settled = harness.warm_up(wl.warm, size["warm_ops"],
                                              log=log)
            setup_s = time.perf_counter() - t0
            loop = harness.closed_loop(wl, n_ops,
                                       Tracer(spark, tag_jobs=False), log=log)
            peak_rss = rss.peak
            peak_by_pid = {_cmd(p): b for p, b in rss.peak_by_pid.items()}
        failed, check = wl.check()
        log(f"timed: {len(loop['ops'])} ops, failed {failed}: {check}")
        nbytes, live = wl.footprint()
        summary = loop_summary(loop)
        e2e = {"setup_s": setup_s, "rows_per_s": summary["rows_per_s"],
               "op_p50_s": summary["op_p50_s"],
               "read_p50_s": summary["read_p50_s"],
               "bytes_per_row": nbytes / live,
               "peak_rss_mb": peak_rss / 2**20}
        attempted = len(loop["ops"])
        detail = {"args": vars(args), "host": fingerprint,
                  "input": wl.input_stats, "input_gen_s": input_gen_s,
                  "session": {"start_s": start_s, "first_action_s": first_s},
                  "warm_up_s": warm_s, "warm_up_settled": settled,
                  "ops_s": loop["ops"],
                  "reads_s": loop["reads"],
                  "op_steal_s": loop["op_steal_s"],
                  "footprint": {"bytes": nbytes, "live_rows": live},
                  "peak_rss_by_process": peak_by_pid,
                  "summary": summary,
                  "end_to_end": e2e, "check": check}

        if args.trace:
            spark.stop()
            log_dir = os.path.join(work, "eventlog")
            os.makedirs(log_dir)
            spark, _, _ = start_session(work, event_log_conf(log_dir))
            wl.spark = spark
            tracer = Tracer(spark, tag_jobs=True)
            wl.begin("traced")
            # the JVM is already warm; one op warms the new session
            harness.warm_up(wl.warm, 1, log=log)
            tloop = harness.closed_loop(wl, n_ops, tracer, log=log)
            tfailed, tcheck = wl.check()
            log(f"traced: {len(tloop['ops'])} ops, failed {tfailed}")
            failed += tfailed
            attempted += len(tloop["ops"])
            tsum = loop_summary(tloop)
            layers = {"session.start_s": start_s,
                      "session.first_action_s": first_s}
            for name, cls in workloads.WORKLOADS.items():
                other = wl if name == args.workload else cls(
                    spark, args.seed, work, size)
                t0 = time.perf_counter()
                layers.update(other.ladder(tracer))
                log(f"ladder {name}: {time.perf_counter() - t0:.1f}s")
            harness.stop_spark_and_children(spark)
            spark = None
            groups = parse_event_log(log_dir)
            layers.update(trace_metrics(wl, tloop, groups, tracer.spans,
                                        harness.ncpus()))
            layers.update({
                "trace.op_p50_s": tsum["op_p50_s"],
                "trace.op_tail_s": tsum["op_tail_s"],
                "trace.op_tail_samples": tsum["op_tail_samples"],
                "trace.overhead_op_p50_s": tsum["op_p50_s"] - e2e["op_p50_s"],
                "trace.overhead_rows_per_s": (tsum["rows_per_s"]
                                              - e2e["rows_per_s"]),
            })
            detail.update({"traced": {"summary": tsum, "ops_s": tloop["ops"],
                                      "check": tcheck},
                           "per_layer": layers, "spans": tracer.spans,
                           "groups": {str(k): v for k, v in groups.items()}})
            out_metrics = {k: {"value": layers[k], "unit": u}
                           for k, u in M.PER_LAYER.items()}
        else:
            out_metrics = {k: {"value": e2e[k], "unit": u}
                           for k, u in M.END_TO_END.items()}
    finally:
        harness.stop_spark_and_children(spark)
        shutil.rmtree(work, ignore_errors=True)

    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": out_metrics}
    detail["result"] = result
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w", encoding="utf-8") as f:
        json.dump(detail, f, indent=1, default=str)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
