"""Self-test of the benchmark at tiny size.

    python3 -m pytest perfbench/tests -q

Checks that the inputs are a pure function of the seed, that the oracles
see what they should, and that two traced runs with the same seed agree
exactly on every deterministic count (live rows, jobs per op or batch,
files written) and on bytes per row within 1%.
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import harness  # noqa: E402
import inputs  # noqa: E402
import metrics  # noqa: E402
import oracles  # noqa: E402


def _write_inputs(seed: int, d: str) -> list[str]:
    os.makedirs(d, exist_ok=True)
    paths = [os.path.join(d, "playbook.parquet")]
    inputs.playbook_source(seed, 5000, paths[0])
    cdc = inputs.CdcBatches(seed, 2000, 500)
    gate = inputs.GateBatches(seed, 50)
    for i in range(3):
        paths.append(os.path.join(d, f"cdc_{i}.parquet"))
        cdc.write(i, paths[-1])
        paths.append(os.path.join(d, f"gate_{i}.parquet"))
        gate.write(i, paths[-1])
    return paths


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _write_inputs(7, str(tmp_path / "a"))
    b = _write_inputs(7, str(tmp_path / "b"))
    for pa_, pb_ in zip(a, b):
        assert filecmp.cmp(pa_, pb_, shallow=False), pa_


def test_different_seed_changes_every_input(tmp_path):
    a = _write_inputs(7, str(tmp_path / "a"))
    b = _write_inputs(8, str(tmp_path / "b"))
    for pa_, pb_ in zip(a, b):
        assert not filecmp.cmp(pa_, pb_, shallow=False), pa_


def test_gate_plants_are_duplicates_of_fresh_documents():
    gate = inputs.GateBatches(3, 100)
    texts = gate.table(1).column("text").to_pylist()
    fresh = set(gate.fresh_texts(0)) | set(gate.fresh_texts(1))
    planted = Counter(texts)
    planted.subtract(Counter(gate.fresh_texts(1)))
    planted = list(planted.elements())
    assert len(planted) == 100 - len(gate.fresh_texts(1))
    for t in planted:
        best = max(len(oracles.shingle_set(t) & oracles.shingle_set(f))
                   / len(oracles.shingle_set(t) | oracles.shingle_set(f))
                   for f in fresh)
        assert best >= 0.9


def test_near_pairs_finds_edits_and_only_edits():
    base = " ".join(f"w{i}" for i in range(40))
    edit = "x " + base.split(" ", 1)[1]
    other = " ".join(f"v{i}" for i in range(40))
    pairs = oracles.near_pairs([base, other, edit], 0.7)
    assert [(i, j) for i, j, _ in pairs] == [(0, 2)]
    assert pairs[0][2] == pytest.approx(37 / 39)


def test_tail_is_never_below_the_median():
    for n in (1, 3, 7, 19):
        xs = [float(i) for i in range(n)]
        assert harness.tail(xs) == (harness.median(xs), 0.5, n)
    xs = [float(i) for i in range(30)]
    value, q, n = harness.tail(xs)
    assert (value, q, n) == (19.0, 2 / 3, 30)
    assert sum(x > value for x in xs) == 10


def test_metric_lists_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} \
        == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} \
        == metrics.PER_LAYER


DETERMINISTIC = ["plans.jobs_per_op", "cdc.jobs_per_batch",
                 "gate.jobs_per_batch", "cdc.files_per_batch",
                 "sources.files_written", "store.files_total"]


def _traced_run(workload: str, seed: int) -> dict:
    cmd = [sys.executable, os.path.join(BENCH, "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", "1",
           "--trace", "1", "--size", "tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    assert p.returncode == 0, p.stderr[-4000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == set(metrics.PER_LAYER)
    assert (result["metrics"]["trace.op_tail_s"]["value"]
            >= result["metrics"]["trace.op_p50_s"]["value"])
    with open(os.path.join(ROOT, ".perfbench_out",
                           f"{workload}-seed{seed}-trace1.json"),
              encoding="utf-8") as f:
        return json.load(f)


@pytest.mark.parametrize("workload", ["playbook_batch", "cdc_mv_ingest"])
def test_same_seed_gives_identical_counts(workload):
    a = _traced_run(workload, 5)
    b = _traced_run(workload, 5)
    assert a["footprint"]["live_rows"] == b["footprint"]["live_rows"]
    # Parquet sizes follow row order inside each file, and the CDC merge
    # writes rows in shuffle-fetch order, which varies run to run: its
    # byte count wobbles by ~0.5% (the playbook's is exact).
    assert a["end_to_end"]["bytes_per_row"] == pytest.approx(
        b["end_to_end"]["bytes_per_row"], rel=0.01)
    for k in DETERMINISTIC:
        assert a["per_layer"][k] == b["per_layer"][k], k
