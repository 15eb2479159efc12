"""The three closed-loop workloads, each driving the engine's public API.

A workload owns its inputs and its state directories. ``begin(phase)``
starts a fresh state (a new snapshot, store or output set) so the
untraced and traced loops of one process never share state; ``warm``
runs an untimed op and read of the timed shape (into the phase's state
for the ingest workloads, into throw-away output dirs for the playbook),
so the read path is warm too; ``prepare`` /
``op`` / ``read`` / ``after`` are one iteration of the closed loop;
``check`` compares the phase's final state with the oracle; ``ladder``
times the layers one public call at a time for the traced run.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

import inputs
import oracles
from harness import dir_stats

SIZES = {
    "full": {"playbook_rows": 200_000, "cdc_keys": 200_000,
             "cdc_rows": 20_000, "cdc_vacuum_every": 5,
             "gate_docs": 1000, "gate_compact_every": 5,
             "warm_ops": 3},
    "tiny": {"playbook_rows": 20_000, "cdc_keys": 5_000,
             "cdc_rows": 1_000, "cdc_vacuum_every": 2,
             "gate_docs": 100, "gate_compact_every": 2,
             "ops": 3, "warm_ops": 4},
}
GATE_THRESHOLD = 0.7          # land_clean_batch's default Jaccard threshold
# one measured CDC / gate ladder batch and one rep of each playbook prefix:
# every traced run executes all three ladders, and it must end well inside
# three minutes on a busy host (≈ 145 s on the reference VM with two each)
LADDER_BATCHES = 1
LADDER_REPS = 1


def loop_ops(workload: str, size: dict, seconds: float) -> int:
    """Ops in one timed loop: the preset's fixed count (tiny), else as
    many as take about ``seconds`` at the workload's ``iter_s``, at least
    three. A count, not a deadline: the ingest workloads' op cost grows
    with the number of batches applied, so a loop that ran until a
    deadline would time more, costlier ops whenever the host ran fast."""
    if "ops" in size:
        return size["ops"]
    return max(3, round(seconds / WORKLOADS[workload].iter_s))


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _timed(fn):
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


class Workload:
    name = ""

    def __init__(self, spark, seed: int, work: str, size: dict):
        self.spark, self.seed, self.work, self.size = spark, seed, work, size
        self.phase = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, self.name, *parts)

    def begin(self, phase: str) -> None:
        self.phase = phase
        shutil.rmtree(self.path(phase), ignore_errors=True)
        os.makedirs(self.path(phase))

    def prepare(self, i: int) -> None:
        pass

    def after(self, i: int) -> None:
        pass


# --------------------------------------------------------------------------
# playbook_batch
# --------------------------------------------------------------------------

class PlaybookBatch(Workload):
    """Repeated ``run_pipeline`` of one reference-style playbook."""

    name = "playbook_batch"
    iter_s = 3.4          # op + read, warm, on the reference VM

    def __init__(self, spark, seed, work, size):
        super().__init__(spark, seed, work, size)
        os.makedirs(self.path(), exist_ok=True)
        self.src = self.path("source.parquet")
        self.rows = size["playbook_rows"]
        self.input_stats = inputs.playbook_source(seed, self.rows, self.src)
        self._expected = None

    def begin(self, phase):
        super().begin(phase)
        self.metrics: list[dict] = []
        self.rng = inputs.rng_for(self.seed, "playbook", 1)

    def _dirs(self, tag) -> tuple[str, str]:
        return (self.path(self.phase, f"out_{tag}"),
                self.path(self.phase, f"errors_{tag}"))

    def _run(self, tag) -> dict:
        from etl_tool_spark.plans import load_config, run_pipeline

        out, err = self._dirs(tag)
        cfg = load_config(inputs.playbook_config(self.src, out, err))
        return run_pipeline(self.spark, cfg).metrics

    def warm(self, k: int) -> float:
        op_s = _timed(lambda: self._run(f"warm{k}"))
        self._read(self._dirs(f"warm{k}")[0])
        for d in self._dirs(f"warm{k}"):
            shutil.rmtree(d, ignore_errors=True)
        return op_s

    def op(self, i: int) -> int:
        self.metrics.append(self._run(i))
        return self.rows

    def read(self, i: int) -> None:
        self._read(self._dirs(i)[0])

    def _read(self, path: str) -> None:
        """A key-range count and a per-status aggregate over the output."""
        span = max(1, self.input_stats["customers"] // 10)
        lo = int(self.rng.integers(0, self.input_stats["customers"]))
        out = self.spark.read.parquet(path)
        out.filter(F.col("customer_id").between(lo, lo + span)).count()
        out.groupBy("status").agg(F.sum("amount"), F.count("tag")).collect()

    def after(self, i: int) -> None:
        self.last = i
        if i > 0:
            for d in self._dirs(i - 1):
                shutil.rmtree(d, ignore_errors=True)

    def expected(self) -> dict:
        if self._expected is None:
            self._expected = oracles.playbook_expected(self.src)
        return self._expected

    def check(self) -> tuple[int, dict]:
        """(failed ops, detail). Every op's ``rows_out`` Observation must
        equal the oracle's row count, and the last op's output rows must
        hash-match the oracle's.

        The error-file row count is reported, not checked: the engine
        flattens mapping-errored records along with the clean ones, so a
        record that fails ``mustToInt`` lands in the error file once per
        list item (and not at all when its list is empty), where the
        reference writes it once. ``rows_error`` and
        ``rows_error_reference`` in the detail show the gap."""
        exp = self.expected()
        bad = [k for k, m in enumerate(self.metrics)
               if m.get("rows_out") != exp["rows"]]
        got = oracles.playbook_actual(self._dirs(self.last)[0])
        detail = {"expected": exp, "actual_last": got,
                  "ops_with_wrong_counts": bad,
                  "rows_error": self.metrics[-1].get("rows_error"),
                  "rows_error_reference": exp["rows_error"]}
        if got != {"rows": exp["rows"], "hash": exp["hash"]}:
            return len(self.metrics), detail
        return len(bad), detail

    def footprint(self) -> tuple[int, int]:
        """(bytes on disk, live rows) of the last op's output."""
        return (dir_stats(self._dirs(self.last)[0])[1],
                self.metrics[-1].get("rows_out") or 1)

    def ladder(self, tracer) -> dict:
        """Cumulative prefixes of the playbook, each run to completion by
        a no-op sink; a stage's self time is its prefix minus the one
        before it. The error file and the parquet load are timed as the
        real writes the pipeline does."""
        from etl_tool_spark.operators.dedup import dedup
        from etl_tool_spark.operators.errors import (POS_COL, SEQ_COL,
                                                     split_errors,
                                                     write_error_file)
        from etl_tool_spark.operators.filter import apply_filter_with_errors
        from etl_tool_spark.operators.flatten import flatten
        from etl_tool_spark.operators.mapping import apply_mappings
        from etl_tool_spark.plans import load_config, run_pipeline
        from etl_tool_spark.plans.pipeline import build_pipeline
        from etl_tool_spark.sources.registry import read_source
        from etl_tool_spark.sources.sinks import write_sink

        self.begin("ladder")
        out, err = self._dirs("ladder")
        raw = inputs.playbook_config(self.src, out, err)
        t_load = []
        for _ in range(20):
            t_load.append(_timed(lambda: load_config(raw)))
        cfg = load_config(raw)
        t_build = []
        for _ in range(5):
            with tracer.span("plans.build"):
                t_build.append(_timed(lambda: build_pipeline(self.spark, cfg)))
        with tracer.span("plans.run_pipeline"):
            run_pipeline(self.spark, cfg)
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(err, ignore_errors=True)

        def frames():
            src = read_source(self.spark, "parquet", self.src, {})
            kept, ferr = apply_filter_with_errors(src, cfg.filter)
            mapped = apply_mappings(kept, cfg.mappings,
                                    extra_keep=(SEQ_COL,))
            flat = flatten(mapped, "tags", "tag")
            split = split_errors(flat)
            deduped = dedup(split.clean, ["customer_id", "tag"], "max",
                            "amount", seq_col=SEQ_COL)
            deduped = deduped.drop(*[c for c in (SEQ_COL, POS_COL)
                                     if c in deduped.columns])
            errors = split.errors.unionByName(ferr, allowMissingColumns=True)
            return {"sources.read": src, "expr.filter": kept,
                    "functions.mapping": mapped, "operators.flatten": flat,
                    "operators.dedup": deduped}, errors

        stages = ["sources.read", "expr.filter", "functions.mapping",
                  "operators.flatten", "operators.dedup"]
        times = {s: [] for s in stages + ["operators.errors_write",
                                          "sources.write"]}
        counts = {}
        for r in range(LADDER_REPS):
            fs, errors = frames()
            for s in stages:
                obs = Observation()
                frame = fs[s].observe(obs, F.count(F.lit(1)).alias("n"))
                with tracer.span(f"ladder.{s}"):
                    times[s].append(_timed(
                        lambda: frame.write.format("noop")
                        .mode("overwrite").save()))
                counts[s] = obs.get["n"]
            with tracer.span("ladder.operators.errors_write"):
                times["operators.errors_write"].append(_timed(
                    lambda: write_error_file(errors, f"{err}_{r}")))
            with tracer.span("ladder.sources.write"):
                times["sources.write"].append(_timed(
                    lambda: write_sink(fs["operators.dedup"], "parquet",
                                       f"{out}_{r}", {})))
        med = {s: _median(v) for s, v in times.items()}
        files, nbytes = dir_stats(f"{out}_0")
        return {
            "plans.load_config_s": _median(t_load),
            "plans.build_s": _median(t_build),
            "sources.read_s": med["sources.read"],
            "expr.filter_s": med["expr.filter"] - med["sources.read"],
            "functions.mapping_s": (med["functions.mapping"]
                                    - med["expr.filter"]),
            "operators.flatten_s": (med["operators.flatten"]
                                    - med["functions.mapping"]),
            "operators.dedup_s": (med["operators.dedup"]
                                  - med["operators.flatten"]),
            "operators.errors_write_s": med["operators.errors_write"],
            "sources.write_s": med["sources.write"] - med["operators.dedup"],
            "operators.flatten_rows_ratio": (counts["operators.flatten"]
                                             / counts["functions.mapping"]),
            "sources.files_written": files,
            "sources.bytes_written": nbytes,
        }


# --------------------------------------------------------------------------
# cdc_mv_ingest
# --------------------------------------------------------------------------

class BatchIngest(Workload):
    """An ingest loop over numbered batches into one growing state.
    Warm-up batches go into the same state as the timed ones (batch ids
    must be sequential), so the timed loop continues where warm-up
    stopped."""

    def begin(self, phase):
        super().begin(phase)
        self.next_batch = 0

    def _batch(self, i: int) -> str:
        p = self.path(self.phase, f"batch_{i}.parquet")
        if not os.path.exists(p):
            self.batches.write(i, p)
        return p

    def prepare(self, i: int) -> None:
        self._batch(self.next_batch)

    def warm(self, k: int) -> float:
        op_s = _timed(lambda: self.op(k))
        self.read(k)
        return op_s

    def op(self, i: int) -> int:
        b = self.next_batch
        self.apply(b)
        self.next_batch += 1
        return self.batches.rows(b)


class CdcMvIngest(BatchIngest):
    """Change batches through ``update_agg_mv`` (snapshot merge + MV
    refresh) on a snapshot bootstrapped with every key, a range count and
    a time-travel read after each, and ``vacuum`` every few batches."""

    name = "cdc_mv_ingest"
    iter_s = 4.0

    def __init__(self, spark, seed, work, size):
        super().__init__(spark, seed, work, size)
        self.batches = inputs.CdcBatches(seed, size["cdc_keys"],
                                         size["cdc_rows"])
        self.vacuum_every = size["cdc_vacuum_every"]
        self.input_stats = {"keys": size["cdc_keys"],
                            "rows_per_batch": size["cdc_rows"],
                            "delete_rate": inputs.DELETE_RATE}

    def begin(self, phase):
        super().begin(phase)
        self.snap = self.path(phase, "snapshot")
        self.mv = self.path(phase, "mv")
        self.rng = inputs.rng_for(self.seed, "cdc", 1 << 21)
        self.op(-1)     # batch 0: every key, so the snapshot starts full

    def _update(self, b: int, snap: str, mv: str) -> None:
        from etl_tool_spark.operators.mv import update_agg_mv

        update_agg_mv(self.spark, snap, mv,
                      self.spark.read.parquet(self._batch(b)),
                      keys=["k"], group_col="grp", value_col="val",
                      batch_id=b)

    def apply(self, b: int) -> None:
        from etl_tool_spark.streaming.cdc import vacuum

        self._update(b, self.snap, self.mv)
        if b > 0 and b % self.vacuum_every == 0:
            vacuum(self.spark, self.snap, keep_last=3, min_age_s=0.0)

    def read(self, i: int) -> None:
        from etl_tool_spark.streaming.cdc import list_versions, read_snapshot

        n_keys = self.size["cdc_keys"]
        lo = int(self.rng.integers(0, n_keys))
        (read_snapshot(self.spark, self.snap)
         .filter(F.col("k").between(lo, lo + n_keys // 10)).count())
        versions = list_versions(self.spark, self.snap)
        read_snapshot(self.spark, self.snap,
                      version=max(versions[0], versions[-1] - 2)).count()

    def check(self) -> tuple[int, dict]:
        """The final snapshot and MV must equal a one-shot DuckDB fold of
        every batch applied (bootstrap and warm-up included)."""
        from etl_tool_spark.streaming.cdc import read_snapshot

        n = self.next_batch
        exp = oracles.cdc_expected([self._batch(b) for b in range(n)])
        snap = read_snapshot(self.spark, self.snap).select("k", "grp", "val")
        mv = self.spark.read.parquet(f"{self.mv}/v{n - 1}")
        got = {"snapshot": oracles.arrow_row_set(snap.toArrow(),
                                                 oracles.SNAPSHOT_ROW_HASH),
               "mv": oracles.arrow_row_set(mv.toArrow(), oracles.MV_ROW_HASH)}
        return (0 if got == exp else n), {"batches": n, "expected": exp,
                                          "actual": got}

    def footprint(self) -> tuple[int, int]:
        """(bytes on disk, live rows) of snapshot + MV after a final
        ``vacuum``, so the figure does not depend on where the run stopped
        in the vacuum cadence."""
        from etl_tool_spark.streaming.cdc import read_snapshot, vacuum

        vacuum(self.spark, self.snap, keep_last=3, min_age_s=0.0)
        return (dir_stats(self.snap)[1] + dir_stats(self.mv)[1],
                read_snapshot(self.spark, self.snap).count())

    def ladder(self, tracer) -> dict:
        """Per batch: ``merge_cdc_batch`` alone on a twin snapshot, then
        ``update_agg_mv`` (merge + MV refresh) on the measured one, then a
        current-version read; ``vacuum`` once at the end. Both snapshots
        start from the same bootstrap batch."""
        from etl_tool_spark.streaming.cdc import (list_versions,
                                                  merge_cdc_batch,
                                                  read_snapshot, vacuum)

        self.begin("ladder")
        twin = self.path("ladder", "twin")
        merge_cdc_batch(self.spark.read.parquet(self._batch(0)), twin,
                        ["k"], batch_id=0)
        merge, update, reads, new_files = [], [], [], []
        for b in range(1, LADDER_BATCHES + 1):
            batch = self.spark.read.parquet(self._batch(b))
            with tracer.span("cdc.merge"):
                merge.append(_timed(lambda: merge_cdc_batch(
                    batch, twin, ["k"], batch_id=b)))
            before = dir_stats(self.snap)[0] + dir_stats(self.mv)[0]
            with tracer.span("cdc.update_agg_mv"):
                update.append(_timed(lambda: self._update(b, self.snap,
                                                          self.mv)))
            new_files.append(dir_stats(self.snap)[0] + dir_stats(self.mv)[0]
                             - before)
            with tracer.span("cdc.read_snapshot"):
                reads.append(_timed(
                    lambda: read_snapshot(self.spark, self.snap).count()))
        with tracer.span("cdc.vacuum"):
            t_vac = _timed(lambda: vacuum(self.spark, self.snap,
                                          keep_last=3, min_age_s=0.0))
        return {
            "cdc.merge_s": _median(merge),
            "mv.refresh_s": _median(update) - _median(merge),
            "cdc.files_per_batch": _median(new_files),
            "cdc.read_snapshot_s": _median(reads),
            "cdc.vacuum_s": t_vac,
            "cdc.versions_live": len(list_versions(self.spark, self.snap)),
        }


# --------------------------------------------------------------------------
# dedup_gate_ingest
# --------------------------------------------------------------------------

class DedupGateIngest(BatchIngest):
    """Document batches through ``land_clean_batch`` into one growing
    store, ``compact_store`` every few batches."""

    name = "dedup_gate_ingest"
    iter_s = 4.0

    def __init__(self, spark, seed, work, size):
        super().__init__(spark, seed, work, size)
        self.batches = inputs.GateBatches(seed, size["gate_docs"])
        self.compact_every = size["gate_compact_every"]
        self.input_stats = {"docs_per_batch": size["gate_docs"],
                            "exact_rate": inputs.EXACT_RATE,
                            "near_rate": inputs.NEAR_RATE}

    def begin(self, phase):
        super().begin(phase)
        self.store = self.path(phase, "store")
        self.out = self.path(phase, "landed")
        self.rng = inputs.rng_for(self.seed, "gate", 1 << 21)

    def _land(self, b: int) -> None:
        from etl_tool_spark.streaming.dedup import land_clean_batch

        land_clean_batch(self.spark.read.parquet(self._batch(b)), b,
                         self.store, self.out)

    def apply(self, b: int) -> None:
        from etl_tool_spark.llm.store import compact_store

        self._land(b)
        if (b + 1) % self.compact_every == 0:
            compact_store(self.spark, self.store)

    def read(self, i: int) -> None:
        hi = self.next_batch * self.size["gate_docs"]
        lo = int(self.rng.integers(0, hi))
        (self.spark.read.parquet(self.out)
         .filter(F.col("doc_id").between(lo, lo + hi // 10)).count())

    def check(self) -> tuple[int, dict]:
        """The landed corpus must be exactly one copy of every fresh
        document (planted exact copies and near-dups all dropped), and an
        exhaustive scan must find no exact duplicate and no pair at or
        above the gate's Jaccard threshold."""
        n = self.next_batch
        texts = pq.read_table(self.out, columns=["text"]) \
            .column("text").to_pylist()
        fresh = {t for b in range(n) for t in self.batches.fresh_texts(b)}
        near = oracles.near_pairs(texts, GATE_THRESHOLD)
        exact_dups = len(texts) - len(set(texts))
        ok = not near and exact_dups == 0 and set(texts) == fresh
        return (0 if ok else n), {
            "batches": n, "landed": len(texts), "expected_landed": len(fresh),
            "exact_duplicates": exact_dups,
            "near_pairs": [(i, j, round(jac, 4)) for i, j, jac in near]}

    def footprint(self) -> tuple[int, int]:
        """(bytes on disk, live rows) of store + landed corpus after a
        final ``compact_store``, so the figure does not depend on where
        the run stopped in the compaction cadence."""
        from etl_tool_spark.llm.store import compact_store

        compact_store(self.spark, self.store)
        landed = self.spark.read.parquet(self.out).count()
        return dir_stats(self.store)[1] + dir_stats(self.out)[1], landed

    def ladder(self, tracer) -> dict:
        """Per batch: the minhash signature pass alone (with an action),
        then ``land_clean_batch``; ``compact_store`` once at the end. The
        first batch pays the pandas-UDF worker start and creates the
        store, so steady-state times skip it."""
        from etl_tool_spark.llm.dedup import minhash_signature
        from etl_tool_spark.llm.store import compact_store

        self.begin("ladder")
        minhash, land = [], []
        for b in range(LADDER_BATCHES + 1):
            docs = self.spark.read.parquet(self._batch(b))
            sig = docs.select(minhash_signature(F.col("text")).alias("s"))
            with tracer.span("llm.minhash"):
                minhash.append(_timed(lambda: sig.write.format("noop")
                                      .mode("overwrite").save()))
            with tracer.span("gate.land"):
                land.append(_timed(lambda: self._land(b)))
        n_landed = self.spark.read.parquet(self.out).count()
        files, nbytes = dir_stats(self.store)
        with tracer.span("store.compact"):
            t_compact = _timed(lambda: compact_store(self.spark, self.store))
        return {
            "llm.minhash_s": _median(minhash[1:]),
            "gate.land_s": _median(land[1:]),
            "gate.survivor_ratio": n_landed / sum(
                self.batches.rows(b) for b in range(LADDER_BATCHES + 1)),
            "store.files_total": files,
            "store.bytes": nbytes,
            "store.compact_s": t_compact,
        }


WORKLOADS = {w.name: w for w in (PlaybookBatch, CdcMvIngest, DedupGateIngest)}
