"""Run-environment pinning, process-tree memory sampling, the warm-up
protocol, the closed loop, and the statistics the workloads report."""

from __future__ import annotations

import os
import platform
import signal
import statistics
import subprocess
import threading
import time

# At 4g and up the engine pins the heap (Xms = Xmx) and pre-touches it,
# as it does by default on any host with 8 GiB or more available; below 4g
# it grows the heap on demand, and the driver's peak memory then swings
# ±10% run to run with the GC's timing.
DRIVER_MEM = "4g"


def ncpus() -> int:
    return len(os.sched_getaffinity(0))


def pin_env(root: str, work: str) -> list[str]:
    """Everything the engine reads from the environment, fixed here so a
    run does not depend on the memory free at start or on the caller's
    shell: cores, driver heap, Spark scratch space, temp files, and the
    path the pandas-UDF workers import the engine from. Must run before
    the engine is imported: it reads ``SPARK_GRAFT_CPUS`` at import time
    to size its shuffle partitions. Returns the scratch directories the
    environment names, which the caller creates before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    py_path = [root] + [p for p in os.environ.get("PYTHONPATH", "")
                        .split(os.pathsep) if p and p != root]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(ncpus()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "PYTHONPATH": os.pathsep.join(py_path),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON", "python3"),
        # every JVM the session starts (the launcher too): temp files in
        # the work dir, and no perf-data file, which would go to /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    os.environ.pop("SPARK_MASTER", None)
    return [tmp, local]


def session_conf(work: str) -> dict[str, str]:
    # no JVM options here: passing any would switch off the engine's own
    # heap pinning and pre-touch
    return {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}


def host_fingerprint(spark) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    jvm = spark.sparkContext._jvm
    return {"nproc": ncpus(), "mem_total_mb": mem_kb // 1024,
            "driver_heap": DRIVER_MEM,
            "jvm_args": list(jvm.java.lang.management.ManagementFactory
                             .getRuntimeMXBean().getInputArguments()),
            "spark": spark.version,
            "java": jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
            "machine": platform.machine()}


# --------------------------------------------------------------------------
# process tree memory
# --------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split
    among the processes mapping it. Summed over a process tree it counts
    shared memory once — plain RSS would count the JVM's whole heap again
    for every short-lived child the JVM forks (Hadoop's shell calls)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory (as PSS) of this process plus every
    descendant (the driver JVM and the Python workers it forks), sampled
    every ``interval`` seconds on a daemon thread."""

    def __init__(self, interval: float = 0.2):
        self.interval, self.peak = interval, 0
        self.peak_by_pid: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            by_pid = {p: _pss_bytes(p) for p in [me] + descendants(me)}
            total = sum(by_pid.values())
            if total > self.peak:
                self.peak, self.peak_by_pid = total, by_pid
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def stop_spark_and_children(spark) -> None:
    """Stop the session, shut the JVM gateway down, and wait until every
    process this one started has exited (SIGKILL after 20 s)."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                pass            # killed below with the other leftovers
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            _reap(pid)
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            _reap(pid)


def _reap(pid: int) -> None:
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------

def median(xs: list[float]) -> float:
    return statistics.median(xs)


def tail(xs: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """(value, quantile, n): the highest quantile with at least ``beyond``
    samples above it. With fewer than 2·``beyond`` samples there is no
    such quantile above the median, so the median is returned (quantile
    0.5)."""
    n = len(xs)
    if n < 2 * beyond:
        return (statistics.median(xs) if n else 0.0), 0.5, n
    s = sorted(xs)
    return s[n - beyond - 1], (n - beyond) / n, n


# --------------------------------------------------------------------------
# warm-up and the closed loop
# --------------------------------------------------------------------------

def warm_up(step, n_ops: int, settle: float = 0.10,
            log=None) -> tuple[list[float], bool]:
    """Run ``n_ops`` untimed iterations (``step(k)``: one op and its read,
    returning the op's duration). The count is fixed, not adaptive: the
    ingest workloads' op cost grows with the number of batches applied,
    so a warm-up that stopped after a varying number of ops would start
    each run's timed ops on a different state, and add a whole op to
    ``setup_s`` whenever the host's speed wobbled. Returns the op
    durations and whether the last two differ by less than ``settle``
    (relative) — recorded, so a run that had not settled shows."""
    ts: list[float] = []
    for k in range(n_ops):
        ts.append(step(k))
        if log:
            log(f"warm-up op {k}: {ts[-1]:.3f}s")
    settled = (len(ts) >= 2
               and abs(ts[-1] - ts[-2]) < settle * min(ts[-1], ts[-2]))
    return ts, settled


def closed_loop(wl, n_ops: int, tracer, log=None) -> dict:
    """One client: prepare → op → read, the next op only after the
    previous read returned, for ``n_ops`` ops. Preparation (input
    generation) is untimed."""
    ops, reads, steal, rows = [], [], [], 0
    for i in range(n_ops):
        wl.prepare(i)
        with tracer.span(f"{wl.name}.op"):
            s0, t0 = steal_s(), time.perf_counter()
            rows += wl.op(i)
            ops.append(time.perf_counter() - t0)
            steal.append(steal_s() - s0)
        with tracer.span(f"{wl.name}.read"):
            t0 = time.perf_counter()
            wl.read(i)
            reads.append(time.perf_counter() - t0)
        wl.after(i)
        if log:
            log(f"op {i + 1}: {ops[-1]:.3f}s read {reads[-1]:.3f}s")
    return {"ops": ops, "reads": reads, "rows": rows, "op_steal_s": steal,
            "wall_s": sum(ops) + sum(reads)}


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this VM's CPUs since
    boot (the ``steal`` column of /proc/stat, summed over CPUs)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``: everything on disk, checksum and
    marker files included."""
    files = total = 0
    for d, _, names in os.walk(path):
        files += len(names)
        total += sum(os.path.getsize(os.path.join(d, n)) for n in names)
    return files, total
