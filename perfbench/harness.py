"""Shared machinery for the workloads: the Spark session the benchmark
builds, op timing under Spark job groups, the closed-loop cycles,
storage-call counting, load evidence, memory, and the per-layer fold of
a traced run.

Every workload times a closed loop of cycles, each a fixed mix of ops,
so the same end-to-end and per-layer metrics come out of each of them:
``end_to_end`` and ``layer_metrics`` below.

Inside the timed window a traced run differs from an untraced one in
two things only: Spark's event log is on, and each repo root is a
``LatencyStorage`` around the ``LocalFilesystemStorage`` (untraced runs
pass the bare ``LocalFilesystemStorage``).  Job groups are set in both.
After the window a traced ``versioned_txn`` also probes the manifests
of the snapshots it read (``versioned_txn._manifest_layers``).
"""

from __future__ import annotations

import math
import os
import resource
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench import eventlog


# per-cycle families folded from the event log and LatencyStorage
_FAMILIES = {
    "jobs": "spark.jobs",
    "tasks": "spark.tasks",
    "driver_s": "spark.driver_s",
    "exec_cpu_s": "spark.exec_cpu_s",
    "shuffle_bytes": "spark.shuffle_bytes",
    "spill_bytes": "spark.spill_bytes",
    "py_run_s": "python.run_s",
    "py_init_s": "python.init_s",
    "py_bytes": "python.bytes",
    "storage_calls": "storage.calls",
    "storage_busy_s": "storage.busy_s",
}

# per-layer metrics of the repo layers; a workload that does not run the
# layer (query_mix has no repo) reports 0
REPO_LAYERS = (
    "manifests.files_per_read",
    "manifests.read_amp",
    "maintenance.rewrite_s",
    "maintenance.expire_s",
    "maintenance.gc_s",
    "maintenance.objects_deleted",
    "space.chunk_bytes",
    "space.manifest_bytes",
    "space.meta_bytes",
    "space.amp",
)


@dataclass
class Op:
    name: str  # the op kind a per-layer metric is named after
    group: str  # Spark job group the op ran under
    seconds: float
    wall: tuple[float, float]  # epoch seconds, to line up with the event log
    ok: bool
    cycle: int | None  # index of the timed cycle the op ran in, if any
    storage_calls: int = 0
    storage_busy_s: float = 0.0
    parts: dict[str, float] = field(default_factory=dict)  # session write_s / commit_s


def prepare_env(root: str, work: str, trace: bool) -> None:
    """Environment for the Spark driver and its Python workers.  Must run
    before pyspark starts its JVM: Spark options travel in
    PYSPARK_SUBMIT_ARGS so ``engine.get_spark`` builds the session as
    the program always does, with only these additions."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    py_path = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(py_path)
    # every JVM (spark-submit's launcher and the Spark driver) would write its
    # perf counters under /tmp, outside the run directory
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData")))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    args = []
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    args += ["--driver-java-options", f"-Djava.io.tmpdir={tmp}", "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args)  # pyspark shlex-splits it


def _steal_ticks() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _hwm_mib(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _descendants(pid: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                pass
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        todo += kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs) -> tuple[float | None, float | None]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it.  Below 21 samples there is none; then the upper
    median stands in (ties the median for an odd count)."""
    if not xs:
        return None, None
    s = sorted(xs)
    beyond = min(10, (len(s) - 1) // 2)
    return s[len(s) - 1 - beyond], round(100.0 * (len(s) - beyond) / len(s), 1)


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


class Bench:
    """One benchmark run: owns the Spark session, the timing window, the
    op records and the checks."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work: str):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = work
        self.setup: dict[str, float] = {}
        self.ops: list[Op] = []
        self.counts: dict[str, int] = defaultdict(int)
        self.storages = []
        self.cycles: list[float] = []  # wall seconds of each timed cycle
        self._cycle: int | None = None
        self.extra_layers: dict[str, float] = dict.fromkeys(REPO_LAYERS, 0)
        self.detail: dict = {}
        self.spark = None
        self.load = {"loadavg_before": os.getloadavg(), "steal_before": _steal_ticks()}

    # --- set-up -----------------------------------------------------------

    @contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        yield
        self.setup[name] = self.setup.get(name, 0.0) + time.perf_counter() - t0

    def start_spark(self):
        with self.phase("spark_start"):
            from icechunk_spark.engine import get_spark

            self.spark = get_spark(f"perfbench-{self.workload}")
            self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def storage(self, path: str):
        """The repo root: a LocalFilesystemStorage, wrapped in a
        LatencyStorage on a traced run."""
        from icechunk_spark.repo import LatencyStorage, LocalFilesystemStorage

        st = LocalFilesystemStorage(path)
        if self.trace:
            st = LatencyStorage(st)
            self.storages.append(st)
        return st

    # --- the timed window ---------------------------------------------------

    def run_cycles(self, min_cycles: int, cycle) -> None:
        """The closed loop: call ``cycle()`` (one pass of the workload's
        op mix) until the window has ended and at least ``min_cycles``
        ran, or until it returns False (its inputs ran out)."""
        window0 = time.perf_counter()
        while len(self.cycles) < min_cycles or time.perf_counter() - window0 < self.seconds:
            self._cycle = len(self.cycles)
            t0 = time.perf_counter()
            try:
                more = cycle()
            finally:
                self._cycle = None
            if more is False:
                break
            self.cycles.append(time.perf_counter() - t0)

    def _storage_totals(self) -> tuple[int, float]:
        calls, busy = 0, 0.0
        for st in self.storages:
            for s in st.stats().values():
                calls += int(s["count"])
                busy += s["total_s"]
        return calls, busy

    def op(self, name: str, fn):
        """Run ``fn`` as one timed op under its own job group.  Returns
        (Op, result); an exception marks the op failed and returns None."""
        i = self.counts[name]
        self.counts[name] += 1
        group = f"{name}#{i}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        calls0, busy0 = self._storage_totals()
        w0, t0 = time.time(), time.perf_counter()
        ok, res = True, None
        try:
            res = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        dt = time.perf_counter() - t0
        w1 = time.time()
        sc.setJobGroup("perfbench-idle", "between ops")
        calls1, busy1 = self._storage_totals()
        rec = Op(name, group, dt, (w0, w1), ok, self._cycle, calls1 - calls0, busy1 - busy0)
        self.ops.append(rec)
        return rec, res

    def end_warmup(self) -> None:
        """Drop the records of warm-up ops; a warm-up op that failed
        fails the run."""
        bad = [o.group for o in self.ops if not o.ok]
        if bad:
            raise RuntimeError(f"warm-up ops failed: {bad}")
        self.ops.clear()

    def check(self, rec: Op, ok: bool, what: str) -> None:
        if not ok:
            print(f"perfbench: wrong output from {rec.group}: {what}", file=sys.stderr)
        rec.ok = rec.ok and ok

    def seconds_of(self, name: str) -> list[float]:
        return [o.seconds for o in self.ops if o.name == name]

    def op_seconds(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = defaultdict(list)
        for o in self.ops:
            out[o.name].append(round(o.seconds, 3))
        return dict(out)

    # --- results ------------------------------------------------------------

    def attempted(self) -> int:
        return len(self.ops)

    def failed(self) -> int:
        return sum(1 for o in self.ops if not o.ok)

    def peak_rss_mib(self) -> float:
        """Peak resident memory of this driver process plus the JVM."""
        gw = self.spark.sparkContext._gateway
        return _hwm_mib("self") + _hwm_mib(gw.proc.pid)

    def env_evidence(self) -> dict:
        sc = self.spark.sparkContext
        return {
            "seed": self.seed,
            "default_parallelism": sc.defaultParallelism,
            "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "loadavg_before": [round(x, 2) for x in self.load["loadavg_before"]],
            "loadavg_after": [round(x, 2) for x in os.getloadavg()],
            "steal_ticks_delta": _steal_ticks() - self.load["steal_before"],
            "driver_maxrss_mib": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
        }

    def stop(self) -> None:
        """Stop Spark, then wait for its JVM and every process under it
        (the Python workers) to exit."""
        if self.spark is None:
            return
        proc = self.spark.sparkContext._gateway.proc
        children = _descendants(proc.pid)
        self.spark.stop()
        self.spark = None
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.monotonic() + 30
        for pid in children:
            while _alive(pid):
                if time.monotonic() > deadline:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        break
                time.sleep(0.05)

    def end_to_end(self) -> dict[str, float]:
        """The end-to-end metrics every workload reports.

        ``cycle_s``: the median wall time of a timed cycle (the inverse
        of throughput).  ``op_gmean_s``: the geometric mean over op
        kinds of each kind's median latency, so that every kind weighs
        the same however long it takes.  ``setup_s``: every set-up
        phase."""
        kinds: dict[str, list[float]] = defaultdict(list)
        for o in self.ops:
            kinds[o.name].append(o.seconds)
        logs = [math.log(statistics.median(xs)) for xs in kinds.values()]
        return {
            "setup_s": sum(self.setup.values()),
            "cycle_s": statistics.median(self.cycles),
            "op_gmean_s": math.exp(sum(logs) / len(logs)),
        }

    def _op_layers(self) -> list[tuple[Op, dict[str, float]]]:
        """Each op with its event-log and storage values."""
        events = os.path.join(self.work, "events")
        groups: dict[str, dict] = {}
        for f in os.listdir(events):
            groups |= eventlog.fold(os.path.join(events, f))
        out = []
        for o in self.ops:
            g = groups.get(o.group) or eventlog.empty()
            vals = {k: g[k] for k in _FAMILIES if k in g}
            vals["driver_s"] = max(0.0, o.seconds - eventlog.covered_s(g["job_spans_ms"], *o.wall))
            vals["storage_calls"] = o.storage_calls
            vals["storage_busy_s"] = o.storage_busy_s
            out.append((o, vals))
        return out

    def layer_metrics(self) -> tuple[dict[str, float], dict[str, float]]:
        """Per-layer values of a traced run: (per cycle, per op kind).

        Per cycle: each family summed over the ops of the timed cycles
        and divided by their number, as are the session parts; with the
        repo-layer values and the set-up phases these are the declared
        per-layer metrics.  Per op kind: each family's median over the
        kind's ops, for the detail line."""
        per_op = self._op_layers()
        n = len(self.cycles)
        out: dict[str, float] = {}
        for key, family in _FAMILIES.items():
            out[family] = sum(v[key] for o, v in per_op if o.cycle is not None) / n
        for part in ("write_s", "commit_s"):
            out[f"session.{part}"] = sum(o.parts.get(part, 0.0) for o in self.ops if o.cycle is not None) / n
        out.update(self.extra_layers)
        for key, secs in self.setup.items():
            out[f"setup.{key}_s"] = secs
        by_kind: dict[str, list[dict[str, float]]] = defaultdict(list)
        for o, v in per_op:
            by_kind[o.name].append(v)
        detail = {
            f"{family}.{kind}": statistics.median(v[key] for v in vals)
            for kind, vals in by_kind.items()
            for key, family in _FAMILIES.items()
        }
        return out, detail

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
