"""Run scaffolding shared by the workloads: the Spark session, the
timed-operation log, spans for the traced run, the memory sampler, the
set-up repetitions, the closed loop, the input files and the final result
line.

A workload function receives a :class:`Bench` and drives the package
through its public functions; everything it times goes through
:meth:`Bench.op` (one user-visible operation, checked) and
:meth:`Bench.span` (one call into a package layer, traced).
"""

from __future__ import annotations

import contextlib
import itertools
import json
import math
import os
import shutil
import statistics
import subprocess
import threading
import time
from collections import defaultdict

# Set-up is repeated this many times per run; setup_s reports the median.
SETUP_REPS = 3
# Input tables are written as this many parquet files.
INPUT_FILES = 8


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


class MemSampler:
    """Peak memory of a process tree (the Spark JVM and the Python workers
    it forks), sampled from /proc every ``period`` seconds. Each process
    counts its proportional set size (PSS: resident pages, with a page
    shared by n processes counted 1/n in each), so the workers forked from
    one daemon do not count their shared pages once per worker."""

    def __init__(self, root_pid: int, period: float = 0.5):
        self.root = root_pid
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="mem", daemon=True)

    @staticmethod
    def _children() -> dict[int, list[int]]:
        kids: dict[int, list[int]] = defaultdict(list)
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            kids[ppid].append(int(name))
        return kids

    @staticmethod
    def _pss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def sample(self) -> int:
        kids = self._children()
        total, todo = 0, [self.root]
        while todo:
            pid = todo.pop()
            total += self._pss_kb(pid)
            todo.extend(kids.get(pid, ()))
        self.peak_kb = max(self.peak_kb, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def start(self) -> "MemSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak_kb / 1024.0


class Bench:
    """One run of one workload."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 work_dir: str, scale: float = 1.0, corrupt: bool = False):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work_dir = work_dir
        self.scale = scale
        self.corrupt = corrupt
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        # (kind, seconds) of every measured operation, in run order
        self.ops: list[tuple[str, float]] = []
        # the same for the unmeasured first (cold) call of each kind
        self.first_ops: list[tuple[str, float]] = []
        # spans: id -> dict(name, parent, phase, t0, t1)
        self.spans: dict[str, dict] = {}
        self.counters: dict[str, list[float]] = defaultdict(list)
        self.setup_times: list[float] = []  # wall time of each set-up repetition
        self._span_ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()
        self._mem: MemSampler | None = None
        self.event_log_dir = os.path.join(work_dir, "eventlog")
        # "setup", "warmup" or "measure": spans are tagged with the phase
        self.phase = "setup"

    # -- session ---------------------------------------------------------
    def start_session(self) -> float:
        from simple_osm_queries_spark.session import get_spark

        local = os.path.join(self.work_dir, "spark-local")
        os.makedirs(local, exist_ok=True)
        java_opts = (
            "-XX:-DontCompileHugeMethods -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(self.work_dir, 'tmp')} "
            f"-Dderby.system.home={os.path.join(self.work_dir, 'derby')}"
        )
        conf = {
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(self.work_dir, "warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
            "spark.executor.extraJavaOptions": java_opts,
            "spark.sql.ui.retainedExecutions": "50",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        with self.span("session.get_spark"):
            self.spark = get_spark(
                f"perfbench-{self.workload}", cores=len(os.sched_getaffinity(0)),
                extra_conf=conf,
            )
            self.spark.sparkContext.setLogLevel("ERROR")
        dt = time.perf_counter() - t0
        self._mem = MemSampler(self.spark.sparkContext._gateway.proc.pid).start()
        return dt

    def stop_session(self) -> float:
        """Stop Spark and its JVM; returns the peak memory in MB."""
        peak = self._mem.stop() if self._mem else 0.0
        if self.spark is not None:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None)
            self.spark.stop()
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                # the launcher JVM exits when its stdin closes
                with contextlib.suppress(OSError):
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            self.spark = None
        return peak

    # -- set-up ----------------------------------------------------------
    def setup(self, make, release) -> object:
        """Run ``make`` SETUP_REPS times (``release`` undoes all but the
        last) and record each repetition's wall time."""
        out = None
        for _ in range(SETUP_REPS):
            if out is not None:
                release(out)
            t0 = time.perf_counter()
            out = make()
            self.setup_times.append(time.perf_counter() - t0)
        return out

    # -- spans -----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        """One call into a package layer. In the traced run, the span's id
        is the Spark job group of every job started inside it on this
        thread, so the event log attributes jobs to spans."""
        sid = f"s{next(self._span_ids)}"
        parent = getattr(self._local, "current", None)
        rec = {"name": name, "parent": parent, "phase": self.phase,
               "t0": time.perf_counter(), "t1": None}
        with self._lock:
            self.spans[sid] = rec
        sc = self.spark.sparkContext if (self.trace and self.spark is not None) else None
        if sc is not None:
            sc.setJobGroup(sid, name, interruptOnCancel=False)
        self._local.current = sid
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            self._local.current = parent
            if sc is not None:
                if parent is not None:
                    sc.setJobGroup(parent, self.spans[parent]["name"], interruptOnCancel=False)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def count(self, name: str, value: float) -> None:
        with self._lock:
            self.counters[name].append(float(value))

    # -- operations ------------------------------------------------------
    def op(self, kind: str, fn, check, corrupt=None, measured: bool = True):
        """Time ``fn()`` as one operation of kind ``kind``; ``check(result)``
        returns an error string (or None). A raised exception or a failed
        check counts as a failed operation. With ``self.corrupt`` set, the
        check sees ``corrupt(result)`` instead (this tests the checks)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception as e:  # noqa: BLE001 — a failed op is data, not a crash
            self._fail(kind, f"raised {type(e).__name__}: {str(e)[:300]}")
            return None
        dt = time.perf_counter() - t0
        with self._lock:
            (self.ops if measured else self.first_ops).append((kind, dt))
        err = check(corrupt(result) if self.corrupt and corrupt else result)
        if err:
            self._fail(kind, err)
        return result

    def _fail(self, kind: str, msg: str) -> None:
        with self._lock:
            self.failed += 1
            self.failures.append(f"{kind}: {msg}")

    # -- results ---------------------------------------------------------
    def kind_medians(self) -> dict[str, float]:
        by = defaultdict(list)
        for k, dt in self.ops:
            by[k].append(dt)
        return {k: median(v) for k, v in by.items()}

    def span_durations(self, name: str, phase: str | None = None) -> list[float]:
        return [s["t1"] - s["t0"] for s in self.spans.values()
                if s["name"] == name and (phase is None or s["phase"] == phase)]


def drive(b: Bench, kinds: list, round_s: float,
          first_udf: tuple[str, str] | None = None) -> int:
    """Closed loop, one client: one unmeasured warm-up round of every
    (kind, fn, check, corrupt), then ``b.seconds // round_s`` measured
    rounds (at least one), where ``round_s`` is the workload's round time
    on 4 cores. The count follows ``--seconds`` only, not the host's
    speed, so every run of a comparison takes the same samples.
    ``first_udf`` = (kind, span) of the first Arrow-UDF operation, whose
    cold-minus-warm time is recorded."""
    b.phase = "warmup"
    for kind, fn, check, corrupt in kinds:
        b.op(kind, fn, check, corrupt, measured=False)
    b.phase = "measure"
    rounds = max(1, int(b.seconds // round_s))
    for _ in range(rounds):
        for kind, fn, check, corrupt in kinds:
            b.op(kind, fn, check, corrupt)
    if first_udf:
        cold = b.span_durations(first_udf[1], "warmup")
        warm = b.span_durations(first_udf[1], "measure")
        if cold and warm:
            b.count("session.first_udf_stage_s", cold[0] - median(warm))
    b.count("rounds", rounds)
    return rounds


def write_parquet(path: str, table) -> None:
    """An Arrow table as INPUT_FILES parquet files (one scan task each)."""
    import pyarrow.parquet as pq

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    step = -(-table.num_rows // INPUT_FILES)
    for f in range(INPUT_FILES):
        pq.write_table(table.slice(f * step, step), os.path.join(path, f"part-{f}.parquet"))


def bump(rows, col: str, by) -> list[dict]:
    """``rows`` with ``by`` added to column ``col`` of every row: a
    corrupted result for the checks to catch."""
    return [dict(r.asDict(), **{col: r[col] + by}) for r in rows]


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    clean = {}
    for name, (value, unit) in metrics.items():
        v = float(value)
        if math.isnan(v) or math.isinf(v):
            v = 0.0
        clean[name] = {"value": v, "unit": unit}
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted),
        "failed": int(failed), "metrics": clean,
    })
