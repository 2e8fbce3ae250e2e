"""Measurement plumbing shared by the three workloads.

Everything here observes the program from outside: CPU time, bytes
written and peak memory of the process tree from ``/proc``, Spark
job/stage/task counts from the status tracker, JIT and GC time from the
JVM's management beans, and spans the benchmark records around each call
it makes into a layer.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import defaultdict
from collections.abc import Callable
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")
MB = 1_000_000


# ---------------------------------------------------------------- /proc


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name, starting at ``state``
    return raw[raw.rfind(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant (the JVM and its Python workers)."""
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                kids[int(fields[1])].append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def host_steal_s() -> float:
    """Cumulative steal time of the host's CPUs (``/proc/stat``)."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return int(parts[8]) / CLK_TCK if len(parts) > 8 else 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def process_start_wall() -> float:
    """Wall-clock time at which this process started (survives ``execv``)."""
    fields = _stat_fields(os.getpid())
    started_ticks = int(fields[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + started_ticks / CLK_TCK


def _write_bytes(pid: int) -> int | None:
    """Bytes ``pid`` has caused to be written to storage, counted when
    the page cache is dirtied, so files deleted soon after (shuffle and
    spill files) still count."""
    try:
        with open(f"/proc/{pid}/io") as f:
            for line in f:
                if line.startswith("write_bytes:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


class TreeMeter:
    """CPU seconds, bytes written and peak memory of this process and its
    descendants.

    CPU counts reaped children too (``cutime``/``cstime``), so Python
    workers that exit between samples are not lost. Peak memory is kept
    per process as last seen, so a worker that exits before the end of
    the run still counts with its peak."""

    def __init__(self, root: int | None = None) -> None:
        self.root = root or os.getpid()
        self.peaks_mb: dict[str, float] = {}

    def sample(self) -> tuple[float, dict[int, int]]:
        """Tree CPU seconds, and bytes written so far by each process."""
        cpu_ticks = 0
        written = {}
        for pid in tree_pids(self.root):
            fields = _stat_fields(pid)
            if fields is None:
                continue
            cpu_ticks += sum(int(x) for x in fields[11:15])
            n = _write_bytes(pid)
            if n is not None:
                written[pid] = n
        return cpu_ticks / CLK_TCK, written

    def note_peaks(self) -> None:
        """Record the peak resident set (MB) of each live process."""
        for pid in tree_pids(self.root):
            try:
                with open(f"/proc/{pid}/comm") as f:
                    name = f"{f.read().strip()}:{pid}"
            except OSError:
                continue
            self.peaks_mb[name] = max(self.peaks_mb.get(name, 0.0),
                                      _vm_hwm_kb(pid) * 1024 / MB)


def written_between(before: dict[int, int], after: dict[int, int]) -> int:
    """Bytes written between two samples by the processes alive at the second."""
    return sum(max(0, n - before.get(pid, 0)) for pid, n in after.items())


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(base, name)).st_size
            except OSError:
                pass
    return total


def parquet_files(path: str) -> set[str]:
    out = set()
    for base, _dirs, files in os.walk(path):
        out.update(os.path.join(base, n) for n in files if n.endswith(".parquet"))
    return out


# ---------------------------------------------------------------- Spark


class JobLedger:
    """Jobs, stages and tasks Spark ran since the last :meth:`take`.

    Jobs are the new ids in the default job group; the program sets no
    job groups, so this also catches jobs launched from its pool
    threads."""

    def __init__(self, spark) -> None:
        self.tracker = spark.sparkContext.statusTracker()
        self.seen_jobs = set(self.tracker.getJobIdsForGroup(None))
        self.seen_stages: set[int] = set()

    def take(self) -> dict[str, int]:
        new_jobs = set(self.tracker.getJobIdsForGroup(None)) - self.seen_jobs
        self.seen_jobs |= new_jobs
        stages = tasks = failed = 0
        for job in new_jobs:
            info = self.tracker.getJobInfo(job)
            for sid in info.stageIds if info else ():
                if sid in self.seen_stages:
                    continue
                st = self.tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped: its output was reused
                self.seen_stages.add(sid)
                stages += 1
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
        return {"jobs": len(new_jobs), "stages": stages, "tasks": tasks,
                "failed_tasks": failed}


class JvmProbe:
    """Cumulative JIT-compile and GC time of the driver JVM, in seconds."""

    def __init__(self, spark) -> None:
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._compiler = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())

    def sample(self) -> tuple[float, float]:
        jit = self._compiler.getTotalCompilationTime() / 1000.0
        gc = sum(b.getCollectionTime() for b in self._gcs) / 1000.0
        return jit, gc


# ---------------------------------------------------------------- ops


@dataclass
class OpFailure:
    name: str
    stage: str  # "call" or "check"
    error: str


@dataclass
class PassRecord:
    index: int
    pass_s: float
    cpu_s: float
    written_bytes: int
    steal_s: float
    counts: dict[str, float] = field(default_factory=dict)


class Runner:
    """Runs a workload's ops: times each call from outside the program,
    samples the process tree's CPU around it, checks its output after the
    pass (outside the timer and the CPU window), and in traced passes
    records a span with Spark counts."""

    def __init__(self, spark, run_id: str, trace: bool) -> None:
        self.run_id = run_id
        self.trace = trace
        self.meter = TreeMeter()
        self.ledger = JobLedger(spark) if trace else None
        self.jvm = JvmProbe(spark) if trace else None
        self.attempted = 0
        self.failed = 0
        self.failures: list[OpFailure] = []
        self.spans: list[dict] = []
        self.passes: list[PassRecord] = []
        self.op_samples: dict[str, list[float]] = defaultdict(list)
        self._pending: list[tuple[str, object, Callable | None]] = []
        self.tracing = False
        self._pass_span: int | None = None
        self._elapsed = 0.0
        self._cpu = 0.0
        self._written = 0
        self._counts: dict[str, float] = defaultdict(float)

    # -- spans
    def _span(self, name: str, start: float, end: float, parent: int | None,
              **attrs) -> int:
        self.spans.append({"id": len(self.spans), "name": name, "start": start,
                           "end": end, "parent": parent, "run_id": self.run_id,
                           **attrs})
        return len(self.spans) - 1

    def count(self, key: str, value: float) -> None:
        """Add to a per-pass counter (kept only in traced passes)."""
        if self.tracing:
            self._counts[key] += value

    # -- ops
    def op(self, name: str, fn: Callable[[], object],
           check: Callable[[object], bool] | None = None) -> object:
        """Call ``fn`` once. ``check(result)`` runs when the pass ends and
        must return True; an exception or a False check fails the op."""
        self.attempted += 1
        cpu0, written0 = self.meter.sample()
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception as e:  # a failed op is counted, never retried
            result = None
            self.failed += 1
            self.failures.append(OpFailure(name, "call", f"{type(e).__name__}: {e}"[:500]))
            check = None
        t1 = time.perf_counter()
        if self.tracing:
            counts = self.ledger.take()
            self._span(name, t0, t1, self._pass_span, **counts)
            self.op_samples[name].append(t1 - t0)
            self._trace_cost += time.perf_counter() - t1
        self._elapsed += time.perf_counter() - t0
        cpu1, written1 = self.meter.sample()
        self._cpu += cpu1 - cpu0
        written = written_between(written0, written1)
        self._written += written
        self.meter.note_peaks()
        if self.tracing:
            self.spans[-1]["written_bytes"] = written
        if check is not None:
            self._pending.append((name, result, check))
        return result

    def begin_pass(self, index: int, traced: bool = True) -> None:
        self.tracing = traced and self.trace
        self._elapsed = 0.0
        self._cpu = 0.0
        self._trace_cost = 0.0
        self._written = 0
        self._counts = defaultdict(float)
        if self.tracing:
            self.ledger.take()  # drop jobs from set-up and checks
            self._jvm0 = self.jvm.sample()
            self._pass_span = self._span("pass", time.perf_counter(), 0.0, None,
                                         index=index)
        self._steal0 = host_steal_s()

    def end_pass(self, index: int) -> PassRecord:
        steal = host_steal_s() - self._steal0
        counts = dict(self._counts)
        if self.tracing:
            jit, gc = self.jvm.sample()
            counts["session.jit_s"] = jit - self._jvm0[0]
            counts["session.gc_s"] = gc - self._jvm0[1]
            counts["trace.overhead_s"] = self._trace_cost
            counts["host.steal_s"] = steal
            for key in ("jobs", "stages", "tasks", "failed_tasks"):
                counts[f"session.{key}"] = sum(
                    s.get(key, 0) for s in self.spans if s["parent"] == self._pass_span)
            self.spans[self._pass_span]["end"] = time.perf_counter()
        rec = PassRecord(index, self._elapsed, self._cpu, self._written, steal, counts)
        self.passes.append(rec)
        self.tracing = False
        self.run_checks()
        return rec

    def run_checks(self) -> None:
        pending, self._pending = self._pending, []
        for name, result, check in pending:
            try:
                ok = bool(check(result))
                err = "output check returned False"
            except Exception as e:
                ok = False
                err = f"{type(e).__name__}: {e}"[:500]
            if not ok:
                self.failed += 1
                self.failures.append(OpFailure(name, "check", err))

    def check(self, name: str, check: Callable[[], bool]) -> None:
        """An output check that is an op of its own (e.g. a table's state
        after the pass); it runs with the other checks."""
        self.attempted += 1
        self._pending.append((name, None, lambda _result: check()))


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def measure(runner: Runner, run_pass: Callable[[int], None], passes: int,
            first_index: int = 0) -> None:
    """Run ``passes`` timed passes. The count is fixed before the first
    one, never taken from the program's speed, so two builds of the
    program always run the same passes."""
    for i in range(first_index, first_index + passes):
        runner.begin_pass(i)
        run_pass(i)
        runner.end_pass(i)
