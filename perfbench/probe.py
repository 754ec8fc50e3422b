"""Measurement from outside the engine: op timing and failure counts,
spans, Spark work per op, executed-plan SQL metrics, storage listing and
process-tree memory.

Everything here wraps the benchmark's own calls into the package; nothing
inside the package is patched. With ``trace=False`` the recorder only
times whole ops; with ``trace=True`` it also keeps a span for every
call into a layer (name, start, end, parent span id, op id) plus the job
and stage ids Spark handed out while the span was open.
"""

from __future__ import annotations

import gc
import json
import os
import threading
import time
from collections import defaultdict
from collections.abc import Callable, Iterator
from contextlib import contextmanager

# Percentiles tried for a tail, highest first. A tail is the highest of
# these with at least ten samples beyond it (fewer samples fall back to
# the median, and the chosen percentile is printed with its sample count).
_TAILS = (0.99, 0.95, 0.9, 0.75, 0.5)


def quantile(values: list[float], p: float) -> float:
    """Linear-interpolated quantile of ``values`` (``p`` in [0, 1])."""
    if not values:
        raise ValueError("quantile of no samples")
    s = sorted(values)
    x = p * (len(s) - 1)
    lo = int(x)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (x - lo)


def tail(values: list[float]) -> tuple[float, float]:
    """``(p, value)`` for the highest percentile in ``_TAILS`` that leaves
    at least ten samples above it."""
    n = len(values)
    for p in _TAILS:
        if n - int(p * (n - 1)) - 1 >= 10:  # samples above the interpolation point
            return p, quantile(values, p)
    return 0.5, quantile(values, 0.5)


class Recorder:
    """Times ops, checks their results and keeps spans in memory.

    ``sc`` is the SparkContext (``None`` in unit tests): every op runs under
    its own job group so ``statusTracker`` can attribute its jobs.
    """

    def __init__(self, sc=None, trace: bool = False):
        self.sc = sc
        self.trace = trace
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.counts: dict[str, list[float]] = defaultdict(list)
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op_id: int | None = None
        self._n_ops = 0
        self._dag = sc._jsc.sc().dagScheduler() if sc is not None else None
        self.bookkeeping_s = 0.0  # time the tracing itself spent

    @contextmanager
    def bookkeeping(self) -> Iterator[None]:
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.bookkeeping_s += time.perf_counter() - t0

    # -- spans ---------------------------------------------------------------
    def _ids(self) -> tuple[int, int]:
        if self._dag is None:
            return 0, 0
        return self._dag.nextJobId(), self._dag.nextStageId()

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        """A span around one call into a layer; ``name`` is
        ``<layer>.<call>``. A no-op unless tracing."""
        if not self.trace:
            yield
            return
        with self.bookkeeping():
            sid = len(self.spans)
            rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
                   "op": self._op_id, "name": name}
            self.spans.append(rec)
            jobs0, stages0 = self._ids()
            self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            with self.bookkeeping():
                self._stack.pop()
                jobs1, stages1 = self._ids()
                rec["jobs"], rec["stages"] = jobs1 - jobs0, stages1 - stages0

    def timed(self, name: str, fn: Callable[[], object]):
        with self.span(name):
            return fn()

    # -- ops -----------------------------------------------------------------
    def run_op(self, name: str, kind: str, fn: Callable[[], object],
               check: Callable[[object], str | None] | None = None,
               record: bool = True):
        """Run one op: time ``fn()``, then ``check`` its result (a message
        means wrong). Every op counts as attempted, and an exception or a
        wrong result counts as failed. Timings go to ``op:<name>`` and
        ``kind:<kind>`` unless ``record`` is false (set-up and warm-up ops).
        Returns ``fn``'s result, or ``None`` on failure."""
        op_id = self._n_ops
        self._n_ops += 1
        self._op_id = op_id
        group = f"perfbench-op-{op_id}"
        if self.sc is not None:
            self.sc.setJobGroup(group, f"{kind}:{name}")
        self.attempted += 1
        result, problem = None, None
        t0 = time.perf_counter()
        try:
            with self.span(f"op.{name}"):
                result = fn()
        except Exception as e:  # an op failure is a measured outcome
            problem = f"{type(e).__name__}: {e}"
        elapsed = time.perf_counter() - t0
        if self.sc is not None:
            self.sc.setJobGroup("perfbench-check", "result check")
        if problem is None and check is not None:
            try:
                problem = check(result)
            except Exception as e:  # a crashing check is a wrong result
                problem = f"check {type(e).__name__}: {e}"
        if problem is not None:
            self.failures.append(f"{name}: {problem}"[:500])
            self.failed += 1
            result = None
        if record:
            self.samples[f"op:{name}"].append(elapsed)
            self.samples[f"kind:{kind}"].append(elapsed)
            if self.trace and self.sc is not None:
                with self.bookkeeping():
                    self._count_jobs(name, kind, group)
        self._op_id = None
        return result

    def _count_jobs(self, name: str, kind: str, group: str) -> None:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            stages += len(info.stageIds)
            for s in info.stageIds:
                si = st.getStageInfo(s)
                tasks += si.numCompletedTasks if si is not None else 0
        for key in (f"op:{name}", f"kind:{kind}"):
            self.counts[f"jobs|{key}"].append(len(jobs))
            self.counts[f"stages|{key}"].append(stages)
            self.counts[f"tasks|{key}"].append(tasks)

    # -- summaries -----------------------------------------------------------
    def span_totals(self) -> dict[str, dict[str, float]]:
        """Per span name: calls, total seconds and self seconds. Self time
        is the span's duration minus its child spans'."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            d = s["end"] - s["start"]
            t = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            t["calls"] += 1
            t["total_s"] += d
            t["self_s"] += d - child[s["id"]]
        return out

    def span_durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def span_jobs(self, name: str) -> list[int]:
        return [s["jobs"] for s in self.spans if s["name"] == name]

    def write_spans(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# -- executed-plan SQL metrics ------------------------------------------------
def _children(node) -> list:
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.finalPhysicalPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    out, it = [], node.children().iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def plan_metrics(df) -> dict[str, int]:
    """Walk the executed (AQE final) plan of ``df`` after its action ran and
    sum the SQL metrics: shuffle bytes written, spill, and rows produced by
    leaf scans. Reused exchanges are skipped so nothing counts twice."""
    out = {"shuffle_write_bytes": 0, "spill_bytes": 0, "scan_rows": 0}
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName().startswith("ReusedExchange"):
            continue
        kids = _children(node)
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            key, val = kv._1(), kv._2().value()
            if key == "shuffleBytesWritten":
                out["shuffle_write_bytes"] += val
            elif key == "spillSize":
                out["spill_bytes"] += val
            elif key == "numOutputRows" and not kids:
                out["scan_rows"] += val
        stack.extend(kids)
    return out


# -- storage and memory -------------------------------------------------------
def list_files(root: str) -> dict[str, int]:
    """``relative path -> size`` of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[os.path.relpath(p, root)] = os.path.getsize(p)
            except FileNotFoundError:  # removed while listing
                pass
    return out


def children(pid: int) -> list[int]:
    out = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except FileNotFoundError:
        return out
    for t in tasks:
        try:
            with open(f"/proc/{pid}/task/{t}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except FileNotFoundError:
            pass
    return out


def process_tree(pid: int | None = None) -> list[int]:
    """``pid`` (default: this process) and all its descendants."""
    todo, seen = [pid or os.getpid()], []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(children(p))
    return seen


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds(pids: list[int]) -> dict[int, float]:
    """CPU seconds (user + system, including reaped children) each process
    has used; the kernel does not count time stolen by the host."""
    out = {}
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except FileNotFoundError:
            continue
        out[p] = sum(int(x) for x in fields[11:15]) / _TICK  # utime stime cutime cstime
    return out


def cpu_delta(before: dict[int, float], after: dict[int, float]) -> float:
    return sum(v - before.get(p, 0.0) for p, v in after.items())


def cpu_ticks() -> list[int]:
    """The machine-wide CPU time counters of ``/proc/stat``; field 7 is
    steal, the time a virtual CPU waited for the host."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the machine's busy CPU time (everything but idle and I/O
    wait) that the host stole between two ``cpu_ticks``: about the share
    of the time a runnable thread was kept off its CPU."""
    d = [b - a for a, b in zip(before, after)]
    busy = sum(d) - d[3] - d[4]
    return d[7] / busy if busy > 0 else 0.0


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each live process's peak resident set (``VmHWM``), MiB."""
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except FileNotFoundError:
            pass
    return total_kb / 1024.0


def python_private_mb(pids: list[int]) -> float:
    """Summed private (unshared) resident memory of the Python processes
    among ``pids``, MiB. Pages a forked worker shares with its parent are
    not counted again, nor is a JVM child that has not yet run ``exec``
    (it shares the JVM's address space)."""
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/comm") as f:
                if not f.read().startswith("python"):
                    continue
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith(("Private_Clean:", "Private_Dirty:")):
                        total_kb += int(line.split()[1])
        except (FileNotFoundError, ProcessLookupError):
            pass
    return total_kb / 1024.0


class WorkerMemory:
    """Samples, every ``interval`` seconds on a thread of its own, the summed
    private memory of every process below ``parent`` (the JVM's Python
    workers) and keeps the peak. ``cpu_s`` is the CPU time the sampling
    itself used, so it can be taken out of the program's."""

    def __init__(self, parent: int, interval: float = 0.1):
        self.parent, self.interval = parent, interval
        self.peak_mb = 0.0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="perfbench-memory", daemon=True)

    def _run(self) -> None:
        while True:
            t0 = time.thread_time()
            self.peak_mb = max(self.peak_mb, python_private_mb(process_tree(self.parent)[1:]))
            self.cpu_s += time.thread_time() - t0
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> WorkerMemory:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def heap_retained_mb(jvm, rounds: int = 10) -> float:
    """Heap in use after full collections, MiB: what the JVM retains.

    Python's garbage is collected first, so JVM objects only a dead Python
    proxy held are released. Spark's context cleaner frees broadcast blocks
    and shuffle state on its own thread once a collection has found their
    owners unreachable, so the collection repeats a second apart until the
    heap stops shrinking."""
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    last = None
    for _ in range(rounds):
        gc.collect()
        jvm.java.lang.System.gc()
        used = bean.getHeapMemoryUsage().getUsed() / 2**20
        if last is not None and abs(used - last) < 1.0:
            break
        last = used
        time.sleep(1.0)
    return used
