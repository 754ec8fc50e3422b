"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. The benchmark starts one Spark session on
``local[<cpus>]`` (cpus = the CPUs this process may run on), sets up the
workload in a fresh directory under ``.perfbench_run/``, runs whole passes
of the workload's seeded op list until ``--seconds`` have passed, checks
every op's result, and removes the directory again.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before it
is a JSON detail record (sample counts, tail percentiles, failures and the
metrics that exist on one workload only). See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "incubator_paimon_trino_spark"
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import metrics, probe  # noqa: E402

# The Spark driver heap: the whole local-mode engine lives in this one JVM
# and the inputs are small. It is also the initial heap (-Xms), touched at
# start, so the JVM's resident size does not depend on how much of the heap
# G1 happened to use: peak RSS then moves with memory outside the heap, and
# ``heap_retained_mb`` with the heap's contents.
DRIVER_MEM_GB = 3


def _workloads():
    from perfbench.lake import LakeWriteMix
    from perfbench.olap import OlapMix

    return {w.name: w for w in (OlapMix, LakeWriteMix)}


class Ctx:
    """What a workload gets: the session, the recorder, the seeded RNG and
    a fresh run directory, plus bookkeeping for the benchmark's own work
    (input generation, the model, checks), which no timing includes."""

    def __init__(self, spark, rec: probe.Recorder, seed: int, run_dir: str, cpus: int):
        import numpy as np

        self.spark, self.rec, self.seed, self.run_dir = spark, rec, seed, run_dir
        self.spark_cpus = cpus
        self.rng = np.random.default_rng(seed)
        self.bench_s = 0.0
        self.bench_cpu_s = 0.0
        self._bench_depth = 0
        self.notes: dict[str, list[float]] = {}
        self.values: dict[str, float] = {}

    def cpu(self) -> dict[int, float]:
        return probe.cpu_seconds(probe.process_tree())

    @contextmanager
    def bench_work(self):
        """Time and CPU spent inside are the benchmark's, not the program's."""
        self._bench_depth += 1
        if self._bench_depth == 1:
            t0, c0 = time.perf_counter(), self.cpu()
        try:
            yield
        finally:
            self._bench_depth -= 1
            if self._bench_depth == 0:
                self.bench_s += time.perf_counter() - t0
                self.bench_cpu_s += probe.cpu_delta(c0, self.cpu())

    def note(self, key: str, value: float) -> None:
        """Record a per-layer count (traced passes only)."""
        if self.rec.trace:
            self.notes.setdefault(key, []).append(value)

    def note_value(self, key: str, value: float) -> None:
        self.values[key] = value

    # The helpers below record per-layer counts and do nothing untraced.
    def plan_counts(self, kind: str, df, result_rows: int) -> None:
        if not self.rec.trace:
            return
        with self.rec.bookkeeping():
            m = probe.plan_metrics(df)
        for k, v in m.items():
            self.note(f"plan.{k}|{kind}", v)
        self.note(f"plan.result_rows|{kind}", result_rows)

    def list_table(self, wh: str, db: str, table: str) -> dict[str, int]:
        if not self.rec.trace:
            return {}
        with self.rec.bookkeeping():
            return probe.list_files(os.path.join(wh, f"{db}.db", table))

    def note_storage(self, before: dict, after: dict, user_bytes: int | None) -> None:
        new = {p: s for p, s in after.items() if before.get(p) != s}
        self.note("files_added", sum(1 for p in new if p.startswith("data")))
        if user_bytes:
            self.note("bytes_written", sum(new.values()))
            self.note("user_bytes", user_bytes)

    def note_compaction(self, before: dict, after: dict) -> None:
        self.note("compact_bytes", sum(s for p, s in after.items()
                                       if p.startswith("data") and p not in before))

    def note_reclaimed(self, before: dict, after: dict) -> None:
        self.note("files_reclaimed", sum(1 for p in before if p not in after))


def _pin_env(run_dir: str) -> int:
    """Pin what the engine reads from the environment; returns the cpus."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1]) // 2**20
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(DRIVER_MEM_GB, mem_gb // 2))}g"
    # Python workers (the manifest changelog source runs in them) import
    # the package, so it must be on their path.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    return cpus


def _start_spark(run_dir: str, cpus: int):
    from incubator_paimon_trino_spark import get_spark

    tmp = os.path.join(run_dir, "tmp")
    mem = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Xms{mem} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
        },
    )
    got = spark.sparkContext.defaultParallelism
    print(f"# cpus requested={cpus} sc.defaultParallelism={got} "
          f"driver_mem={os.environ['SPARK_GRAFT_DRIVER_MEM']}", file=sys.stderr)
    if got != cpus:
        raise RuntimeError(f"Spark ignored the cpu count: asked {cpus}, got {got}")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM and its Python workers."""
    from pyspark import SparkContext

    tree = probe.process_tree()[1:]
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 60
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in tree):
        time.sleep(0.1)


def run(workload: str, seed: int, seconds: float, trace: bool, run_dir: str) -> dict:
    cpus = _pin_env(run_dir)
    t0 = time.perf_counter()
    spark = _start_spark(run_dir, cpus)
    get_spark_s = time.perf_counter() - t0
    try:
        jvm_pid = probe.children(os.getpid())[0]
        with probe.WorkerMemory(jvm_pid) as workers:
            # Spans and counts cover the measured passes only, not set-up.
            rec = probe.Recorder(spark.sparkContext, trace=False)
            ctx = Ctx(spark, rec, seed, run_dir, cpus)
            wl = _workloads()[workload](ctx)
            t1, b1 = time.perf_counter(), ctx.bench_s
            wl.setup()
            setup_s = get_spark_s + (time.perf_counter() - t1) - (ctx.bench_s - b1)
            passes = _measure(ctx, wl, seconds, trace, workers)
        ctx.note_value("heap_retained_mb", probe.heap_retained_mb(spark._jvm))
        if hasattr(wl, "finish"):
            wl.finish()
        if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
            rec.attempted += 1
            rec.failed += 1
            rec.failures.append("CacheManager holds cached plans after the run")
        # The peak resident sets of this process and the JVM, plus the
        # sampled peak of the Python workers' private memory (their shared
        # pages are the daemon's, counted once).
        ctx.note_value("workers_peak_mb", workers.peak_mb)
        ctx.note_value("peak_rss_mb", probe.peak_rss_mb([os.getpid(), jvm_pid]) + workers.peak_mb)
        if trace:
            rec.write_spans(os.path.join(ROOT, ".perfbench_out", f"spans-{workload}-{seed}.json"))
    finally:
        _stop_spark(spark)
    return metrics.summarize(rec, ctx, trace=trace, setup_s=setup_s, get_spark_s=get_spark_s, **passes)


def _measure(ctx: Ctx, wl, seconds: float, trace: bool, workers: probe.WorkerMemory) -> dict:
    """Run whole passes until ``seconds`` have passed (at least one). The
    benchmark's own work (inputs, model, checks) and the memory sampling
    are taken out of each pass's time and CPU. On a shared virtual machine
    the host takes a varying share of the CPU (steal): ``pass_s`` holds each
    pass's wall time with that share taken out, ``pass_raw_s`` the wall
    time as measured."""
    out: dict[str, list[float]] = {"pass_s": [], "pass_raw_s": [], "cpu_s": [], "steal": []}
    ctx.rec.trace = trace
    start = time.perf_counter()
    while not out["pass_s"] or time.perf_counter() - start < seconds:
        p0, b0, c0, bc0 = time.perf_counter(), ctx.bench_s, ctx.cpu(), ctx.bench_cpu_s
        m0, t0 = workers.cpu_s, probe.cpu_ticks()
        wl.one_pass()
        wall = time.perf_counter() - p0 - (ctx.bench_s - b0)
        steal = probe.steal_share(t0, probe.cpu_ticks())
        out["pass_raw_s"].append(wall)
        out["steal"].append(steal)
        out["pass_s"].append(wall * (1.0 - steal))
        out["cpu_s"].append(probe.cpu_delta(c0, ctx.cpu()) - (ctx.bench_cpu_s - bc0) - (workers.cpu_s - m0))
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["olap_mix", "lake_write_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not (ROOT / PACKAGE).is_dir():
        print(f"perfbench: no {PACKAGE}/ package under {ROOT}; run from a repository checkout",
              file=sys.stderr)
        return 2
    run_dir = str(ROOT / ".perfbench_run" / f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        detail, result = run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
