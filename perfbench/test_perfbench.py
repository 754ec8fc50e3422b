"""Tests of the benchmark itself (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import checks, datagen, metrics, probe  # noqa: E402


def test_wrong_result_counts_as_failed():
    rec = probe.Recorder()
    assert rec.run_op("good", "query", lambda: 42, lambda r: checks.compare("x", r, 42)) == 42
    assert rec.run_op("wrong", "query", lambda: 41, lambda r: checks.compare("x", r, 42)) is None
    assert (rec.attempted, rec.failed) == (2, 1)
    assert rec.failures == ["wrong: x: got 41, expected 42"]
    # the wrong op's latency is still a sample: a failure is not free
    assert len(rec.samples["kind:query"]) == 2


def test_raising_op_and_raising_check_count_as_failed():
    rec = probe.Recorder()

    def boom():
        raise RuntimeError("no")

    rec.run_op("raises", "commit", boom)
    rec.run_op("bad_check", "commit", lambda: 1, lambda r: r["missing"])
    rec.run_op("warmup", "warmup", lambda: 1, lambda r: "wrong", record=False)
    assert (rec.attempted, rec.failed) == (3, 3)
    assert "warmup" not in str(dict(rec.samples))


def test_failed_ops_make_the_run_incorrect():
    class Ctx:
        notes, spark_cpus = {}, 4
        values = {"peak_rss_mb": 100.0, "workers_peak_mb": 10.0, "heap_retained_mb": 50.0}

    rec = probe.Recorder()
    rec.run_op("q", "query", lambda: [1, 2], lambda r: checks.compare("rows", len(r), 3))
    detail, result = metrics.summarize(rec, Ctx(), trace=False, setup_s=1.0, get_spark_s=0.5,
                                       pass_s=[2.0], pass_raw_s=[2.1], cpu_s=[3.0], steal=[0.05])
    assert result["correct"] is False
    assert (result["attempted"], result["failed"]) == (1, 1)
    assert detail["metrics"]["failed_op_ratio"] == {"value": 1.0, "unit": "ratio", "failed": 1,
                                                    "attempted": 1}
    assert detail["metrics"]["query_tail_s"]["percentile"] == 0.5  # one sample: no tail
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert [k for k in result["metrics"]] == [n for n, *_ in metrics.END_TO_END]


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    assert probe.tail(list(range(1000)))[0] == 0.99
    assert probe.tail(list(range(100)))[0] == 0.9
    assert probe.tail(list(range(40)))[0] == 0.75
    assert probe.tail(list(range(19))) == (0.5, 9.0)  # too few: the median
    assert probe.quantile([1.0, 2.0, 3.0, 4.0], 0.5) == 2.5


def test_span_self_time_excludes_children():
    rec = probe.Recorder(trace=True)
    with rec.span("op.x"):
        with rec.span("catalog.read_table"):
            pass
        with rec.span("spark.execute"):
            pass
    totals = rec.span_totals()
    root = totals["op.x"]
    kids = totals["catalog.read_table"]["total_s"] + totals["spark.execute"]["total_s"]
    assert root["self_s"] == pytest.approx(root["total_s"] - kids)
    parents = {s["name"]: s["parent"] for s in rec.spans}
    assert parents == {"op.x": None, "catalog.read_table": 0, "spark.execute": 0}


def test_digest_is_order_insensitive_and_value_exact():
    rows = [(1, "a", 2.5), (2, "b", None)]
    assert checks.digest(["k", "s", "v"], rows) == checks.digest(["k", "s", "v"], rows[::-1])
    assert checks.digest(["k", "s", "v"], rows) != checks.digest(["k", "s", "v"], [(1, "a", 2.5), (2, "b", 0.0)])


def test_inputs_follow_the_seed_and_sizes_do_not():
    a, b, c = (datagen.lake_rows(1000, s) for s in (1, 1, 2))
    assert a.equals(b) and not a.equals(c)
    assert a.num_rows == c.num_rows == 1000
    keys = set(zip(a["l_orderkey"].to_pylist(), a["l_linenumber"].to_pylist()))
    assert len(keys) == 1000  # unique primary keys
    s1, s2 = datagen.star_tables(0.001, 1), datagen.star_tables(0.001, 2)
    assert {k: t.num_rows for k, t in s1.items()} == {k: t.num_rows for k, t in s2.items()}


def test_benchmark_json_declares_the_reported_metrics():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]] == list(
        metrics.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == metrics.per_layer_spec()
    assert [w["name"] for w in spec["workloads"]] == ["olap_mix", "lake_write_mix"]
    assert len({n for n, _, _ in metrics.per_layer_spec()}) == len(metrics.per_layer_spec()) <= 128


def test_worker_memory_counts_python_processes_only():
    import subprocess

    py = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    other = subprocess.Popen(["sleep", "30"])
    try:
        time.sleep(0.5)
        assert probe.python_private_mb([py.pid]) > 0
        # a JVM child before exec shares the JVM's memory: only Python counts
        assert probe.python_private_mb([other.pid]) == 0
    finally:
        for p in (py, other):
            p.kill()
            p.wait()
