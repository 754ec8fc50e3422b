"""The metric definitions: what the final JSON line reports, by name and
unit, and how each value is computed from a run's recorder and notes.

``END_TO_END`` and ``per_layer_spec()`` are the lists ``BENCHMARK.json``
declares; a test keeps the two in step.
"""

from __future__ import annotations

import statistics

from perfbench import lake, olap, probe

# The bounded metrics, as ``(name, unit, better, bound)``: each exists and
# is non-zero on both workloads, and stays steady on a shared machine. The
# per-op-kind latencies (query_p50_s, commit_p50_s, ...) are in the detail
# record; see README.md for why they are not bounded.
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("pass_s", "s", "lower", 0.25),
    ("cpu_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MiB", "lower", 0.03),
    ("heap_retained_mb", "MiB", "lower", 0.1),
)
READ_KINDS = ("query",)  # the reads behind query_p50_s / query_tail_s
SPARK_KINDS = ("query", "read_path")  # the reads behind the spark.* layer metrics
LAYERS = ("operators", "spark", "catalog", "streaming")
COMMIT_OPS = tuple(f"{t}_{op}" for t, op in lake.WRITE_PASS)


def op_names() -> list[str]:
    return (
        list(olap.HEADLINE)
        + list(COMMIT_OPS) + ["read_after_write", "stream_pickup"]
        + [f"{t}_compact" for t in lake.COMPACTED] + [f"{t}_expire" for t in lake.TABLES]
        + list(dict.fromkeys(lake.READ_OPS))
    )


# Per-layer metrics where a higher value is better; for all others lower is.
HIGHER_IS_BETTER = {"catalog.file_skip_ratio", "catalog.read_plan_cache_hit_ratio",
                    "catalog.files_reclaimed"}


def per_layer_spec() -> list[tuple[str, str, str]]:
    """``(name, unit, better)`` of every per-layer metric, in report order."""
    return [(name, unit, "higher" if name in HIGHER_IS_BETTER else "lower")
            for name, unit in _per_layer_units()]


def _per_layer_units() -> list[tuple[str, str]]:
    spec = [
        ("session.get_spark_s", "s"),
        ("operators.build_s", "s"),
        ("operators.build_jobs", "count"),
        ("spark.plan_s", "s"),
        ("spark.execute_s", "s"),
        ("spark.jobs", "count"),
        ("spark.stages", "count"),
        ("spark.tasks", "count"),
        ("spark.shuffle_write_bytes", "bytes"),
        ("spark.spill_bytes", "bytes"),
        ("spark.scan_rows_per_result_row", "ratio"),
        ("catalog.read_table_s", "s"),
        ("catalog.sql_s", "s"),
        ("catalog.scan_plan_s", "s"),
        ("catalog.file_skip_ratio", "ratio"),
        ("catalog.read_plan_cache_hit_ratio", "ratio"),
    ]
    for kind, unit in (("commit_s", "s"), ("commit_jobs", "count"), ("commit_stages", "count")):
        spec += [(f"catalog.{kind}.{op}", unit) for op in COMMIT_OPS]
    spec += [
        ("catalog.files_added_per_commit", "count"),
        ("catalog.bytes_written_per_user_byte", "ratio"),
        ("catalog.live_files", "count"),
        ("catalog.compact_s", "s"),
        ("catalog.compact_bytes_rewritten", "bytes"),
        ("catalog.expire_snapshots_s", "s"),
        ("catalog.files_reclaimed", "count"),
        ("streaming.read_changelog_stream_s", "s"),
        ("streaming.run_to_completion_s", "s"),
        ("streaming.jobs_per_trigger", "count"),
        ("streaming.rows_per_commit", "count"),
    ]
    spec += [(f"op.{name}.p50_s", "s") for name in op_names()]
    spec += [(f"self.{layer}_s", "s") for layer in LAYERS]
    spec += [
        ("unattributed_s", "s"),
        ("query_p50_s", "s"),
        ("query_tail_s", "s"),
        ("trace.pass_s", "s"),
        ("mem.workers_peak_mb", "MiB"),
        ("trace.bookkeeping_s", "s"),
        ("lake.commit_p50_s", "s"),
        ("lake.commit_tail_s", "s"),
        ("lake.maintenance_p50_s", "s"),
        ("lake.stream_lag_p50_s", "s"),
        ("lake.stream_lag_tail_s", "s"),
        ("lake.bytes_stored_per_live_byte", "ratio"),
        ("bench.failed_op_ratio", "ratio"),
    ]
    return spec


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    return statistics.fmean(xs) if xs else 0.0


def _ratio(num, den) -> float:
    d = sum(den)
    return sum(num) / d if d else 0.0


def _timing(values: list[float]) -> dict:
    """Median and tail of a latency sample, with the sample count."""
    if not values:
        return {"n": 0}
    p, t = probe.tail(values)
    return {"n": len(values), "p50": probe.quantile(values, 0.5), "tail_p": p, "tail": t}


def _maintenance(rec) -> list[float]:
    """Per table and pass: compaction (if the table is compacted) plus
    snapshot expiry, the maintenance a table gets every pass."""
    out = []
    for t in lake.TABLES:
        expire = rec.samples.get(f"op:{t}_expire", [])
        compact = rec.samples.get(f"op:{t}_compact", [0.0] * len(expire))
        out += [c + e for c, e in zip(compact, expire)]
    return out


def summarize(rec, ctx, *, trace: bool, setup_s: float, get_spark_s: float,
              pass_s: list[float], pass_raw_s: list[float], cpu_s: list[float],
              steal: list[float]):
    """``(detail, result)``: the detail record and the final JSON object.

    The detail record's ``metrics`` holds every end-to-end metric that
    applies to the workload, by name and unit, with the sample count and
    the percentile a tail really is. The final object holds the metrics
    ``BENCHMARK.json`` declares: ``END_TO_END`` untraced, the per-layer set
    traced."""
    reads = [v for k in READ_KINDS for v in rec.samples.get(f"kind:{k}", [])]
    timings = {
        "query": _timing(reads),
        "commit": _timing(rec.samples.get("kind:commit", [])),
        "maintenance": _timing(_maintenance(rec)),
        "stream_lag": _timing(rec.samples.get("kind:stream", [])),
    }
    failed_ratio = rec.failed / rec.attempted if rec.attempted else 0.0
    e2e = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "pass_s": {"value": _median(pass_s), "unit": "s", "n": len(pass_s)},
        "pass_raw_s": {"value": _median(pass_raw_s), "unit": "s", "n": len(pass_raw_s)},
        "cpu_s": {"value": _median(cpu_s), "unit": "s", "n": len(cpu_s)},
        "peak_rss_mb": {"value": ctx.values["peak_rss_mb"], "unit": "MiB",
                        "workers_mb": ctx.values["workers_peak_mb"]},
        "heap_retained_mb": {"value": ctx.values["heap_retained_mb"], "unit": "MiB"},
        "failed_op_ratio": {"value": failed_ratio, "unit": "ratio",
                            "failed": rec.failed, "attempted": rec.attempted},
    }
    for key, t in timings.items():
        if t["n"]:
            e2e[f"{key}_p50_s"] = {"value": t["p50"], "unit": "s", "n": t["n"]}
            if key != "maintenance":
                e2e[f"{key}_tail_s"] = {"value": t["tail"], "unit": "s", "n": t["n"],
                                        "percentile": t["tail_p"]}
    if "bytes_stored_per_live_byte" in ctx.values:
        e2e["bytes_stored_per_live_byte"] = {"value": ctx.values["bytes_stored_per_live_byte"],
                                             "unit": "ratio"}
    detail = {
        "metrics": e2e,
        "failures": rec.failures[:20],
        "cpus": ctx.spark_cpus,
        "host_steal_share": _median(steal),
        "op_p50_s": {k[3:]: probe.quantile(v, 0.5) for k, v in rec.samples.items() if k.startswith("op:")},
    }
    if not trace:
        metrics = {name: {"value": e2e[name]["value"], "unit": unit} for name, unit, _, _ in END_TO_END}
    else:
        vals = _per_layer(rec, ctx, get_spark_s, pass_s, timings, failed_ratio)
        metrics = {name: {"value": vals.get(name, 0.0), "unit": unit} for name, unit, _ in per_layer_spec()}
    result = {
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": metrics,
    }
    return detail, result


def _per_layer(rec, ctx, get_spark_s, pass_s, timings, failed_ratio) -> dict:
    n = ctx.notes
    dur, jobs = rec.span_durations, rec.span_jobs

    def read_notes(key):
        return [v for k in SPARK_KINDS for v in n.get(f"{key}|{k}", [])]

    def read_counts(key):
        return [v for k in SPARK_KINDS for v in rec.counts.get(f"{key}|kind:{k}", [])]

    v = {
        "session.get_spark_s": get_spark_s,
        "operators.build_s": _median(dur("operators.build")),
        "operators.build_jobs": _mean(jobs("operators.build")),
        "spark.plan_s": _median(dur("spark.plan")),
        "spark.execute_s": _median(dur("spark.execute")),
        "spark.jobs": _mean(read_counts("jobs")),
        "spark.stages": _mean(read_counts("stages")),
        "spark.tasks": _mean(read_counts("tasks")),
        "spark.shuffle_write_bytes": _mean(read_notes("plan.shuffle_write_bytes")),
        "spark.spill_bytes": _mean(read_notes("plan.spill_bytes")),
        "spark.scan_rows_per_result_row": _ratio(read_notes("plan.scan_rows"),
                                                 read_notes("plan.result_rows")),
        "catalog.read_table_s": _median(dur("catalog.read_table")),
        "catalog.sql_s": _median(dur("catalog.sql")),
        "catalog.scan_plan_s": _median(dur("catalog.scan_plan")),
        "catalog.file_skip_ratio": _mean(n.get("file_skip", [])),
        "catalog.read_plan_cache_hit_ratio": _mean(n.get("read_plan_cache_hit", [])),
        "catalog.files_added_per_commit": _mean(n.get("files_added", [])),
        "catalog.bytes_written_per_user_byte": _ratio(n.get("bytes_written", []), n.get("user_bytes", [])),
        "catalog.live_files": _median(n.get("live_files", [])),
        "catalog.compact_s": _median(dur("catalog.compact")),
        "catalog.compact_bytes_rewritten": _mean(n.get("compact_bytes", [])),
        "catalog.expire_snapshots_s": _median(dur("catalog.expire_snapshots")),
        "catalog.files_reclaimed": _mean(n.get("files_reclaimed", [])),
        "streaming.read_changelog_stream_s": _median(dur("streaming.read_changelog_stream")),
        "streaming.run_to_completion_s": _median(dur("streaming.run_to_completion")),
        "streaming.jobs_per_trigger": _mean(jobs("streaming.run_to_completion")),
        "streaming.rows_per_commit": _mean(n.get("stream_rows", [])),
        "trace.pass_s": _median(pass_s),
        "mem.workers_peak_mb": ctx.values["workers_peak_mb"],
        "trace.bookkeeping_s": rec.bookkeeping_s / max(len(pass_s), 1),
        "query_p50_s": timings["query"].get("p50", 0.0),
        "query_tail_s": timings["query"].get("tail", 0.0),
        "lake.commit_p50_s": timings["commit"].get("p50", 0.0),
        "lake.commit_tail_s": timings["commit"].get("tail", 0.0),
        "lake.maintenance_p50_s": timings["maintenance"].get("p50", 0.0),
        "lake.stream_lag_p50_s": timings["stream_lag"].get("p50", 0.0),
        "lake.stream_lag_tail_s": timings["stream_lag"].get("tail", 0.0),
        "lake.bytes_stored_per_live_byte": ctx.values.get("bytes_stored_per_live_byte", 0.0),
        "bench.failed_op_ratio": failed_ratio,
    }
    for op in COMMIT_OPS:
        v[f"catalog.commit_s.{op}"] = _median(dur(f"catalog.commit.{op}"))
        v[f"catalog.commit_jobs.{op}"] = _median(rec.counts.get(f"jobs|op:{op}", []))
        v[f"catalog.commit_stages.{op}"] = _median(rec.counts.get(f"stages|op:{op}", []))
    for name in op_names():
        v[f"op.{name}.p50_s"] = _median(rec.samples.get(f"op:{name}", []))
    totals = rec.span_totals()
    traced_passes = max(len(pass_s), 1)
    for layer in LAYERS:
        v[f"self.{layer}_s"] = sum(t["self_s"] for k, t in totals.items()
                                   if k.startswith(layer + ".")) / traced_passes
    roots = [t for k, t in totals.items() if k.startswith("op.")]
    v["unattributed_s"] = _ratio([t["self_s"] for t in roots], [t["calls"] for t in roots])
    return v
