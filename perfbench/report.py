"""Turns a run's records into the metrics ``run.py`` prints.

End-to-end metrics come from untraced runs only. Per-layer metrics come
from the measured passes of a ``--trace 1`` run and are per pass
(totals over the traced passes divided by their number), so they compare
directly with ``pass_s``. Operation latencies exclude the tracer's own
work (reading counters happens outside the timed call), which
``trace.overhead_s`` reports. A layer a workload never calls reports 0.
"""

from __future__ import annotations

import statistics

# Layers whose self time is reported; "bench" is the part of an operation's
# root span outside every engine call (a drain's root span is "streaming").
LAYERS = ("bench", "session", "queries", "staging", "functions", "statements",
          "write_path", "tpchgen", "streaming", "spark")

_WRITES = {"insert_into": "write_path.insert_s", "merge_into": "write_path.merge_s",
           "delete_where": "write_path.delete_s", "optimize_table": "write_path.optimize_s"}


def _m(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def end_to_end(r, setup_s: float) -> dict:
    reads = [o["seconds"] for o in r.ops if o["kind"] == "read"]
    return {
        "setup_s": _m(setup_s, "s"),
        "pass_s": _m(statistics.median(r.passes), "s"),
        "query_p50_s": _m(statistics.median(reads), "s"),
        "query_p90_s": _m(statistics.quantiles(reads, n=10, method="inclusive")[8], "s"),
    }


def write_p50_s(ops) -> float:
    writes = [o["seconds"] for o in ops if o["kind"] == "write"]
    return statistics.median(writes) if writes else 0.0


def stream_rows_per_s(ops) -> float:
    drains = [o for o in ops if o["kind"] == "drain"]
    rows = sum(p["numInputRows"] for o in drains for p in o["progress"])
    wall = sum(o["seconds"] for o in drains)
    return rows / wall if wall else 0.0


def per_layer(r, session_build_s: float, cpus: int, memory: dict[str, float]) -> dict:
    ops = r.ops
    n = len(r.passes)
    totals = r.tracer.totals()

    def calls(name: str) -> float:
        return totals.get(name, (0, 0.0))[0] / n

    def secs(name: str) -> float:
        return totals.get(name, (0, 0.0))[1] / n

    spark: dict[str, float] = {}
    for o in ops:
        for k, v in o["spark"].items():
            spark[k] = spark.get(k, 0.0) + v
    run_s = spark.get("executor_run_ms", 0.0) / 1000.0

    staging_calls = sum(calls(x) for x in ("staged", "staged_view")) - _nested(r, ("staged", "staged_view")) / n
    misses = calls("staging.build") - _nested(r, ("staging.build",)) / n
    build_s, exec_s = secs("Query.spark"), secs("force")

    out_all = sum(o["spark"].get("output_bytes", 0.0) for o in ops if o["kind"] == "write")
    out_ins = sum(o["spark"].get("output_bytes", 0.0) for o in ops if o["name"] == "insert")

    progress = [p for o in ops if o["kind"] == "drain" for p in o["progress"]]
    state = progress[-1]["stateOperators"][0] if progress and progress[-1]["stateOperators"] else {}
    files = r.samples.get("write_path.table_files", [])
    self_times = r.tracer.self_times()

    metrics = {
        "session.build_s": _m(session_build_s, "s"),
        "session.load_table_calls": _m(calls("load_table"), "count"),
        "session.load_table_s": _m(secs("load_table"), "s"),
        "queries.build_s": _m(build_s, "s"),
        "queries.exec_s": _m(exec_s, "s"),
        "queries.build_share": _m(build_s / (build_s + exec_s) if build_s + exec_s else 0.0, "share"),
        "staging.calls": _m(staging_calls, "count"),
        "staging.misses": _m(misses, "count"),
        "staging.hit_ratio": _m(1.0 - misses / staging_calls if staging_calls else 0.0, "share"),
        "staging.build_s": _m(secs("staging.build"), "s"),
        "functions.transpile_calls": _m(calls("transpile"), "count"),
        "functions.transpile_s": _m(secs("transpile"), "s"),
        "functions.presto_sql_s": _m(secs("presto_sql"), "s"),
        "statements.execute_s": _m(secs("execute_statement"), "s"),
        **{metric: _m(secs(fn), "s") for fn, metric in _WRITES.items()},
        "write_path.bytes_written_per_input_byte": _m(out_all / out_ins if out_ins else 0.0, "ratio"),
        "write_path.table_files": _m(statistics.mean(files) if files else 0.0, "count"),
        "tpchgen.rows": _m(r.counts.get("tpchgen.rows", 0.0) / n, "count"),
        "tpchgen.gen_s": _m(secs("tpchgen.generate"), "s"),
        "streaming.drain_s": _m(sum(o["seconds"] for o in ops if o["kind"] == "drain") / n, "s"),
        "streaming.batches": _m(len(progress) / n, "count"),
        "streaming.input_rows": _m(sum(p["numInputRows"] for p in progress) / n, "count"),
        "streaming.trigger_s": _m(sum(p["durationMs"].get("triggerExecution", 0) for p in progress) / 1000.0 / n, "s"),
        "streaming.state_rows": _m(state.get("numRowsTotal", 0), "count"),
        "streaming.state_bytes": _m(state.get("memoryUsedBytes", 0), "bytes"),
        "spark.jobs": _m(spark.get("jobs", 0.0) / n, "count"),
        "spark.stages": _m(spark.get("stages", 0.0) / n, "count"),
        "spark.tasks": _m(spark.get("tasks", 0.0) / n, "count"),
        "spark.executor_run_s": _m(run_s / n, "s"),
        "spark.executor_cpu_s": _m(spark.get("executor_cpu_ns", 0.0) / 1e9 / n, "s"),
        "spark.gc_s": _m(spark.get("gc_ms", 0.0) / 1000.0 / n, "s"),
        "spark.input_bytes": _m(spark.get("input_bytes", 0.0) / n, "bytes"),
        "spark.shuffle_read_bytes": _m(spark.get("shuffle_read_bytes", 0.0) / n, "bytes"),
        "spark.shuffle_write_bytes": _m(spark.get("shuffle_write_bytes", 0.0) / n, "bytes"),
        "spark.spill_bytes": _m(spark.get("spill_bytes", 0.0) / n, "bytes"),
        "spark.core_busy_share": _m(run_s / (sum(r.passes) * cpus), "share"),
        **{f"self.{layer}_s": _m(self_times.get(layer, 0.0) / n, "s") for layer in LAYERS},
        "trace.overhead_s": _m(r.trace_overhead_s / n, "s"),
        **{k: _m(v, "MiB") for k, v in memory.items()},
        "write_p50_s": _m(write_p50_s(ops), "s"),
        "stream_rows_per_s": _m(stream_rows_per_s(ops), "rows/s"),
    }
    return metrics


def _nested(r, names: tuple[str, ...]) -> int:
    """Spans named in ``names`` whose parent chain holds another of them
    (inner calls of one outer call; counted once)."""
    by_id = {s.span_id: s for s in r.tracer.spans}
    nested = 0
    for s in r.tracer.spans:
        if s.name not in names:
            continue
        p = by_id.get(s.parent) if s.parent is not None else None
        while p is not None and p.name not in names:
            p = by_id.get(p.parent) if p.parent is not None else None
        nested += p is not None
    return nested
