"""Outside-in tracing for the benchmark's traced run.

``Tracer`` records one span per call into a public engine function: name,
layer, start, end, parent span and the operation id shared by every span of
one benchmark operation. Spans stay in memory and are written out once, when
the run ends. The engine is not modified: ``Tracer.instrument`` rebinds each
listed function, in every ``lyft_presto_spark`` module that holds a reference
to it, to a wrapper that opens a span around the original call.

``SparkCounters`` reads the runtime counters of one operation's Spark jobs
from the SparkContext status store, by job group.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError

# (module, function) -> layer. The layer names are the ones BENCHMARK.json
# and the per-layer metrics use.
PUBLIC_FUNCTIONS: dict[tuple[str, str], str] = {
    ("lyft_presto_spark.session", "build_session"): "session",
    ("lyft_presto_spark.session", "load_table"): "session",
    ("lyft_presto_spark.operators.staging", "staged"): "staging",
    ("lyft_presto_spark.operators.staging", "staged_view"): "staging",
    ("lyft_presto_spark.functions.presto", "transpile"): "functions",
    ("lyft_presto_spark.functions.presto", "presto_sql"): "functions",
    ("lyft_presto_spark.sources.statements", "execute_statement"): "statements",
    ("lyft_presto_spark.sources.write_path", "insert_into"): "write_path",
    ("lyft_presto_spark.sources.write_path", "merge_into"): "write_path",
    ("lyft_presto_spark.sources.write_path", "delete_where"): "write_path",
    ("lyft_presto_spark.sources.write_path", "optimize_table"): "write_path",
    ("lyft_presto_spark.sources.write_path", "analyze"): "write_path",
    ("lyft_presto_spark.streaming.events_stream", "stream_events"): "streaming",
    ("lyft_presto_spark.streaming.events_stream", "tumbling_counts"): "streaming",
}


# Staging entry points whose fourth argument is the artifact's build callable.
STAGING_WITH_BUILD = ("staged", "staged_view")


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    op_id: int
    parent: int | None
    start: float
    end: float = 0.0


class Tracer:
    """In-memory span recorder; one per run."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op_id = 0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, layer: str) -> "_SpanContext":
        return _SpanContext(self, name, layer)

    def _open(self, name: str, layer: str) -> Span:
        stack = self._stack()
        with self._lock:
            s = Span(len(self.spans), name, layer, self.op_id, stack[-1].span_id if stack else None, time.perf_counter())
            self.spans.append(s)
        stack.append(s)
        return s

    def _close(self, s: Span) -> None:
        s.end = time.perf_counter()
        self._stack().pop()

    def wrap(self, fn, name: str, layer: str):
        build_arg = name in STAGING_WITH_BUILD

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if build_arg:
                # a staging miss is the call that runs the artifact's build
                if "build" in kwargs:
                    kwargs["build"] = self.wrap(kwargs["build"], "staging.build", layer)
                elif len(args) > 3:
                    args = (*args[:3], self.wrap(args[3], "staging.build", layer), *args[4:])
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def instrument(self) -> None:
        """Rebind every listed public function to a span-recording wrapper."""
        for (mod_name, fn_name), layer in PUBLIC_FUNCTIONS.items():
            original = getattr(importlib.import_module(mod_name), fn_name)
            wrapper = self.wrap(original, fn_name, layer)
            for mod in [m for k, m in list(sys.modules.items()) if k.startswith("lyft_presto_spark") and m]:
                if getattr(mod, fn_name, None) is original:
                    self._restore.append((mod, fn_name, original))
                    setattr(mod, fn_name, wrapper)

    def uninstrument(self) -> None:
        for mod, fn_name, original in reversed(self._restore):
            setattr(mod, fn_name, original)
        self._restore.clear()

    def self_times(self) -> dict[str, float]:
        """Per layer: span time minus the time its direct children cover."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.layer] += (s.end - s.start) - child_time[s.span_id]
        return dict(out)

    def totals(self) -> dict[str, tuple[int, float]]:
        """Per span name: (calls, inclusive seconds), outermost calls only
        for a name that recurses into itself."""
        out: dict[str, list] = defaultdict(lambda: [0, 0.0])
        by_id = {s.span_id: s for s in self.spans}
        for s in self.spans:
            p = by_id.get(s.parent) if s.parent is not None else None
            while p is not None and p.name != s.name:
                p = by_id.get(p.parent) if p.parent is not None else None
            out[s.name][0] += 1
            if p is None:
                out[s.name][1] += s.end - s.start
        return {k: (v[0], v[1]) for k, v in out.items()}

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.tracer, self.name, self.layer = tracer, name, layer

    def __enter__(self) -> Span:
        self.span = self.tracer._open(self.name, self.layer)
        return self.span

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.span)


# StageData getter -> counter name (bytes/ms as the status store keeps them).
_STAGE_FIELDS = {
    "executorRunTime": "executor_run_ms",
    "executorCpuTime": "executor_cpu_ns",
    "jvmGcTime": "gc_ms",
    "inputBytes": "input_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "outputBytes": "output_bytes",
    "memoryBytesSpilled": "spill_bytes",
    "diskBytesSpilled": "spill_bytes",
    "numTasks": "tasks",
}


class SparkCounters:
    """Per-operation runtime counters from the SparkContext status store.

    Each operation runs under its own job group; after it ends, the listener
    bus is drained so the store has every finished stage, then the group's
    jobs and their stages' last attempts are summed.
    """

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()

    def begin(self, op_id: int) -> str:
        group = f"perfbench-op-{op_id}"
        self.sc.setJobGroup(group, group)
        return group

    def collect(self, groups: list[str]) -> dict[str, float]:
        self.jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        c: dict[str, float] = defaultdict(float)
        seen: set[int] = set()
        for g in groups:
            for job_id in tracker.getJobIdsForGroup(g):
                info = tracker.getJobInfo(job_id)
                c["jobs"] += 1
                for stage_id in info.stageIds if info else ():
                    if stage_id in seen:
                        continue
                    seen.add(stage_id)
                    try:
                        data = self.store.lastStageAttempt(stage_id)
                    except Py4JJavaError:  # a skipped stage has no attempt
                        continue
                    c["stages"] += 1
                    for getter, key in _STAGE_FIELDS.items():
                        c[key] += getattr(data, getter)()
        return dict(c)
