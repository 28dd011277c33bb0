#!/usr/bin/env python3
"""The repository benchmark: one closed-loop client driving the engine's
public API on a named workload.

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 1 --trace 0

Run it from the repository root. It generates its inputs from ``--seed``,
builds a ``local[<cpus>]`` session, mounts the workload's catalogs and runs
a warm-up (that is set-up), then measures the workload's fixed number of
whole passes, and more while ``--seconds`` have not elapsed, checks the
outputs, and prints one JSON object as the last line of standard output::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` traces the
measured passes and reports the per-layer metrics (see ``report.py``).
Every file the engine writes lives in a per-run directory under
``.perfbench-runs/`` that is removed at exit. The run's timed operations
are kept in ``.perfbench-runs/<workload>-<seed>-trace<0|1>.ops.json`` and,
in a traced run, every span in
``.perfbench-runs/<workload>-<seed>-trace1.spans.jsonl``.
Workloads and the layer -> end-to-end predictions are described in
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import threading
import time
import traceback
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETTLE_S = 2.0


def process_age_s() -> float:
    """Seconds since this process started (``/proc/self/stat`` starttime)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start


def peak_rss_mb(pid: int | str = "self") -> float:
    """High-water resident set size of a process (``VmHWM``), in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def reset_peak_rss(pid: int | str = "self") -> None:
    """Restart a process's ``VmHWM`` from its current RSS (clear_refs 5)."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def retained_mb(spark) -> float:
    """Memory the driver holds after the workload, in MiB: the Python
    driver's resident set, plus the JVM's heap in use after full
    collections and its non-heap (metaspace, code cache) in use."""
    jvm = spark.sparkContext._jvm
    for _ in range(3):  # the context cleaner frees blocks of collected broadcasts/RDDs in between
        jvm.System.gc()
        time.sleep(0.5)
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    with open("/proc/self/status") as f:
        py_kb = next(int(line.split()[1]) for line in f if line.startswith("VmRSS:"))
    jvm_bytes = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    return py_kb / 1024.0 + jvm_bytes / 2**20


def driver_memory() -> str:
    """A quarter of physical memory, at most 4 GiB: the engine's default
    (24g) is larger than many machines."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    return f"{min(4096, total_kb // 4096)}m"


def isolate(run_dir: str) -> dict[str, str]:
    """Point every directory the engine writes at the per-run directory."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "warehouse", "ivf", "staging", "data")}
    for d in dirs.values():
        os.makedirs(d)
    old = os.environ.get("PYTHONPATH")
    os.environ.update(
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["local"],
        SPARK_GRAFT_IVF_DIR=dirs["ivf"],
        SPARK_GRAFT_STAGING_DIR=dirs["staging"],
        SPARK_GRAFT_DRIVER_MEM=driver_memory(),
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=ROOT + (os.pathsep + old if old else ""),
        TZ="UTC",
    )
    time.tzset()
    tempfile.tempdir = None
    return dirs


def build(dirs: dict[str, str]):
    from lyft_presto_spark.session import build_session

    cpus = len(os.sched_getaffinity(0))
    return build_session(
        app_name="perfbench",
        cpus=str(cpus),
        extra_conf={
            "spark.sql.warehouse.dir": dirs["warehouse"],
            "spark.local.dir": dirs["local"],
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


class Runner:
    """Times operations, counts attempts and failures, and (when tracing)
    records spans and per-operation Spark counters."""

    def __init__(self, spark):
        self.spark = spark
        self.tracer = None
        self.counters = None
        self.tracing = False  # spans + counters on (traced passes only)
        self.phase = "setup"
        self.pass_no = -1
        self.attempted = 0
        self.failed = 0
        self.ops: list[dict] = []  # measured operations
        self.passes: list[float] = []  # wall seconds of each measured pass
        self.counts: dict[str, float] = defaultdict(float)
        self.samples: dict[str, list] = defaultdict(list)
        self._lock = threading.Lock()  # warm-ups run operations on threads
        self.trace_overhead_s = 0.0  # time spent reading counters and samples

    @contextmanager
    def overhead(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.trace_overhead_s += time.perf_counter() - t0

    def start_tracing(self) -> None:
        from tracing import SparkCounters, Tracer

        self.tracer = Tracer()
        self.counters = SparkCounters(self.spark)
        self.tracer.instrument()
        self.tracing = True

    def stop_tracing(self) -> None:
        if self.tracer is not None:
            self.tracer.uninstrument()
        self.tracing = False

    def span(self, name: str, layer: str):
        return self.tracer.span(name, layer) if self.tracing else nullcontext()

    def count(self, key: str, n: float) -> None:
        if self.tracing:
            self.counts[key] += n

    def sample(self, key: str, value: float) -> None:
        if self.tracing:
            self.samples[key].append(value)

    def _fail(self, what: str) -> None:
        with self._lock:
            self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)

    def check(self, name: str, fn) -> None:
        """One correctness check (outside any timed window)."""
        with self._lock:
            self.attempted += 1
        try:
            fn()
        except Exception:
            self._fail(f"check {name}")

    def op(self, kind: str, name: str, fn, check=None, layer: str = "bench"):
        op_id = len(self.ops) if self.phase == "measure" else -1
        group = None
        if self.tracing:
            self.tracer.op_id = op_id
            with self.overhead():
                group = self.counters.begin(op_id)
        with self._lock:
            self.attempted += 1
        ok, out = True, None
        t0 = time.perf_counter()
        try:
            with self.span(name, layer):
                out = fn()
        except Exception:
            ok = False
            self._fail(f"{kind} {name}")
        seconds = time.perf_counter() - t0
        if ok and check is not None:
            try:
                ok = bool(check(out))
            except Exception:
                ok = False
            if not ok:
                with self._lock:
                    self.failed += 1
                print(f"perfbench: FAILED check of {kind} {name}: got {out!r}", file=sys.stderr)
        if self.phase == "measure":
            rec = {"op_id": op_id, "kind": kind, "name": name, "seconds": seconds, "ok": ok, "pass": self.pass_no}
            if isinstance(out, dict) and "progress" in out:
                rec["progress"] = out["progress"]
            if self.tracing:
                groups = [group] + ([out["run_id"]] if isinstance(out, dict) and "run_id" in out else [])
                with self.overhead():
                    rec["spark"] = self.counters.collect(groups)
            self.ops.append(rec)
        return out

    def measure(self, workload, seconds: float) -> None:
        """``workload.passes`` whole passes, and more until ``seconds`` have
        elapsed."""
        self.phase = "measure"
        start = time.perf_counter()
        while len(self.passes) < workload.passes or time.perf_counter() - start < seconds:
            self.pass_no += 1
            t0 = time.perf_counter()
            workload.run_pass(self, self.pass_no)
            self.passes.append(time.perf_counter() - t0)
        self.phase = "check"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "lyft_presto_spark", "__init__.py")):
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    runs_dir = os.path.join(ROOT, ".perfbench-runs")
    run_dir = os.path.join(runs_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    record = os.path.join(runs_dir, f"{args.workload}-{args.seed}-trace{args.trace}")
    dirs = isolate(run_dir)
    spark = None
    try:
        workload = WORKLOADS[args.workload](args.seed, dirs["data"])
        with ThreadPoolExecutor(1) as pool:  # inputs are generated while the JVM starts
            inputs = pool.submit(workload.prepare)
            t0 = time.perf_counter()
            spark = build(dirs)
            session_build_s = time.perf_counter() - t0
            inputs.result()
        spark.sparkContext.setLogLevel("ERROR")
        runner = Runner(spark)
        workload.mount(runner)
        mount_s = process_age_s()
        workload.warmup(runner)
        setup_s = process_age_s()
        print(f"perfbench: session {session_build_s:.1f}s, mounted at {mount_s:.1f}s, "
              f"warm at {setup_s:.1f}s", file=sys.stderr)
        # Settle before measuring: collect the warm-up's garbage and let the
        # JIT compiler queue drain, so every run starts its passes alike.
        spark.sparkContext._jvm.System.gc()
        time.sleep(SETTLE_S)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        if args.trace:
            for pid in ("self", jvm_pid):
                reset_peak_rss(pid)
            runner.start_tracing()
        runner.measure(workload, args.seconds)
        runner.stop_tracing()
        if args.trace:
            memory = {"peak_rss_mb": peak_rss_mb() + peak_rss_mb(jvm_pid), "retained_mb": retained_mb(spark)}
        workload.final_check(runner)

        import report

        cpus = int(spark.sparkContext.defaultParallelism)
        with open(f"{record}.ops.json", "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "cpus": cpus,
                       "passes": runner.passes, "ops": runner.ops}, f, default=str)
        if args.trace:
            metrics = report.per_layer(runner, session_build_s, cpus, memory)
            runner.tracer.write(f"{record}.spans.jsonl")
        else:
            metrics = report.end_to_end(runner, setup_s)
        result = {
            "correct": runner.failed == 0,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": metrics,
        }
        print(f"perfbench: {args.workload} seed={args.seed} cpus={cpus} passes={len(runner.passes)} "
              f"ops={len(runner.ops)}", file=sys.stderr)
    finally:
        stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def stop(spark) -> None:
    """Stop the session and wait for the JVM the session launched to exit."""
    if spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
