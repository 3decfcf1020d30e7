#!/usr/bin/env python3
"""Benchmark for cerberus_cpp_spark: one workload, one run.

    python3 perfbench/run.py --workload verdict_clean --seed 1 \
        --seconds 10 --trace 0

Runs from the root of a source checkout, in one driver process at
``local[nproc]``: one operation at a time, each started after the
previous one finished (a closed loop with one client). Prints the
session configuration and per-metric detail lines, then, as the last
line, ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced operations, records a span and a Spark job group
around every layer call, and reports the per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(1, os.path.dirname(os.path.abspath(__file__)))

from tracing import (  # noqa: E402
    STATUS_MEASURES,
    PeakRss,
    StatusStore,
    Tracer,
    process_start_age_s,
    process_tree,
    tree_cpu_s,
)

#: set-up repetitions per run; set-up time reports their median
SETUP_REPS = 3
#: untimed operations before the timed loop: the first pays JIT and
#: code generation, the others let the JIT catch up with the hot paths
#: (with fewer, operation times still fell through the timed loop)
WARMUP_OPS = 5

#: end-to-end metric → unit. Throughput is input rows per CPU-second
#: of the whole process tree (driver, JVM, Python workers): on a shared
#: host, wall-clock rates moved with the neighbours' load, while CPU
#: seconds exclude the time the hypervisor steals
END_TO_END = {
    "rows_per_cpu_s": "rows/cpu-s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

SPARK_CALLS = (
    "distgen.generate", "engine.counts", "engine.violations",
    "engine.quarantine", "dynamic.validate_json", "checks.column_stats",
    "checks.duplicate_keys", "checks.referential_violations",
    "checks.drift",
)
DRIVER_CALLS = ("interpreter.normalized_schema", "compiler.compile")


def per_layer_spec() -> dict[str, tuple[str, str]]:
    """Per-layer metric name → (unit, better)."""
    spec = {f"{c}_s": ("s", "lower") for c in DRIVER_CALLS + SPARK_CALLS}
    spec["engine.counts.self_s"] = ("s", "lower")
    for c in SPARK_CALLS:
        for m in STATUS_MEASURES:
            if m == "cpu_util":
                spec[f"{c}.{m}"] = ("ratio", "higher")
            elif m == "gc_frac":
                spec[f"{c}.{m}"] = ("ratio", "lower")
            elif m.endswith("_s"):
                spec[f"{c}.{m}"] = ("s", "lower")
            elif m.endswith("_mb"):
                spec[f"{c}.{m}"] = ("MB", "lower")
            else:
                spec[f"{c}.{m}"] = ("count", "lower")
    spec["checks.duplicate_keys.shuffle_rows_per_input_row"] = (
        "ratio", "lower")
    spec["engine.violations.records_per_dirty_row"] = ("ratio", "lower")
    spec["tracing.overhead_rows_per_s"] = ("rows/s", "lower")
    return spec


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """An eighth of the host's memory, at most 2 GiB: the inputs are
    generated on the fly and never cached, so the heap holds only
    in-flight batches."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return max(1024, min(2048, total_kb // 8192))


def build_session(nproc: int, tmp: str):
    from pyspark.sql import SparkSession

    heap = driver_memory_mb()
    conf = {
        "spark.master": f"local[{nproc}]",
        "spark.default.parallelism": str(nproc),
        "spark.sql.shuffle.partitions": str(nproc),
        "spark.driver.memory": f"{heap}m",
        # a heap fixed from the start: neither timings nor resident
        # memory then depend on when the heap happened to grow
        "spark.driver.extraJavaOptions": (
            f"-Xms{heap}m -XX:+UseParallelGC -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp}"),
        "spark.sql.adaptive.enabled": "true",
        # table_checks' dimension is a few MB; without this the planner
        # broadcasts it and the shuffled anti-join is never measured
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.local.dir": tmp,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    b = SparkSession.builder.appName("perfbench")
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, conf


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, then wait for every process this run
    started (the JVM and its Python workers) to end."""
    sc = spark.sparkContext
    gateway = sc._gateway
    pids = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if _alive(p)]
        if pids:
            time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Calls:
    """Untraced layer calls: just run them."""

    def __call__(self, name, fn):
        return fn()


class TracedCalls:
    """Layer calls inside a span and, for Spark calls, a job group
    whose status-store measures are read after the operation."""

    def __init__(self, spark, tracer: Tracer, store: StatusStore) -> None:
        self.sc = spark.sparkContext
        self.tracer, self.store = tracer, store
        self.samples: dict[str, list[dict]] = {}
        self._pending: list[tuple[str, str, dict, int]] = []
        self.n = 0  # input rows of the workload making the calls

    def __call__(self, name, fn):
        group = None
        if name in SPARK_CALLS:
            group = f"perfbench-{len(self.tracer.spans)}"
            self.sc.setJobGroup(group, name)
        try:
            with self.tracer.span(name) as span:
                return fn()
        finally:
            if group:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._pending.append((name, group, span, self.n))

    def collect(self, out=None, skip=frozenset()) -> None:
        """Read the status store for the calls made since last time,
        and record the ratios of operation outcome ``out``; names in
        ``skip`` are dropped."""
        for name, group, span, n in self._pending:
            if name in skip:
                continue
            wall = span["end"] - span["start"]
            s = {"time_s": wall, "n": n}
            if group:
                s.update(self.store.group(group, wall))
            self.samples.setdefault(name, []).append(s)
        self._pending.clear()
        for k, v in (out.ratios.items() if out else ()):
            if k not in skip:
                self.samples.setdefault(k, []).append({"value": v})


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def emit(line: dict) -> None:
    print(json.dumps(line), flush=True)


def main(argv=None) -> int:
    age0, t0 = process_start_age_s(), time.perf_counter()
    args = parse_args(argv)
    try:
        import cerberus_cpp_spark  # noqa: F401

        import workloads as W
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{', '.join(W.WORKLOADS)}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2

    nproc = cores()
    run_dir = os.path.join(ROOT, ".perfbench_run")
    tmp = os.path.join(run_dir, f"tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    # every scratch file of Spark, the JVM and the Python workers stays
    # inside the checkout; SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    try:
        return run(args, W, nproc, tmp, run_dir, age0, t0)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run(args, W, nproc, tmp, run_dir, age0, t0) -> int:
    rss = PeakRss()
    spark, conf = build_session(nproc, tmp)
    session_s = age0 + time.perf_counter() - t0
    try:
        result = measure(args, W, spark, conf, nproc, run_dir, rss,
                         session_s)
    finally:
        stop_session(spark)
    emit(result)
    return 0


def measure(args, W, spark, conf, nproc, run_dir, rss, session_s) -> dict:
    import pyspark

    cls, per_core = W.WORKLOADS[args.workload]
    n = per_core * nproc
    jvm = spark.sparkContext._jvm
    emit({"config": {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "input_rows": n, "nproc": nproc,
        "spark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(), "session": conf,
    }})

    tracer = Tracer(run_id=f"{args.workload}-{args.seed}-{os.getpid()}")
    calls = Calls()
    traced = None
    if args.trace:
        traced = TracedCalls(spark, tracer, StatusStore(spark, nproc))
        traced.n = n
        calls = traced
    errors: list[str] = []

    def run_op(w, c) -> "W.Outcome | None":
        try:
            out = w.op(c)
        except Exception:
            traceback.print_exc()
            errors.append(f"{w.__class__.__name__} raised")
            return None
        errors.extend(out.errors)
        return out if not out.errors else None

    # set-up: meta-validation, compile and input build, repeated with a
    # fresh validator each time; then warm-up operations on the timed
    # input, which pay JIT warm-up and compile the same generated code
    # the timed operations reuse
    prep_s = []
    for _ in range(SETUP_REPS):
        t = time.perf_counter()
        w = cls(spark, n, args.seed, nproc)
        w.prepare(calls)
        prep_s.append(time.perf_counter() - t)
    t = time.perf_counter()
    for _ in range(WARMUP_OPS):
        run_op(w, Calls())
    warmup_s = time.perf_counter() - t
    setup_s = session_s + statistics.median(prep_s) + warmup_s
    rss.sample()
    t_loop = time.perf_counter()

    # timed loop: closed, one operation at a time
    times = {False: [], True: []}  # traced? → operation seconds
    cpu = {False: [], True: []}  # traced? → operation CPU seconds
    record_rates = []
    attempted = failed = 0
    end = time.perf_counter() + args.seconds
    while True:
        is_traced = bool(args.trace) and attempted % 2 == 1
        c = traced if is_traced else Calls()
        cpu0 = tree_cpu_s(os.getpid())
        t = time.perf_counter()
        if is_traced:
            with tracer.span(f"op.{args.workload}"):
                out = run_op(w, c)
        else:
            out = run_op(w, c)
        dt = time.perf_counter() - t
        dcpu = tree_cpu_s(os.getpid()) - cpu0
        attempted += 1
        if out is None:
            failed += 1
        else:
            times[is_traced].append(dt)
            cpu[is_traced].append(dcpu)
            record_rates.append(out.records / dt)
        if is_traced:
            traced.collect(out)
        rss.sample()
        now = time.perf_counter()
        # a traced run needs one operation of each kind; it gives up
        # after twice the run length if operations keep failing
        if now >= end and (not args.trace or times[True] and times[False]
                           or now >= end + args.seconds):
            break

    t_spot = time.perf_counter()
    mismatches = w.spot_check()
    errors.extend(mismatches)
    rss.sample()
    phases = {"session": session_s, "setup_reps": sum(prep_s),
              "warmup_op": warmup_s,
              "timed_loop": t_spot - t_loop,
              "spot_check": time.perf_counter() - t_spot}

    metrics: dict[str, dict] = {}
    if not args.trace:
        def summary(xs):
            q1, q2, q3 = quartiles(xs or [0.0])
            return {"median": q2, "q1": q1, "q3": q3, "samples": len(xs)}

        per_cpu = summary([n / c for c in cpu[False]])
        values = {"rows_per_cpu_s": per_cpu["median"], "setup_s": setup_s,
                  "peak_rss_mb": rss.mb()}
        emit({"detail": {
            "rows_per_cpu_s": per_cpu,
            # wall-clock rates: printed, not bounded (see README)
            "rows_per_s": summary([n / t for t in times[False]]),
            "records_per_s": summary(record_rates),
            "op_s": times[False],
            "op_cpu_s": cpu[False],
            "setup_s": {"session_s": session_s, "prepare_s": prep_s,
                        "warmup_op_s": warmup_s},
            "phases_s": phases,
            "failed_frac": failed / attempted,
            "spot_check_mismatches": len(mismatches),
        }})
        for k, unit in END_TO_END.items():
            metrics[k] = {"value": values[k], "unit": unit}
    else:
        metrics = traced_metrics(args, W, spark, w, traced, tracer, times,
                                 nproc, run_op)
        path = os.path.join(run_dir, "traces",
                            f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(tracer.spans, f)
        emit({"trace_file": os.path.relpath(path, ROOT)})

    for e in errors[:20]:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    return {"correct": not errors, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def traced_metrics(args, W, spark, w, traced, tracer, times, nproc,
                   run_op) -> dict:
    # the generator alone over the identical input, three times; then,
    # for every other workload, one untraced warm-up operation and one
    # traced operation on its own input, so that every per-layer metric
    # is present on every workload
    for _ in range(3):
        traced("distgen.generate", w.generate)
    traced.collect()
    # engine.counts.self_s subtracts a generation job over the input
    # engine.counts ran on: the run's own, or that of the probe below
    counts_gen = "distgen.generate"
    for name, (cls, per_core) in W.WORKLOADS.items():
        if name == args.workload:
            continue
        p = cls(spark, per_core * nproc, args.seed, nproc)
        traced.n = p.n
        # keep only the calls this workload does not make itself
        have = set(traced.samples)
        with tracer.span(f"probe.{name}"):
            p.prepare(traced)
            run_op(p, Calls())
            out = run_op(p, traced)
            if "engine.counts" in p.calls and "engine.counts" not in have:
                counts_gen = "probe.distgen.generate"
                for _ in range(3):
                    traced(counts_gen, p.generate)
        traced.collect(out, skip=have)

    def med(name, key="time_s"):
        # no samples only when every operation making the call failed,
        # and then the result line says correct: false
        xs = [s[key] for s in traced.samples.get(name, ())]
        return statistics.median(xs) if xs else 0.0

    spec = per_layer_spec()
    values = {}
    for c in DRIVER_CALLS + SPARK_CALLS:
        values[f"{c}_s"] = med(c)
    for c in SPARK_CALLS:
        for m in STATUS_MEASURES:
            values[f"{c}.{m}"] = med(c, m)
    values["engine.counts.self_s"] = values["engine.counts_s"] - med(counts_gen)
    dk = traced.samples.get("checks.duplicate_keys", ())
    values["checks.duplicate_keys.shuffle_rows_per_input_row"] = (
        statistics.median(s["shuffle_records"] / s["n"] for s in dk)
        if dk else 0.0)
    values["engine.violations.records_per_dirty_row"] = med(
        "engine.violations.records_per_dirty_row", "value")
    rows = {k: statistics.median(w.n / t for t in v) if v else 0.0
            for k, v in times.items()}
    values["tracing.overhead_rows_per_s"] = rows[False] - rows[True]

    # human-readable: self time per span name
    selfs = tracer.self_times()
    by_name: dict[str, list[float]] = {}
    for s in tracer.spans:
        by_name.setdefault(s["name"], []).append(selfs[s["id"]])
    emit({"self_time_s": {k: {"median": statistics.median(v),
                              "spans": len(v)}
                          for k, v in sorted(by_name.items())},
          "rows_per_s": {"untraced": rows[False], "traced": rows[True]},
          "own_calls": sorted(set(w.calls) | {"distgen.generate"})})
    return {k: {"value": values[k], "unit": spec[k][0]} for k in spec}


if __name__ == "__main__":
    sys.exit(main())
