#!/usr/bin/env python3
"""Benchmark of the patternly_spark pipeline, one workload per process.

    python3 perfbench/run.py --workload discover_fit --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 1 --trace 0

Run from the repository root.  A run starts one Spark session
(``local[<cpus>]``), generates the workload's inputs from the seed, caches
them and warms the JVM up with the operation on a slice of them, then runs
the operation until ``--seconds`` have passed (at least once), checking
every operation's output.  It prints a
report with each metric's unit and sample count, then, as the last line,
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``).  A traced run also writes its spans to
``.perfbench_out/``.  Everything the run writes stays under the root.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TRACED_OPS = 2  # traced operations whose counts are compared


class OpLog:
    """Operations attempted and failed; a failure is an operation that
    raised or failed its correctness check."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def attempt(self, fn):
        self.attempted += 1
        try:
            out = fn()
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        *values, fails = out if isinstance(out, tuple) else (out, [])
        if fails:
            self.failed += 1
            for msg in fails:
                print(f"check failed: {msg}", file=sys.stderr)
        return tuple(values)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def metric_specs() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def prepare_env(tmp: str) -> None:
    os.makedirs(os.path.join(tmp, "local"), exist_ok=True)
    # the package's own defaults, except cores: all of them
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def live_heap_mb(spark) -> float:
    """Driver JVM heap in use once full collections stop freeing memory:
    what the program keeps alive, whatever size G1 has grown the heap to.
    Python's proxies of JVM objects are collected first.  Spark's cleaner
    frees what a collection found unreachable a little later, and that can
    make more unreachable, so collect until two collections in a row free
    nothing."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    low, still = float("inf"), 0
    for _ in range(16):
        jvm.java.lang.System.gc()
        used = heap.getHeapMemoryUsage().getUsed() / 2**20
        still = still + 1 if used > low - 1.0 else 0
        low = min(low, used)
        if still == 2:
            break
        time.sleep(0.5)
    return low


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident memory of the driver JVM and of this Python driver."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return jvm_kb / 1024.0, py_kb / 1024.0


def shutdown(spark) -> None:
    """Stop the session, then end the JVM (it exits when its stdin closes;
    its Python workers exit with it) and wait for it."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def median(xs):
    return statistics.median(xs) if xs else float("nan")


# ---------------------------------------------------------------------------

def layer_metrics(tracer, slices, counter_deltas, kernel_lo: int, kernels: dict) -> tuple[dict, dict]:
    """Per-layer metrics of the traced operations: times are the median
    over operations, counts those of the first; ``repeats`` says for each
    count whether every traced operation gave the same one.  Spans from
    ``kernel_lo`` on are the direct kernel calls, whose own metrics come
    in ``kernels``."""
    from spans import summarize

    per_op = []
    for (lo, hi), counters in zip(slices, counter_deltas):
        s = summarize(tracer.spans, lo, hi)

        def get(name, key):
            return s.get(name, {}).get(key, 0)

        m = {
            "quantize.cutpoints_s": get("quantize.cutpoints", "s"),
            "detection.cluster_s": get("detection.cluster", "s"),
            "detection.cluster_calls": get("detection.cluster", "calls"),
            "detection.reduce_step_s": get("detection.reduce_step", "s"),
            "detection.reduce_steps": get("detection.reduce_step", "calls"),
            "detection.fit_self_s": get("detection.fit", "self_s"),
            "detection.stream_loop_self_s": get("detection.fit_stream", "self_s"),
            "genesess.library_s": get("genesess.library", "s"),
            "genesess.library_calls": get("genesess.library", "calls"),
            "genesess.mint_s": get("genesess.mint", "s"),
            "genesess.mints": get("genesess.mint", "calls"),
            "llk.score_calls": counters.get("llk.score_calls", 0),
            "llk.driver_s": get("llk.driver", "s"),
            "llk.driver_calls": get("llk.driver", "calls"),
            "simulate.bootstrap_s": get("simulate.bootstrap", "s"),
            "graph.cc_s": get("graph.cc", "s"),
            "graph.core_s": get("graph.core", "s"),
            "graph.bfs_s": get("graph.bfs", "s"),
            "spark.failed_tasks": sum(sp.failed_tasks for sp in tracer.spans[lo:hi]),
        }
        for name in SPARK_SPANS:
            for key in ("jobs", "stages", "tasks"):
                m[f"{name}.{key}"] = get(name, key)
        per_op.append(m)
    out, repeats = {}, {}
    for k in per_op[0]:
        vals = [m[k] for m in per_op]
        if k.endswith(("_s", "_frac")):
            out[k] = median(vals)
        else:
            out[k] = vals[0]
            repeats[k] = all(v == vals[0] for v in vals)
    out.update(kernels)
    chop = summarize(tracer.spans, kernel_lo).get("windowing.chop")
    for key in ("jobs", "stages", "tasks") if chop else ():
        out[f"windowing.chop.{key}"] = chop[key]  # one chop, not compared
        repeats.pop(f"windowing.chop.{key}")
    out["trace.counts_repeat_frac"] = sum(repeats.values()) / len(repeats)
    return out, repeats


SPARK_SPANS = (
    "detection.fit", "detection.predict", "quantize.cutpoints", "detection.cluster",
    "detection.reduce_step", "genesess.library", "detection.fit_stream", "windowing.chop",
    "graph.cc", "graph.core", "graph.bfs",
)


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> int:
    specs = metric_specs()
    tmp = os.path.join(ROOT, ".perfbench_tmp", str(os.getpid()))
    prepare_env(tmp)
    from patternly_spark.session import get_spark

    import spans as tr
    from workloads import WORKLOADS

    W = WORKLOADS[name]
    log = OpLog()
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        # -- set-up: session start, inputs generated and cached, warm-up
        w = W(spark, trace)
        w.load(W.generate(seed))
        log.attempt(w.warm_up)
        setup_s = time.perf_counter() - t0

        # -- measured phase.  Untraced: the operation, repeated until
        # `seconds` have passed.  Traced: one more untimed operation, since
        # the JIT keeps speeding up the first few at full size; then traced
        # and untraced operations interleaved; then the direct kernels.
        plain, traced, slices, deltas = [], [], [], []

        def plain_op():  # (op seconds, items per second, live heap after)
            res = log.attempt(lambda: w.op(tr.NullTracer()))
            if res is not None:
                plain.append(res + (live_heap_mb(spark),))

        deadline = time.perf_counter() + seconds
        if trace:
            tracer = tr.Tracer(spark.sparkContext)
            log.attempt(lambda: w.op(tr.NullTracer()))
            for step in ("traced", "plain", "traced"):
                if step == "plain":
                    plain_op()
                    continue
                lo, before = tracer.mark()
                with tracer.instrument():
                    res = log.attempt(lambda: w.op(tracer))
                hi, after = tracer.mark()
                if res is not None:
                    traced.append(res)
                    slices.append((lo, hi))
                    deltas.append({k: v - before.get(k, 0) for k, v in after.items()})
        else:
            plain_op()
            while time.perf_counter() < deadline and log.failed < 3:
                plain_op()
        if not plain or (trace and len(traced) < TRACED_OPS):
            print("no successful operation to measure", file=sys.stderr)
            return 1

        op_s = median([r[0] for r in plain])
        rate = median([r[1] for r in plain])
        heap = median([r[2] for r in plain])
        report = [
            ("setup_s", setup_s, "s", "session start + generation + caching + warm-up"),
            (f"{W.aliases[0]} (op_s)", op_s, "s", f"{len(plain)} operations"),
            (f"{W.aliases[1]} (items_per_s)", rate, f"{W.item}/s",
             f"{len(plain)} operations x {w.rates_per_op} passes"),
            ("error_rate", log.error_rate, "ratio", f"{log.attempted} operations"),
        ]
        if trace:
            lo = len(tracer.spans)
            res = log.attempt(lambda: w.kernels(tracer))
            metrics, repeats = layer_metrics(tracer, slices, deltas, lo, res[0] if res else {})
            metrics["trace.overhead_frac"] = median([r[0] for r in traced]) / op_s - 1.0
            # a layer this workload does not run reads 0
            metrics = {k: metrics.get(k, 0.0) for k in specs["per_layer"]}
            kind = "per_layer"
        else:
            kind = "end_to_end"
        jvm_mb, py_mb = peak_rss_mb(spark)
        report += [
            ("peak_rss_mb", jvm_mb + py_mb, "MB", f"driver JVM {jvm_mb:.0f} + Python driver {py_mb:.0f}"),
            ("jvm_live_heap_mb", heap, "MB", f"{len(plain)} operations, after full GCs"),
            ("py_peak_rss_mb", py_mb, "MB", "Python driver"),
        ]
        if kind == "end_to_end":
            metrics = {"op_s": op_s, "items_per_s": rate, "setup_s": setup_s,
                       "jvm_live_heap_mb": heap, "py_peak_rss_mb": py_mb}
    finally:
        shutdown(spark)
        shutil.rmtree(tmp, ignore_errors=True)

    print(f"# {name} seed={seed} seconds={seconds} trace={int(trace)}")
    for label, value, unit, n in report:
        print(f"{label:<36} {value:>14.4f} {unit:<10} n: {n}")
    if trace:
        for k in sorted(metrics):
            mark = "" if k not in repeats else ("  repeats" if repeats[k] else "  DIFFERS")
            print(f"{k:<36} {metrics[k]:>14.4f} {specs['per_layer'].get(k, '?'):<10}{mark}")
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"trace-{name}-seed{seed}.json"), "w") as f:
            json.dump({"workload": name, "seed": seed, "spans": tracer.to_records(),
                       "counters": tracer.counters, "metrics": metrics, "repeats": repeats}, f)
    print(json.dumps(result_line(log, metrics, specs[kind])))
    return 0


def result_line(log: OpLog, metrics: dict, units: dict) -> dict:
    """The last line of a run; raises KeyError if a metric is missing."""
    missing = sorted(set(units) - set(metrics))
    if missing:
        raise KeyError(f"metrics not produced: {missing}")
    return {
        "correct": log.failed == 0,
        "attempted": log.attempted,
        "failed": log.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "patternly_spark", "__init__.py")):
        print(f"patternly_spark not found under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload == "all":
        rc = 0
        for name in WORKLOADS:
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(args.trace)]
            rc = max(rc, subprocess.run(cmd, cwd=ROOT).returncode)
        return rc
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)} or 'all'")
    return run_workload(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
