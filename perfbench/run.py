"""The repository's benchmark: three workloads, end-to-end and per-layer.

    python3 perfbench/run.py --workload {extract,crawl,dedup} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Each run is a batch job driven by one
closed-loop client, this process, on local[<cpus>]: it submits its next
Spark action only after the previous one finished. The workload's
generator takes --seed; the engine sees only the generated tables.

A run sets up once, cold, as a batch job starts: a fresh JVM and Python
workers, their warm-up and input generation; that wall is setup_s. It
then runs whole steps until --seconds have passed and the workload's
MIN_STEPS ran (a step in flight finishes), and checks every output
against an expectation the generator planted. No
warm-up step runs first: like any batch job in a fresh session, the
first step pays for code generation and JIT compilation, which
step_max_s shows. With --trace 1 Spark's event log is on, each layer
call gets a span, and the per-layer metrics are reported instead of
the end-to-end ones. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; the lines before it
report every metric by name and unit, including the workload's own
names for the end-to-end metrics and error_rate.
"""

from __future__ import annotations

import argparse
import glob
import importlib
import json
import os
import shutil
import statistics
import sys
import time

import hostenv
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("extract", "crawl", "dedup")
# BENCHMARK.json lists extract and crawl only; a traced extract run
# also runs one dedup pass after its own layers, so that the dedup
# operators' layers are measured on a listed workload
CONTROL = {"extract": "dedup"}


def worker_c_kernel(_rows):
    """1 if the C DOM loads inside this Spark Python worker, else 0.
    Imports the kernel's modules, so the worker is warm afterwards."""
    import go_htmldate_spark.operators.extract  # noqa: F401
    from go_htmldate_spark.dom import cnative

    yield 1 if cnative.get() is not None else 0


def start_session(cores: int):
    """A fresh session with warm Python workers; returns (spark, c_kernel)."""
    from go_htmldate_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    flags = spark.sparkContext.parallelize(range(cores), cores) \
        .mapPartitions(worker_c_kernel).collect()
    return spark, min(flags)


def read_event_log(events_dir: str, app_id: str):
    """The application's event log: one file, or the numbered parts of a
    rolling log (Spark's default layout) in order."""
    parts = sorted(
        glob.glob(os.path.join(events_dir, f"eventlog_v2_{app_id}", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    ) or [os.path.join(events_dir, app_id)]
    lines = []
    for p in parts:
        with open(p) as f:
            lines.extend(f)
    return tracing.parse_event_log(lines)


def run_control(name: str, spark, run_dir: str, seed: int, tracer,
                layer: dict) -> tuple[int, int]:
    """One set-up, step and check of workload `name` in this session;
    adds its per-layer metrics to `layer` and returns (attempted,
    failed)."""
    ctl = importlib.import_module(f"wl_{name}")
    state = ctl.setup(spark, os.path.join(run_dir, name), seed)
    steps = [ctl.step(spark, state, tracer)]
    layer.update(ctl.layers(spark, state, steps, tracer))
    layer[f"{name}.pass_s"] = steps[0]["wall"]
    return ctl.check(spark, state, steps)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        importlib.import_module("go_htmldate_spark")
    except (OSError, ImportError) as e:
        print(f"perfbench: cannot start: {e}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    host = hostenv.size_session(ROOT, HERE, run_dir, trace=bool(args.trace))
    data = os.path.join(run_dir, "data")
    wl = importlib.import_module(f"wl_{args.workload}")
    tracer = tracing.Tracer() if args.trace else tracing.NullTracer()
    mem = hostenv.MemorySampler()
    mem.start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark, c_kernel = start_session(host["cpus"])
        state = wl.setup(spark, data, args.seed)
        setup_s = time.perf_counter() - t0
        if hasattr(wl, "prepare_oracle"):
            wl.prepare_oracle(spark, state)

        steps = []
        with tracer.span("timed") as timed:
            t0 = time.perf_counter()
            while (len(steps) < wl.MIN_STEPS
                   or time.perf_counter() - t0 < args.seconds):
                steps.append(wl.step(spark, state, tracer))
        e2e = wl.summarize(steps)
        attempted, failed = wl.check(spark, state, steps)
        layer = wl.layers(spark, state, steps, tracer) if args.trace else {}
        if args.trace and args.workload in CONTROL:
            a, f = run_control(CONTROL[args.workload], spark, run_dir,
                               args.seed, tracer, layer)
            attempted, failed = attempted + a, failed + f
        app_id = spark.sparkContext.applicationId
    finally:
        peak_mb = mem.stop()
        if spark is not None:
            hostenv.stop_spark(spark)

    e2e["setup_s"] = setup_s
    e2e["peak_pss_mb"] = peak_mb
    e2e["peak_pss_offheap_mb"] = peak_mb - host["heap_mb"]
    layer["dom.c_kernel"] = c_kernel
    if args.trace:
        log = read_event_log(os.path.join(run_dir, "events"), app_id)
        for k, v in tracing.spark_metrics(
            log, timed.start, timed.end, host["cpus"]
        ).items():
            layer[f"spark.{k}"] = v
        for k, v in tracing.mean_spark_metrics(
            log, tracer.named("crawl.round"), host["cpus"]
        ).items():
            layer[f"spark.round.{k}"] = v
        layer["trace.step_p50_s"] = e2e["step_p50_s"]

    overhead = _record_step_time(args, e2e["step_p50_s"])
    if args.trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.dump(
            os.path.join(WORK, "traces", f"{args.workload}-{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "host": host,
             "metrics": layer, "tracing_overhead_s": overhead},
        )
    shutil.rmtree(run_dir, ignore_errors=True)

    _report(args, wl, host, steps, e2e, layer,
            attempted, failed, overhead)
    kind = "per_layer" if args.trace else "end_to_end"
    values = layer if args.trace else e2e
    metrics = {
        m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]}
        for m in spec[kind]
    }
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _record_step_time(args, step_p50_s: float) -> float | None:
    """Untraced runs record their step median; a traced run returns its
    own step median minus the median of those records (the tracing
    overhead), or None when no untraced run was recorded."""
    path = os.path.join(WORK, f"untraced-{args.workload}.jsonl")
    if not args.trace:
        os.makedirs(WORK, exist_ok=True)
        with open(path, "a") as f:
            f.write(json.dumps({"seed": args.seed, "step_p50_s": step_p50_s}) + "\n")
        return None
    try:
        with open(path) as f:
            base = [json.loads(line)["step_p50_s"] for line in f if line.strip()]
    except OSError:
        return None
    return step_p50_s - statistics.median(base) if base else None


def _report(args, wl, host, steps, e2e, layer,
            attempted, failed, overhead) -> None:
    def line(name, value, unit, note=""):
        print(f"{name:<44} {value:>14.6g} {unit:<8} {note}".rstrip())

    print(f"perfbench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace}")
    print(f"host: SPARK_GRAFT_CPUS={host['cpus']} SPARK_DRIVER_MEM={host['driver_mem']} "
          f"SPARK_GRAFT_LOCAL_DIR={os.path.relpath(host['local_dir'], ROOT)} "
          f"event_log={'on' if host['event_log'] else 'off'}")
    line("setup_s", e2e["setup_s"], "s", "one cold set-up")
    n = len(steps)
    for name, (key, unit) in wl.REPORT.items():
        line(name, e2e[key], unit, f"n={n} steps")
    for key in ("throughput_per_s", "step_p50_s", "step_max_s"):
        line(key, e2e[key], "1/s" if key.endswith("per_s") else "s", f"n={n} steps")
    line("error_rate", failed / max(attempted, 1), "ratio",
         f"{failed} failed of {attempted} attempted")
    line("peak_pss_mb", e2e["peak_pss_mb"], "MB",
         "process tree's proportional set size, sampled from /proc")
    line("peak_pss_offheap_mb", e2e["peak_pss_offheap_mb"], "MB",
         f"peak_pss_mb minus the {host['heap_mb']} MiB pre-touched driver heap")
    for name in sorted(layer):
        line(name, layer[name], "")
    if args.trace:
        note = "no untraced run recorded" if overhead is None else \
            "traced step_p50_s minus untraced median"
        print(f"{'trace.overhead_s':<44} "
              f"{'n/a' if overhead is None else f'{overhead:.6g}':>14} s        {note}")


if __name__ == "__main__":
    sys.exit(main())
