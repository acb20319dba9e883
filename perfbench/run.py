"""Benchmark runner for the log pipeline.

Run from the repository root:

    python3 perfbench/run.py --workload discover_full [--seed 7] [--seconds 12] [--trace 0]

One run is one workload in one fresh Spark session (``local[2]``, pinned
driver heap). Set-up (session start plus warm-up calls in the same JVM) is
timed as ``setup_s``; then the workload's call repeats until ``--seconds``
have passed and it has run at least the workload's ``min_calls`` times, and
the timings are medians over those calls. After the timed calls, untimed
correctness checks run on every call's output; each check is one attempted
operation and a failed check is a failed operation.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns on Spark's
event log for the session, records spans around the same calls, runs noop
probes that split the lazily fused layers after the last call, and prints the
per-layer metrics of that last call. A layer a workload never reaches reads 0.
The tracing overhead is the traced run's ``trace.wall_s`` minus the
untraced run's ``wall_s`` at the same seed.

Metric names and units come from BENCHMARK.json. Everything the run writes
(inputs, outputs, ``spark.local.dir``, temp files) lives under
``.perfbench_work/`` in the working directory and is removed on exit. The last
line of standard output is the result object; the line before it records the
input (seed, rows, generator version, input hash) and the session settings.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# each task also owns a Python worker: ~2 x CORES runnable threads on a 4-core box
CORES = 2
SPARK_CONF = {
    "spark.driver.memory": "2g",
    "spark.ui.showConsoleProgress": "false",
}
EVENT_LOG = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=7)
    p.add_argument("--seconds", type=float, help="default: run_seconds in BENCHMARK.json")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds is None:
        args.seconds = load_metric_spec()["run_seconds"]
    return args


def load_metric_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def start_spark(work: str, trace: bool):
    from log_parser_cli_spark.session import get_spark

    conf = dict(SPARK_CONF)
    conf["spark.driver.extraJavaOptions"] = f"-Djava.io.tmpdir={work}"
    if trace:
        conf.update(EVENT_LOG)
        conf["spark.eventLog.dir"] = os.path.join(work, "eventlog")
        os.makedirs(conf["spark.eventLog.dir"])
    return get_spark(app_name="perfbench", cores=CORES, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, work: str) -> dict:
    from perfbench import trace as tr
    from perfbench.workloads import WORKLOADS, gc_ms

    spec = load_metric_spec()
    workload = WORKLOADS[args.workload](work, args.seed)
    input_info = workload.generate()

    t_setup = time.perf_counter()
    spark = start_spark(work, bool(args.trace))
    try:
        workload.setup(spark)
        setup_s = time.perf_counter() - t_setup

        tracer = tr.Tracer() if args.trace else None
        calls = []
        t_window = time.perf_counter()
        while len(calls) < workload.min_calls or time.perf_counter() - t_window < args.seconds:
            gc0 = gc_ms(spark) if tracer else 0
            call = workload.call(spark, tracer, len(calls))
            call.gc_ms = gc_ms(spark) - gc0 if tracer else 0
            calls.append(call)
        extra = workload.layers(spark, tracer, calls[-1]) if tracer else None
    finally:
        stop_spark(spark)

    checks = [c for call in calls for c in workload.checks(call)]
    failed = [c for c in checks if not c[1]]
    for name, ok, detail in checks:
        print(f"check {name}: {'pass' if ok else 'FAIL'} ({detail})", file=sys.stderr)

    wall_s = statistics.median(c.wall_s for c in calls)
    if args.trace:
        log = tr.parse_event_log(tr.find_event_log(os.path.join(work, "eventlog")))
        values = workload.per_layer(tracer, log, calls[-1], extra)
        values["jvm.gc_ms"] = calls[-1].gc_ms
        values["trace.wall_s"] = wall_s
        names = spec["per_layer"]
    else:
        # a stream drain's batch is one trigger; a batch call is one batch
        batch_s = [p["durationMs"]["triggerExecution"] / 1000.0
                   for c in calls for p in c.progress] or [c.wall_s for c in calls]
        last = calls[-1]
        values = {
            "wall_s": wall_s,
            "rows_per_s": workload.input_rows / wall_s,
            "setup_s": setup_s,
            "routed_files": len(last.file_sizes),
            "routed_bytes_per_input_byte": sum(last.file_sizes) / workload.input_bytes,
            "batch_latency_p50_s": statistics.median(batch_s),
        }
        names = spec["end_to_end"]
    unknown = set(values) - {m["name"] for m in names}
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    print(json.dumps({
        "input": input_info,
        "settings": {
            "master": f"local[{CORES}]",
            **SPARK_CONF,
            **(EVENT_LOG if args.trace else {}),
            "spark.local.dir": os.path.relpath(os.environ["SPARK_LOCAL_DIRS"]),
            "java.io.tmpdir": os.path.relpath(work),
        },
        "calls": len(calls),
        "call_wall_s": [round(c.wall_s, 4) for c in calls],
        "trigger_s": [[p["durationMs"]["triggerExecution"] / 1000.0 for p in c.progress]
                      for c in calls if c.progress],
    }))
    return {
        "correct": not failed,
        "attempted": len(checks),
        "failed": len(failed),
        "metrics": {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in names
        },
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "log_parser_cli_spark")):
        print(f"engine package log_parser_cli_spark not found under {ROOT}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # Python workers import the engine from the checkout; every temp file the
    # JVM, the workers and this process create stays inside the work dir.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
