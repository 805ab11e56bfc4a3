"""Benchmark entry point.

    python3 perfbench/run.py --workload {query,update} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a source checkout.  Spark runs as ``local[<cores>]``
in this one process; everything the run writes (corpus cache, index,
Spark scratch, trace files) goes under ``.perfbench/`` in the checkout.
Human-readable ``name value unit`` lines go to stdout, and the last line is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics of BENCHMARK.json (``--trace 0``) or its per-layer
metrics (``--trace 1``).  Exit status is 1 when any answer disagrees with
the oracle, 2 when the engine sources are missing."""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

from procs import adopt_orphans, reap_all


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["query", "update"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def sandbox_env(work: str) -> None:
    """Keep Spark's and Python's scratch files inside the checkout."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
        gw.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError as e:
        print(f"perfbench: run from the checkout root: {e}", file=sys.stderr)
        return 2
    sys.path.insert(1, root)
    try:
        import groonga_spark.session  # noqa: F401
        import oracle.pyoracle  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine sources not found under {root}: {e}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench")
    sandbox_env(work)
    adopt_orphans()
    signal.signal(signal.SIGTERM, on_sigterm)
    try:
        return measure(args, spec, work)
    finally:
        reap_all()


def measure(args, spec, work: str) -> int:
    from groonga_spark.session import get_spark

    import workloads
    from spans import Tracer

    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(
            spark.sparkContext,
            enabled=bool(args.trace),
            trace_id=f"{args.workload}-s{args.seed}",
        )
        run = workloads.Run(spark, tracer, args.seed, args.seconds, work)
        t0 = time.perf_counter()
        with tracer.span(f"workload.{args.workload}"):
            workloads.WORKLOADS[args.workload](run)
        run_s = time.perf_counter() - t0
        if tracer.enabled:
            finish_trace(run, tracer, spec, work, session_s, run_s)
    finally:
        stop_spark(spark)

    for name, value, unit in run.report:
        print(f"{name} {value} {unit}")
    failed_frac = run.failed / max(1, run.attempted)
    print(f"failed_frac {failed_frac} ratio")
    for name, (value, unit) in sorted(run.e2e.items()):
        print(f"{name} {value} {unit}")
    kind = "per_layer" if args.trace else "end_to_end"
    got = run.layer if args.trace else run.e2e
    metrics = {}
    for m in spec[kind]:
        value, _ = got.get(m["name"], (0, m["unit"]))
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    correct = run.failed == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": max(1, run.attempted),
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


def finish_trace(run, tracer, spec, work, session_s, run_s) -> None:
    """Per-layer self times, tracing overhead, and the span file."""
    self_s = tracer.self_time_by_name()
    for m in spec["per_layer"]:
        name = m["name"]
        if name.startswith("self_s."):
            run.layer[name] = (self_s.get(name[len("self_s."):], 0.0), "s")
    run.layer["trace.bookkeeping_frac"] = (tracer.bookkeeping_s / run_s, "ratio")
    run.layer["session.start_s"] = (session_s, "s")
    os.makedirs(os.path.join(work, "traces"), exist_ok=True)
    tracer.dump(
        os.path.join(work, "traces", f"{tracer.trace_id}.json"),
        {
            "per_layer": {k: v for k, (v, _) in run.layer.items()},
            "end_to_end": {k: v for k, (v, _) in run.e2e.items()},
        },
    )


if __name__ == "__main__":
    sys.exit(main())
