"""Benchmark entry point.

    python3 perfbench/run.py --workload analyst_queries --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Prints a detail line (diagnostics:
canaries, set-up parts, failures, op sequence) and, as the last line of
standard output, the result object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics of BENCHMARK.json
untraced, the per-layer metrics with ``--trace 1``.

``--scale tiny`` shrinks the inputs for the self-check.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

WORKLOADS = ("market_etl", "analyst_queries")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    return ap.parse_args(argv)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort on a stuck JVM
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not (
        os.path.isfile(spec_path)
        and os.path.isfile(os.path.join(root, "finance_etl_system_spark", "session.py"))
    ):
        print(
            "perfbench: run from the root of a checkout that holds "
            "BENCHMARK.json and the finance_etl_system_spark package",
            file=sys.stderr,
        )
        return 2
    with open(spec_path) as fh:
        per_layer_units = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}
    sys.path.insert(0, root)
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, os.path.dirname(here))

    from perfbench import harness

    work = harness.WorkDir(args.workload)
    harness.configure_environment(work)
    run = harness.Run(args.workload, args.seed, args.seconds, bool(args.trace))
    scale = 1.0 if args.scale == "full" else 0.1
    if args.workload == "market_etl":
        from perfbench import market_etl as mod
    else:
        from perfbench import analyst_queries as mod

    spark = None
    try:
        out = mod.run_workload(run, work, scale=scale)
        spark = out["spark"]
        # a workload that does not exercise a layer reports 0 for it
        layer = {k: (0.0, u) for k, u in per_layer_units.items()}
        layer.update(out["per_layer"])
        layer["session.get_spark_s"] = (
            harness.median(run.tracer.durations("session.get_spark", timed_only=False)), "s"
        )
        layer["trace.op_p50_s"] = (harness.median(run.latencies), "s")
        result = harness.finish(run, spark, layer)
        run.phase("finish")
    finally:
        if spark is None:
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
        if spark is not None:
            stop_spark(spark)
        os.chdir(root)
        work.cleanup()
    run.phase("stop")

    detail = dict(run.detail)
    if run.tracer.enabled:
        st = run.tracer.self_times()
        detail["self_time_s"] = {
            k: round(v["self_s"], 4)
            for k, v in sorted(st.items(), key=lambda kv: -kv[1]["self_s"])
        }
        base = harness.untraced_op_p50(args.workload, args.seed)
        if base:
            detail["trace_overhead"] = round(harness.median(run.latencies) / base - 1.0, 4)
        run.tracer.dump(
            os.path.join(harness.STATE_DIR, "traces", f"{args.workload}-s{args.seed}.json"),
            {"detail": detail},
        )
    path = harness.results_path(args.workload, args.seed, bool(args.trace))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump({"ts": time.time(), **result}, fh)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
