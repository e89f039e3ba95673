"""Benchmark entry point.

    python3 perfbench/run.py --workload tsdb_write --seed 1 --seconds 10 --trace 0

Runs one workload in this process on ``local[$(nproc)]`` Spark, checks
every output, and prints two lines: the run record with the workload's
extra figures, then the result — ``{"correct", "attempted", "failed",
"metrics"}`` with every end-to-end metric (``--trace 0``) or every
per-layer metric (``--trace 1``). A traced run also writes its spans to
``.bench_work/traces/``. Everything the run writes stays under
``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# import the program and the benchmark from the checkout root, and keep
# this directory off the path so its modules shadow nothing
sys.path[0] = ROOT

WORKLOADS = ("tsdb_write", "analytics_sweep")


def parse(argv):
    p = argparse.ArgumentParser(description="timeseries-db-spark benchmark")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def manifest() -> dict:
    """Metric name → unit, end-to-end and per-layer, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        kind: {m["name"]: m["unit"] for m in spec[kind]}
        for kind in ("end_to_end", "per_layer")
    }


def main(argv) -> int:
    args = parse(argv)
    from perfbench import common

    load_start, steal_start = os.getloadavg(), common.steal_ticks()
    try:
        import pyspark  # noqa: F401

        import timeseries_db_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable here: {exc}", file=sys.stderr)
        return 2
    units = manifest()["per_layer" if args.trace else "end_to_end"]
    if args.workload == "tsdb_write":
        from perfbench import tsdb as workload
    else:
        from perfbench import analytics as workload

    run_dir = common.new_run_dir(args.workload, args.seed)
    common.prepare_env(run_dir)
    spark = common.start_spark(run_dir)
    try:
        out = workload.run(
            spark, run_dir, args.seed, args.seconds, bool(args.trace), T_START
        )
        # before the output checks, whose DuckDB replay is not the program's
        out["metrics"]["peak_rss_mb"] = common.peak_rss_mb(spark)
        record = common.run_record(spark, args.seed, load_start, steal_start)
        mismatches = out.pop("check")()
    finally:
        common.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    tag = f"{args.workload}-{args.seed}"
    results_dir = os.path.join(common.WORK, "results")
    info = {
        "workload": args.workload,
        "trace": args.trace,
        "record": record,
        **out["info"],
        "e2e": out["metrics"],
    }
    if args.trace:
        reported = layer_metrics(out, units, os.path.join(results_dir, f"{tag}-t0.json"))
        info["trace_vs_untraced"] = reported.pop("_vs_untraced", None)
        info["self_ms_by_layer"] = out["tracer"].self_ms_by_layer()
        out["tracer"].dump(
            os.path.join(common.WORK, "traces", f"{tag}.json"),
            {"workload": args.workload, "seed": args.seed, "record": record},
        )
    else:
        reported = {k: out["metrics"][k] for k in units}
    info["mismatches"] = mismatches
    common.write_json(
        os.path.join(results_dir, f"{tag}-t{args.trace}.json"),
        {**info, "metrics": reported},
    )
    for msg in mismatches:
        print(f"perfbench: MISMATCH {msg}", file=sys.stderr)
    print(json.dumps(info, default=str))
    result = {
        "correct": not mismatches,
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": {
            k: {"value": float(v), "unit": units[k]} for k, v in reported.items()
        },
    }
    print(json.dumps(result))
    return 0


def layer_metrics(out: dict, names, untraced_path: str) -> dict:
    """Every per-layer metric (0 for a layer the workload does not run),
    the tracing overhead, and — when this checkout holds an untraced run
    of the same workload and seed — the traced/untraced ratio of each
    end-to-end metric."""
    tracer = out["tracer"]
    layers = {name: 0.0 for name in names}
    layers.update((k, v) for k, v in out["layers"].items() if k in names)
    op_s = out["info"]["loop_s"]
    cost = len(tracer.spans) * tracer.span_cost_s() + out["trace_cost_s"]
    layers["trace.overhead_frac"] = cost / op_s if op_s else 0.0
    if os.path.exists(untraced_path):
        with open(untraced_path) as f:
            base = json.load(f)["e2e"]
        layers["_vs_untraced"] = {
            k: out["metrics"][k] / base[k] - 1.0
            for k in ("pass_s", "query_p50_ms", "pass_cpu_s", "query_cpu_ms")
            if base.get(k)
        }
    return layers


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
