"""Benchmark entry point.

    python3 perfbench/run.py --workload olap_store --seed 1 --seconds 20 --trace 0

Runs one workload (``olap_store``, ``stream_ingest`` or
``curation_batch``) from the repository root, prints a table of every
metric by name and unit, and ends with one JSON line::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json;
``--trace 1`` reports its per-layer metrics (event log, spans and
job-group attribution on; untraced and traced passes alternate through
the window to give the tracing overhead). Exits non-zero when the correctness gate
fails or the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.harness import RunDir, isolate_env  # noqa: E402

WORKLOAD_NAMES = ("olap_store", "stream_ingest", "curation_batch")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test knobs: shrink every input, or corrupt one expected result
    p.add_argument("--scale", type=float, default=1.0, help=argparse.SUPPRESS)
    p.add_argument("--corrupt-oracle", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def stop_jvm() -> None:
    """End the driver JVM and wait until it has: pyspark keeps it after
    the session stops, and it exits when its stdin closes, which would
    otherwise happen only as this process exits, leaving it running."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None or gateway.proc is None:
        return
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    run_dir = RunDir(args.workload, args.seed)
    try:
        isolate_env(run_dir)
        # the engine (and pyspark) load only after the environment points
        # every scratch location into the run directory
        from flink_snappydata_spark.session import stop_spark
        from perfbench import workloads

        ctx = workloads.Ctx(seed=args.seed, seconds=args.seconds,
                            traced=bool(args.trace), run_dir=run_dir,
                            scale=args.scale, corrupt=args.corrupt_oracle)
        try:
            res = workloads.WORKLOADS[args.workload](ctx)
        finally:
            stop_spark()
            stop_jvm()
    finally:
        run_dir.close()

    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace}")
    for name, (value, unit, note) in sorted(res.named.items()):
        print(f"{name:34s} {value:14.6g} {unit:10s} {note}")
    if args.trace:
        layers = {name: {"value": float(res.layer.get(name, 0.0)), "unit": unit}
                  for name, unit in workloads.PER_LAYER.items()}
        for name, m in layers.items():
            print(f"{name:34s} {m['value']:14.6g} {m['unit']}")
        metrics = {name: m for name, m in layers.items()
                   if name not in workloads.TABLE_ONLY}
    else:
        metrics = {name: {"value": value, "unit": unit}
                   for name, (value, unit) in res.e2e.items()}
    for problem in res.problems:
        print(f"GATE FAILURE {problem}", file=sys.stderr)
    correct = res.failed == 0
    print(json.dumps({"correct": correct, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
