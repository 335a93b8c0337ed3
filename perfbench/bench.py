"""Benchmark process: runs one workload and prints its result.

Started by ``perfbench/run.py``, which sets up the environment; run that
instead of this file. The last line of standard output is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
``end_to_end`` metrics of BENCHMARK.json, or with ``--trace 1`` its
``per_layer`` metrics. Exits 1 when any output check fails.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_session():
    from spark_signals.session import get_spark

    return get_spark("perfbench")


def _finite(value: float) -> float:
    """JSON has no infinity: a time that never ended (a failed pass or a
    missing tick) is reported as 1e9."""
    value = float(value)
    return value if math.isfinite(value) else 1e9


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=names)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    t_start = float(os.environ["PERFBENCH_T0"])
    work = os.environ["PERFBENCH_WORK"]
    sys.path.insert(0, ROOT)
    module = importlib.import_module(f"perfbench.{args.workload}")
    try:
        result = module.run(spark_session, args.seed, args.seconds, bool(args.trace), work, t_start)
    finally:
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()

    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    got = result["metrics"]
    missing = [m["name"] for m in declared if m["name"] not in got]
    if missing and not args.trace:
        raise RuntimeError(f"workload {args.workload} did not measure {missing}")
    if missing:
        # a layer this workload bypasses does no work on it
        print(f"[{args.workload}] layers not exercised, reported as 0: {missing}", file=sys.stderr)
    attempted, failed = result["attempted"], result["failed"]
    print(
        f"[{args.workload}] failed_frac={failed / attempted:.6f}"
        f" ({failed} of {attempted} attempted; failed = {result['failed_means']})",
        file=sys.stderr,
    )
    print(
        json.dumps(
            {
                "correct": bool(result["correct"]),
                "attempted": int(attempted),
                "failed": int(failed),
                "metrics": {
                    m["name"]: {"value": _finite(got.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in declared
                },
            }
        ),
        flush=True,
    )
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
