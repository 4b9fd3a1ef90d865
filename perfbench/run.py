#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. Prints human-readable
lines, then, as the last line of standard output, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Full results (fingerprint, per-query times, spans) go to
``.perfbench_out/``. Exits non-zero without a result when the engine is
not importable from the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _end_jvm() -> None:
    """Make the driver JVM exit and wait for it, so no process outlives
    the run. The JVM that PySpark launches exits when its stdin closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)  # noqa: SLF001
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    from perfbench import fingerprint

    t_start = fingerprint.process_start_time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isdir(os.path.join(root, "ugfraud_spark")):
        print(f"error: no ugfraud_spark package under {root}", file=sys.stderr)
        return 2
    from perfbench import harness, workloads

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    all_w = workloads.workloads()
    if args.workload not in all_w:
        print(f"error: unknown workload {args.workload!r}; "
              f"choose from {sorted(all_w)}", file=sys.stderr)
        return 2
    try:
        res = harness.run(all_w[args.workload], args.seed, args.seconds,
                          bool(args.trace), root, t_start=t_start)
    finally:
        _end_jvm()

    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}
    print(f"workload={res['workload']} seed={res['seed']} trace={args.trace} "
          f"attempted={res['attempted']} failed={res['failed']} "
          f"failed_ratio={res['failed'] / res['attempted']:.4f}")
    for name, why in res["reasons"].items():
        print(f"  FAILED {name}: {why[0][:400]}")
    for name, value in res["metrics"].items():
        print(f"  {name}={value:.6g} {units[name]}")
    for name, (value, unit) in res["disclosed"].items():
        print(f"  (not gated) {name}={value:.6g} {unit}")
    print(f"  fingerprint={json.dumps(res['fingerprint'])}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {name: {"value": res["metrics"][name], "unit": unit}
                    for name, unit in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main())
