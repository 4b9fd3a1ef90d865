#!/usr/bin/env python
"""Rank the registry's queries by the driver cost of building their
lazy frames: the time from calling a query's builder until it returns
a DataFrame, before any consuming action, and the Spark jobs that run
during that build (schema inference, eager checkpoints, collects of
sizes or factors).

Usage:  python scripts/query_build_cost.py <sf_dir> [query ...] [--repeat N]

Without query names it measures the driver-registered set
(``registry.REGISTRY``); a name may also come from
``registry.build_shadow_registry()``.

Each query is built once cold, then ``N`` (default 3) more times; the
median of the warm builds is reported. The session's cache is cleared
between builds, so a build never reuses a frame the previous one
persisted. Prints one JSON line per query, slowest first, then a
summary line with the total.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from ugfraud_spark.plans.session import get_spark  # noqa: E402
from ugfraud_spark.registry import REGISTRY, build_shadow_registry  # noqa: E402


def build_cost(spark, fn, sf_dir: str, repeat: int) -> dict:
    sc = spark.sparkContext
    walls, jobs = [], []
    for k in range(repeat + 1):
        group = f"build-cost-{id(fn)}-{k}"
        sc.setJobGroup(group, group)
        try:
            t0 = time.perf_counter()
            fn(spark, sf_dir)
            walls.append(time.perf_counter() - t0)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        spark.catalog.clearCache()
    return {"cold_s": round(walls[0], 4),
            "build_s": round(statistics.median(walls[1:]), 4),
            "jobs": statistics.median(jobs[1:])}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir")
    ap.add_argument("queries", nargs="*",
                    help="query names (default: every REGISTRY query)")
    ap.add_argument("--repeat", type=int, default=3,
                    help="warm builds per query (default 3)")
    args = ap.parse_args()
    known = {**build_shadow_registry(), **REGISTRY}
    names = args.queries or list(REGISTRY)
    unknown = [n for n in names if n not in known]
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    if args.repeat < 1:
        ap.error("--repeat must be >= 1")

    spark = get_spark("query_build_cost", extra_conf={
        "spark.ui.showConsoleProgress": "false"})
    try:
        rows = []
        for name in names:
            fn, _sql = known[name]
            rows.append({"query": name,
                         **build_cost(spark, fn, args.sf_dir, args.repeat)})
        rows.sort(key=lambda r: -r["build_s"])
        for r in rows:
            print(json.dumps(r))
        print(json.dumps({"queries": len(rows),
                          "total_build_s": round(
                              sum(r["build_s"] for r in rows), 4)}))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
