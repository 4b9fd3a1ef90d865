#!/usr/bin/env python
"""spark-submit entry point (north_rule: "run via spark-submit --py-files
on multi-executor clusters").

Full pipeline: Common-Crawl-style pages (synthesized deterministically or
read from a parquet/Iceberg path) → Arrow-UDF link extraction → edge
DataFrame → PageRank supersteps with durable checkpointing (per-partition
lineage + convergence metrics in <ckdir>/metrics.jsonl) → ranked output
parquet + one JSON metrics line on stdout.

Usage (cluster):
    scripts/submit.sh [spark-submit args...] -- --pages-n 1000000 \
        --iters 20 --tol 1e-6 --checkpoint-dir /tmp/pr_ck --out /tmp/pr_out
Resumes automatically from the newest durable checkpoint in
--checkpoint-dir if one exists (kill/restart safe).
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages-path", default=None,
                    help="parquet/Iceberg pages table; omit to synthesize")
    ap.add_argument("--pages-n", type=int, default=100_000)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--iters", type=int, default=20)
    ap.add_argument("--tol", type=float, default=None)
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    # plain builder (no master override): spark-submit provides the
    # master/deploy config; local runs fall back to local[*]
    spark = SparkSession.builder.appName("ugfraud_pagerank_job").getOrCreate()
    from ugfraud_spark.operators import pagerank
    from ugfraud_spark.operators.superstep import latest_checkpoint
    from ugfraud_spark.sources import pages as P

    t0 = time.time()
    if args.pages_path:
        pg = spark.read.parquet(args.pages_path)
    else:
        pg = P.generate_pages(spark, args.pages_n, seed=args.seed)
    edges = P.pages_to_edges(pg)

    start_state, start_step = (None, 0)
    if args.checkpoint_dir:
        start_state, start_step = latest_checkpoint(spark, args.checkpoint_dir)

    if start_state is not None:
        # resume: re-enter pagerank's own superstep from the durable
        # state, laid out and scoped exactly as a fresh run
        from pyspark.sql import functions as F

        from ugfraud_spark.operators.superstep import sized_layout

        with sized_layout(edges.select("src", "dst")) as (e, _, keep):
            base = keep(pagerank._vertex_base(e).persist())
            n = base.count()
            res = pagerank._propagate(
                base, start_state, pagerank._rank_contribs(e),
                {"value": pagerank._damped(F.lit((1.0 - 0.85) / n), 0.85)},
                max_iter=args.iters, tol=args.tol, checkpoint_every=1,
                start_iteration=start_step,
                checkpoint_dir=args.checkpoint_dir)
        state = res.state
        iters_run = res.iterations - start_step
    else:
        res = pagerank.pagerank(
            edges, max_iter=args.iters, tol=args.tol,
            checkpoint_dir=args.checkpoint_dir,
        )
        state = res.state
        iters_run = res.iterations

    if args.out:
        state.write.mode("overwrite").parquet(args.out)
        n_out = spark.read.parquet(args.out).count()
    else:
        n_out = state.count()

    print(json.dumps({
        "vertices": n_out,
        "iterations": iters_run,
        "resumed_from": start_step,
        "converged": bool(getattr(res, "converged", False)),
        "superstep_wall_s": round(res.wall_seconds, 3),
        "total_wall_s": round(time.time() - t0, 3),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
