"""Generic superstep driver for iterative gather-scatter kernels.

The reference runs every iterative detector as an in-process Python loop
over scipy matrices (``GANG.py:115-137``, ``ZooBP.py:135-148``,
``SpEagle.py:425-463``). Spark-first, each superstep is a declarative
DataFrame transformation (join + groupBy-sum = one SpMV); the *loop*
stays on the driver, controlled by a scalar residual aggregate — exactly
the reference's convergence checks (Δ<0.1 GANG, ≤1e-8 ZooBP, tol BP).

Scale concerns handled here rather than in each algorithm:

- **One job per converging superstep**: with the stock ``l1_residual``
  the residual is not a second action over two checkpoints (a join that
  re-exchanges both, since checkpoints report UnknownPartitioning). It
  is observed (``DataFrame.observe``) as a null-skipping
  Σ|value − old| over a left join of the old value onto the step
  output, inside the ``localCheckpoint`` job that materializes the step
  anyway. Custom residual callables keep the two-job path.
- **Lineage truncation**: an iterative DataFrame plan grows per
  superstep; without truncation Catalyst re-analyzes an ever-deeper tree
  and recovery replays every iteration. We ``localCheckpoint(eager)``
  every ``checkpoint_every`` supersteps.
- **Durable resumability** (north_rule): with a ``checkpoint_dir``, state
  is also written to parquet with superstep + residual + per-partition
  row counts in ``metrics.jsonl``; ``resume()`` restarts from the last
  durable superstep after a driver loss.
- **Stable partitioning**: state is hash-partitioned on ``id`` once and
  the partitioning is reused across supersteps, so the per-superstep
  join against edges shuffles only the (smaller) message side when the
  planner can prove co-partitioning.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


@contextmanager
def fixed_plan(spark: SparkSession, enabled: bool = True):
    """Scoped AQE-off for a superstep loop whose per-iteration plan is
    fixed, explicitly hinted, and CO-PARTITIONED end to end
    (shuffle_hash state joins against the pinned ``colocate_edges``
    layout): there AQE's per-stage runtime re-planning is pure
    driver-serial overhead repeated every superstep — the same
    rationale (and measured ~10-20% win) as the bench probe's AQE-off
    window in ``bench.py:superstep_throughput``; measured on the sf0.1
    suite: pagerank 2.6s → 2.2s, label_propagation 3.3s → 2.6s.

    Deliberately OPT-IN per kernel (callers pass ``fixed_plan=True`` to
    ``iterate``): loops that lean on broadcast frontiers, per-round
    1-row-agg crossJoins, or localCheckpointed intermediates (HITS,
    k-core peeling, BFS) run FASTER with AQE's partition coalescing —
    measured sf0.1 regressions with AQE off: hits 6.7s → 12.2s, kcore
    1.6s → 5.1s, bfs_hops 3.2s → 4.0s — so those keep AQE on.
    Restores the previous value even when the loop raises."""
    if not enabled:
        yield
        return
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


# Target edge rows per partition for the size-derived superstep layout
# (guide §2: derive partitioning from input size instead of a constant
# tuned for either local mode or the cluster). Measured at sf0.1
# (600k edges, AQE-off loop): 8 partitions → 1.34 s pagerank, 16 →
# 1.51 s, 32 (the local conf default) → 2.04 s; the bench probe's 64M
# edges sit at 2M rows/partition under the conf cap, far above this
# floor, so the probe layout and any real-cluster layout (conf sized
# to the executor fleet) are unchanged — the rule only shrinks layouts
# whose per-partition slice would be tiny next to per-task fixed costs.
LAYOUT_ROWS_PER_PARTITION = 64_000


@contextmanager
def sized_plan(spark: SparkSession, shuffle_partitions: int,
               adaptive_off: bool = True):
    """``fixed_plan`` plus a scoped ``spark.sql.shuffle.partitions``:
    the whole kernel body (vertex base, state init, superstep loop)
    plans against the SAME partition count as the sized edge layout, so
    every state⋈edges join stays exchange-elided end to end. Restores
    both conf values even when the body raises.

    ``adaptive_off=False`` scopes only the partition count and keeps
    AQE — for the broadcast-frontier loops (HITS, k-core, BFS) where
    AQE coalescing wins but the layout/shuffle width should still track
    the measured data size (A/B at sf0.1, AQE on: hits 6.1-7.6 s at 32
    partitions vs 4.1-5.1 s at 10)."""
    prev_n = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        with fixed_plan(spark, enabled=adaptive_off):
            yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_n)


def colocate_edges(edges: DataFrame, key: str = "src") -> DataFrame:
    """Shuffle the edge table ONCE onto the per-superstep join key and pin
    it with persist(). Every subsequent ``edges ⋈ state`` then shuffles
    only the |V|-sized state side — the |E|-sized payload never moves
    again. persist (NOT localCheckpoint) is deliberate: a checkpointed
    RDD scans as ``ExistingRDD [UnknownPartitioning]`` and Catalyst
    re-exchanges it every superstep, while InMemoryRelation keeps the
    HashPartitioning visible so EnsureRequirements elides the edge-side
    exchange (verified in .explain: no Exchange above InMemoryTableScan).
    Edges are static, so the constant-depth lineage needs no truncation.

    Per-superstep joins must also NOT broadcast the state (a driver-side
    serial build each iteration — Amdahl kills scaling) nor sort-merge
    (re-sorts |E| rows every superstep): callers hint the state side with
    ``.hint("shuffle_hash")``. Measured on the 32M-edge bench probe at
    local[32]: 1.4M → 3.9M edges/sec for hints+layout combined.
    """
    spark = edges.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    out = edges.repartition(n, key).persist()
    out.count()  # materialize now so every superstep reuses the layout
    return out


def colocate_edges_sized(edges: DataFrame,
                         key: str = "src") -> tuple[DataFrame, int]:
    """``colocate_edges`` that additionally derives the layout's
    partition count from the MEASURED row count (the count it takes
    anyway): ``m = clamp(ceil(rows / LAYOUT_ROWS_PER_PARTITION), 1,
    conf)``. When m < conf the materialized frame is re-laid-out from
    cache (one cheap cache-read shuffle, ~0.1 s at bench scale) so the
    caller can run its whole kernel under ``sized_plan(spark, m)`` with
    every shuffle at m partitions. Returns ``(edges, m)``. At conf-
    saturating sizes (the bench probe's 64M edges, any real-cluster
    run) m == conf and this is exactly ``colocate_edges``."""
    spark = edges.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    out = edges.repartition(n, key).persist()
    rows = out.count()
    m = max(1, min(n, -(-rows // LAYOUT_ROWS_PER_PARTITION)))
    if m == n:
        return out, n
    resized = out.repartition(m, key).persist()
    resized.count()
    out.unpersist()
    return resized, m


@dataclass
class SuperstepResult:
    state: DataFrame
    iterations: int
    converged: bool
    residuals: list[float] = field(default_factory=list)
    wall_seconds: float = 0.0
    metrics: list[dict] = field(default_factory=list)


def _write_checkpoint(state: DataFrame, checkpoint_dir: str, step: int,
                      residual: float, t0: float) -> dict:
    # substrate swap point (north_star: Iceberg) lives in
    # sources/catalog.py — parquet here, Iceberg overwritePartitions
    # when UGFRAUD_SPARK_ICEBERG=1 and the runtime carries the jars
    from ..sources import catalog

    path = catalog.write_state(state, checkpoint_dir, step)
    # per-partition lineage: rows per output file (partition) of the state
    part_counts = (
        catalog.read_state(state.sparkSession, path)
        .groupBy(F.spark_partition_id().alias("pid"))
        .count()
        .collect()
    )
    rec = {
        "superstep": step,
        "residual": residual,
        "wall_s": round(time.time() - t0, 3),
        "path": path,
        "partitions": {str(r["pid"]): r["count"] for r in part_counts},
    }
    with open(os.path.join(checkpoint_dir, "metrics.jsonl"), "a") as f:
        f.write(json.dumps(rec) + "\n")
    return rec


def latest_checkpoint(spark: SparkSession, checkpoint_dir: str):
    """Return (state_df, superstep) for the newest durable checkpoint, or
    (None, 0) if none exists."""
    metrics = os.path.join(checkpoint_dir, "metrics.jsonl")
    if not os.path.exists(metrics):
        return None, 0
    last = None
    with open(metrics) as f:
        for line in f:
            line = line.strip()
            if line:
                last = json.loads(line)
    if last is None:
        return None, 0
    from ..sources import catalog

    return catalog.read_state(spark, last["path"]), last["superstep"]


def iterate(
    state: DataFrame,
    step_fn: Callable[[DataFrame, int], DataFrame],
    residual_fn: Callable[[DataFrame, DataFrame], float] | None = None,
    *,
    max_iter: int,
    tol: float = 0.0,
    checkpoint_every: int = 5,
    checkpoint_dir: str | None = None,
    start_iteration: int = 0,
    fixed_plan_loop: bool = False,
) -> SuperstepResult:
    """Run ``state ← step_fn(state, i)`` until ``residual_fn`` < tol or
    ``max_iter``. ``residual_fn(old, new) → float`` is the convergence
    scalar (reference A4 convergence sums); pass ``None`` to run a fixed
    iteration count with a single materialization per checkpoint
    interval (cheaper: no per-step action).

    Converging mode materializes every superstep. With ``l1_residual``
    (the PageRank family, GANG, ZooBP) that is ONE Spark job per
    superstep: the residual is observed inside the checkpoint job
    (``_checkpoint_l1``). Any other callable (components, SpEagle) runs
    as a second action over the two checkpoints.

    ``metrics`` gets one record per superstep in both modes:
    ``superstep``, ``wall_s`` (seconds since the loop started),
    ``residual`` when converging, and, for a step whose state was
    checkpointed, ``num_partitions`` and ``aqe`` (adaptive execution
    on/off while it ran). An unmaterialized fixed-mode step was only
    planned; its work runs in the next checkpointed step. Recording
    these adds no Spark job.

    ``fixed_plan_loop=True`` runs the loop under ``fixed_plan`` (AQE
    off) — only for kernels whose step is the hinted co-partitioned
    join+groupBy shape; see ``fixed_plan``'s docstring for the measured
    per-kernel decision."""
    t0 = time.time()
    residuals: list[float] = []
    metrics: list[dict] = []
    converged = False
    spark = state.sparkSession
    if checkpoint_dir:
        os.makedirs(checkpoint_dir, exist_ok=True)

    i = start_iteration
    with fixed_plan(spark, enabled=fixed_plan_loop):
        while i < max_iter:
            new_state = step_fn(state, i)
            i += 1
            need_truncate = (i % checkpoint_every == 0) or i == max_iter
            materialize = residual_fn is not None or need_truncate
            rec: dict = {"superstep": i}
            r = float("nan")
            if residual_fn is l1_residual:
                new_state, r = _checkpoint_l1(state, new_state)
            elif materialize:
                new_state = new_state.localCheckpoint(eager=True)
                if residual_fn is not None:
                    r = residual_fn(state, new_state)
            if residual_fn is not None:
                residuals.append(r)
                rec["residual"] = r
            if materialize:
                rec["num_partitions"] = new_state.rdd.getNumPartitions()
                rec["aqe"] = (
                    spark.conf.get("spark.sql.adaptive.enabled") == "true")
            rec["wall_s"] = round(time.time() - t0, 3)
            metrics.append(rec)
            if checkpoint_dir and need_truncate:
                _write_checkpoint(new_state, checkpoint_dir, i, r, t0)
            state = new_state
            if residual_fn is not None and r < tol:
                converged = True
                break

    return SuperstepResult(
        state=state,
        iterations=i,
        converged=converged,
        residuals=residuals,
        wall_seconds=time.time() - t0,
        metrics=metrics,
    )


def l1_residual(old: DataFrame, new: DataFrame, key: str = "id",
                value: str = "value") -> float:
    """Σ|new−old| over the state vector (reference A4: ``GANG.py:127-136``,
    ``ZooBP.py:141-145``, ``SpEagle.py:218``). ``iterate`` recognises
    this function and computes the same sum inside the checkpoint job
    (``_checkpoint_l1``); this body is the reference it is tested
    against."""
    j = new.alias("n").join(old.alias("o"), on=key, how="inner")
    row = j.select(
        F.sum(F.abs(F.col(f"n.{value}") - F.col(f"o.{value}"))).alias("r")
    ).collect()[0]
    return float(row["r"] if row["r"] is not None else 0.0)


def _checkpoint_l1(old: DataFrame,
                   new: DataFrame) -> tuple[DataFrame, float]:
    """``new.localCheckpoint(eager=True)`` and ``l1_residual(old, new)``
    in ONE Spark job: the old value is left-joined onto ``new`` (old side
    hinted shuffle_hash — it is the |V|-sized checkpoint, ``new`` keeps
    its id partitioning), Σ|value − old| is observed on the joined rows
    and the projection back to ``new``'s columns is checkpointed. The
    sum skips the nulls of ids that exist only in ``new``, and ids only
    in ``old`` never reach it, so it covers exactly the pairs of
    ``l1_residual``'s inner join."""
    obs = Observation()
    prev = old.select("id", F.col("value").alias("_old")).hint("shuffle_hash")
    out = (
        new.join(prev, "id", "left")
        .observe(obs, F.sum(F.abs(F.col("value") - F.col("_old"))).alias("r"))
        .select(*new.columns)
        .localCheckpoint(eager=True)
    )
    r = obs.get["r"]
    return out, float(r if r is not None else 0.0)
