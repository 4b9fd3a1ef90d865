"""Generic superstep driver for iterative gather-scatter kernels.

The reference runs every iterative detector as an in-process Python loop
over scipy matrices (``GANG.py:115-137``, ``ZooBP.py:135-148``,
``SpEagle.py:425-463``). Spark-first, each superstep is a declarative
DataFrame transformation (join + groupBy-sum = one SpMV); the *loop*
stays on the driver, controlled by a scalar residual aggregate — exactly
the reference's convergence checks (Δ<0.1 GANG, ≤1e-8 ZooBP, tol BP).

Scale concerns handled here rather than in each algorithm:

- **One job per converging superstep**: a residual is never a second
  action over two checkpoints (one more job per superstep, and a join
  that re-exchanges both when they were taken with AQE on).
  ``residual_fn(old, new)`` returns the frame to checkpoint with its
  convergence sum planted in it (``DataFrame.observe``) plus a reader;
  the reader runs after the ``localCheckpoint`` job that materializes
  the step anyway.
  ``l1_residual`` observes a null-skipping Σ|value − old| over a left
  join of the old value onto the step output.
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
- **One scope per kernel**: a kernel runs its whole body, loop and
  final shuffle included, inside ``sized_layout`` (its edges laid out
  by ``colocate_edges_sized`` at the measured width ``m``) or, when it
  sizes from another frame, ``sized_plan(spark, layout_width(...))``.
  ``sized_plan`` is the only place that sets
  ``spark.sql.shuffle.partitions`` and AQE (off for the hinted
  co-partitioned join loops, on for the frontier, peeling and SpEagle
  loops; see its docstring). The scope is also the lifetime of what
  the kernel caches: the edge layout is the resident operand of every
  superstep and of nothing after the loop, so on exit, also on raise,
  the scope unpersists it and every frame registered with ``keep``.
  The cache matches plans, so a frame whose plan was cached before the
  scope opened is the caller's and is never released. A kernel
  returns only checkpointed frames.
- **One message step**: ``_contribs`` (edges ⋈ state on src,
  ``groupBy(dst).sum``) is the SpMV every link-analysis kernel sends
  its messages through, over a vertex base from ``_vertex_base``.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


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


def _cache(spark: SparkSession):
    return spark._jsparkSession.sharedState().cacheManager()


def _release(frames: list[DataFrame], before) -> None:
    """Unpersist ``frames``, newest first (a frame before the frames it
    was built from), except each whose cache entry is in ``before``,
    the immutable entry sequence taken when the scope opened: that
    entry is the caller's, and ``persist()`` of an equal plan was a
    no-op."""
    for frame in reversed(frames):
        entry = _cache(frame.sparkSession).lookupCachedData(frame._jdf)
        if entry.isDefined() and not before.contains(entry.get()):
            frame.unpersist()


@contextmanager
def cache_scope(spark: SparkSession):
    """Yield ``keep``: ``keep(frame)`` registers a frame the caller
    persisted and returns it. On exit, also on raise, every kept frame
    is unpersisted unless its plan was already cached when the scope
    opened. ``sized_plan`` opens one; a kernel that sets no width of
    its own opens this alone."""
    before = _cache(spark).cachedData()
    kept: list[DataFrame] = []

    def keep(frame: DataFrame) -> DataFrame:
        kept.append(frame)
        return frame

    try:
        yield keep
    finally:
        _release(kept, before)


@contextmanager
def sized_plan(spark: SparkSession, shuffle_partitions: int,
               adaptive_off: bool = True):
    """The one scope that sets a kernel's plan:
    ``spark.sql.shuffle.partitions`` = ``shuffle_partitions`` (the ``m``
    of ``sized_layout`` or ``layout_width``) and, by default, AQE off.
    It yields ``keep``: ``keep(frame)`` registers a frame the kernel
    persisted and returns it. On exit, also on raise, every kept frame
    is unpersisted unless its plan was already cached when the scope
    opened, and both confs are restored.

    Contract: Spark reads these confs when a plan EXECUTES, and a kept
    frame is gone once the scope exits. So a kernel returns the state
    ``iterate`` checkpointed inside the scope or a frame it
    ``localCheckpoint``ed there; never a lazy plan whose last shuffle
    would run after the scope, at the session width, or a plan over a
    kept frame.

    AQE off (the default) is for a loop whose per-iteration plan is
    fixed, explicitly hinted and co-partitioned end to end
    (shuffle_hash state joins against the pinned ``colocate_edges``
    layout): there AQE's per-stage re-planning is driver-serial
    overhead repeated every superstep (the bench probe's AQE-off window
    in ``bench.py:superstep_throughput`` measured ~10-20%; on the sf0.1
    suite pagerank 2.6 s → 2.2 s, label_propagation 3.3 s → 2.6 s).

    ``adaptive_off=False`` scopes only the width and keeps AQE, for
    loops that lean on broadcast frontiers or anti-joins, or whose
    state is |E|-sized (BFS and SSSP, k-core and coreness, the Fraudar
    peel, SpEagle). They run faster with AQE's partition coalescing:
    with AQE off at sf0.1, kcore 1.6 s → 5.1 s, bfs_hops 3.2 s →
    4.0 s. Their width should still track the data.

    Assumes a single-threaded driver: the scope sets SESSION-global
    conf, so two queries running concurrently on one SparkSession
    would plan under each other's settings."""
    prev_n = spark.conf.get("spark.sql.shuffle.partitions")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    if adaptive_off:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        with cache_scope(spark) as keep:
            yield keep
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_n)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)


@contextmanager
def sized_layout(edges: DataFrame, key: str = "src", *,
                 adaptive_off: bool = True):
    """``sized_plan`` over an edge layout: lays ``edges`` out on ``key``
    with ``colocate_edges_sized`` (its only caller, through this
    module's globals, so a wrapper on the module attribute sees every
    layout), opens ``sized_plan(spark, m, adaptive_off)`` at the
    measured width ``m`` and yields ``(edges, m, keep)``. On exit, also
    on raise, the layout is released with the kept frames."""
    spark = edges.sparkSession
    before = _cache(spark).cachedData()
    laid, m = colocate_edges_sized(edges, key)
    try:
        with sized_plan(spark, m, adaptive_off) as keep:
            yield laid, m, keep
    finally:
        _release([laid], before)


def colocate_edges(edges: DataFrame, key: str = "src") -> DataFrame:
    """Shuffle the edge table ONCE onto the per-superstep join key and pin
    it with persist(). Every subsequent ``edges ⋈ state`` then shuffles
    only the |V|-sized state side — the |E|-sized payload never moves
    again: InMemoryRelation keeps the HashPartitioning visible, so
    EnsureRequirements elides the edge-side exchange (no Exchange above
    InMemoryTableScan). A local checkpoint keeps it only when taken with
    AQE off (``tests/test_plan_shapes.py`` pins both modes); the layout
    loops run in both, so persist is the one mechanism, and the
    kernel's scope releases it where checkpoint blocks wait for GC.
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


def layout_width(spark: SparkSession, rows: int) -> int:
    """Shuffle width for ``rows`` measured rows: ``clamp(ceil(rows /
    LAYOUT_ROWS_PER_PARTITION), 1, spark.sql.shuffle.partitions)``."""
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(n, -(-rows // LAYOUT_ROWS_PER_PARTITION)))


def colocate_edges_sized(edges: DataFrame,
                         key: str = "src") -> tuple[DataFrame, int]:
    """``colocate_edges`` that additionally derives the layout's
    partition count from the MEASURED row count (the count it takes
    anyway): ``m = layout_width(spark, rows)``. When m < conf the
    materialized frame is re-laid-out from cache (one cheap cache-read
    shuffle, ~0.1 s at bench scale) so the caller can run its whole
    kernel under ``sized_plan(spark, m)`` with every shuffle at m
    partitions. Returns ``(edges, m)``. At conf-saturating sizes (the
    bench probe's 64M edges, any real-cluster run) m == conf and this
    is exactly ``colocate_edges``. Kernels do not call it: they open
    ``sized_layout``, which calls it and releases the layout."""
    spark = edges.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    out = edges.repartition(n, key).persist()
    m = layout_width(spark, out.count())
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


Residual = Callable[[DataFrame, DataFrame],
                    tuple[DataFrame, Callable[[], float]]]


def iterate(
    state: DataFrame,
    step_fn: Callable[[DataFrame, int], DataFrame],
    residual_fn: Residual | None = None,
    *,
    max_iter: int,
    tol: float = 0.0,
    checkpoint_every: int = 5,
    checkpoint_dir: str | None = None,
    start_iteration: int = 0,
) -> SuperstepResult:
    """Run ``state ← step_fn(state, i)`` until the residual < tol or
    ``max_iter``. The residual is the convergence scalar (reference A4
    convergence sums); pass ``None`` to run a fixed iteration count
    with a single materialization per checkpoint interval.

    ``residual_fn(old, new) → (frame, read)`` returns the next state
    ``frame`` (``new``'s rows, with the residual's observation planted
    in its plan by ``DataFrame.observe``); ``iterate`` checkpoints
    ``frame`` and then calls ``read()`` for the scalar. Converging mode therefore runs ONE
    Spark job per superstep. Every observation must sit inside
    ``frame``: ``Observation.get`` waits forever for a node that never
    executes.

    ``metrics`` gets one record per superstep in both modes:
    ``superstep``, ``wall_s`` (seconds since the loop started),
    ``residual`` when converging, and, for a step whose state was
    checkpointed, ``num_partitions`` and ``aqe`` (adaptive execution
    on/off while it ran). An unmaterialized fixed-mode step was only
    planned; its work runs in the next checkpointed step. Recording
    these adds no Spark job.

    ``iterate`` sets no conf: a sized kernel calls it inside its
    ``sized_plan`` scope, which fixes the width and AQE for every
    superstep (``aqe`` in ``metrics`` records what the scope chose)."""
    t0 = time.time()
    residuals: list[float] = []
    metrics: list[dict] = []
    converged = False
    converging = residual_fn is not None
    spark = state.sparkSession
    if checkpoint_dir:
        os.makedirs(checkpoint_dir, exist_ok=True)

    i = start_iteration
    while i < max_iter:
        new_state = step_fn(state, i)
        i += 1
        need_truncate = (i % checkpoint_every == 0) or i == max_iter
        rec: dict = {"superstep": i}
        r = float("nan")
        if converging:
            new_state, read = residual_fn(state, new_state)
        if converging or need_truncate:
            new_state = new_state.localCheckpoint(eager=True)
            rec["num_partitions"] = new_state.rdd.getNumPartitions()
            rec["aqe"] = (
                spark.conf.get("spark.sql.adaptive.enabled") == "true")
        if converging:
            r = read()
            residuals.append(r)
            rec["residual"] = r
        rec["wall_s"] = round(time.time() - t0, 3)
        metrics.append(rec)
        if checkpoint_dir and need_truncate:
            _write_checkpoint(new_state, checkpoint_dir, i, r, t0)
        state = new_state
        if converging and r < tol:
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


def _vertex_base(edges: DataFrame) -> DataFrame:
    """(id, out_deg) for every vertex — src occurrences counted, dst-only
    vertices carried with out_deg NULL — via a single shuffle: union the
    endpoint columns with an is_src marker, one groupBy(id) with partial
    aggregation. Output is hash-partitioned on id, exactly what the
    per-superstep state joins need. A ``w`` edge column is summed
    instead of counted: out_deg is then the vertex's out-weight."""
    one, zero = ((F.col("w"), F.lit(0.0)) if "w" in edges.columns
                 else (F.lit(1), F.lit(0)))
    marked = edges.select(F.col("src").alias("id"), one.alias("is_src")).unionAll(
        edges.select(F.col("dst").alias("id"), zero.alias("is_src"))
    )
    counted = marked.groupBy("id").agg(F.sum("is_src").alias("_od"))
    return counted.select(
        "id", F.when(F.col("_od") > 0, F.col("_od")).alias("out_deg")
    )


def _contribs(edges: DataFrame, state: DataFrame,
              sums: dict[str, Column]) -> DataFrame:
    """The shared message step of the link-analysis kernels (the
    PageRank family, HITS, eigenvector centrality, SALSA, BiRank):
    (id, *sums) with
    ``sums[k](v) = Σ_{(u,v)∈E} [w(u,v) ·] sums[k](u)``.

    ``sums`` maps each message column to its per-source contribution,
    an expression over a state row. Vertices with a NULL ``out_deg``
    have no out-edges; pruning them is plan-only (the inner join would
    drop them). The state side is hinted ``shuffle_hash`` against the
    colocated edges, and one ``groupBy(dst)`` with map-side partial
    aggregation sums every message column; a ``w`` edge column weights
    each message."""
    src = state.where(F.col("out_deg").isNotNull()).select(
        F.col("id").alias("src"), *[c.alias(k) for k, c in sums.items()])
    w = F.col("w") if "w" in edges.columns else None
    return (
        edges.join(src.hint("shuffle_hash"), "src")
        .groupBy(F.col("dst").alias("id"))
        .agg(*[F.sum(F.col(k) if w is None else F.col(k) * w).alias(k)
               for k in sums])
    )


def l1_residual(old: DataFrame,
                new: DataFrame) -> tuple[DataFrame, Callable[[], float]]:
    """Σ|new−old| over the ``value`` column keyed by ``id`` (reference
    A4: ``GANG.py:127-136``, ``ZooBP.py:141-145``, ``SpEagle.py:218``),
    as an ``iterate`` residual: the old value is left-joined onto
    ``new`` (old side hinted shuffle_hash — it is the |V|-sized
    checkpoint, ``new`` keeps its id partitioning), the sum is observed
    on the joined rows and the frame projects back to ``new``'s
    columns. The sum skips the nulls of ids that exist only in ``new``,
    and ids only in ``old`` never reach it, so it covers exactly the
    pairs of an inner join on ``id``."""
    obs = Observation()
    prev = old.select("id", F.col("value").alias("_old")).hint("shuffle_hash")
    frame = (
        new.join(prev, "id", "left")
        .observe(obs, F.sum(F.abs(F.col("value") - F.col("_old"))).alias("r"))
        .select(*new.columns)
    )
    return frame, lambda: float(obs.get["r"] or 0.0)
