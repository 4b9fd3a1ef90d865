"""The PageRank family as join+groupBy SpMV supersteps.

Every kernel here runs one superstep, written once:

    messages   = groupBy(dst).sum(edges ⋈ pruned state on src)
    next state = update(base ⟕ messages on id)

``_contribs`` (in ``superstep``, shared with HITS, SALSA and BiRank) is
the message step (SURVEY J2, ``A·x``): the state is
pruned to vertices with out-edges, each keeps its per-source
contribution (``value/out_deg`` for PageRank, ``value`` for Katz, one
column per topic for ``topic_ppr``; a ``w`` edge column, as in
``pagerank_weighted``, weights each message and makes out_deg the
out-weight), and it is joined to the edge layout pinned on ``src`` by
``sized_layout`` with the state side hinted ``shuffle_hash`` —
the |E|-sized edge side never moves, only the |V|-sized state and the
map-side-combined messages cross the wire. ``_propagate`` owns the rest:
a left join of the messages onto the persisted vertex base
(hash-partitioned on id, so only the messages shuffle), the variant's
update expression, and the ``iterate`` loop (AQE off, L1 residual fused
into the checkpoint job when ``tol`` is set). A variant only builds its
vertex base, its initial state, its contribution columns and its update
expression; ``pagerank_blocks`` swaps the join message step for the
CSR-block ``spmv_arrow``, and ``pagerank_dangling`` adds the previous
superstep's dangling mass, observed in its checkpoint job, as a
literal. Every kernel runs inside ``sized_layout``, which releases the
edge layout and the kept vertex bases when the kernel returns.

Base kernel (deterministic, mirrored 1:1 by the DuckDB oracle in
``ugfraud_spark/oracle.py``):

    r_0(v)     = 1/N
    r_{t+1}(v) = (1-d)/N + d * Σ_{(u,v)∈E} r_t(u) / outdeg(u)

Dangling mass is dropped (documented simplification — the fixed-point
still sums < 1; ``pagerank_dangling`` is the mass-redistributed variant).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from .superstep import (
    SuperstepResult,
    _contribs,
    _vertex_base,
    iterate,
    l1_residual,
    sized_layout,
    sized_plan,
)


def _rank_contribs(edges: DataFrame) -> Callable[[DataFrame], DataFrame]:
    """PageRank's message step: each source sends ``value/out_deg``."""
    return lambda s: _contribs(
        edges, s, {"mass": F.col("value") / F.col("out_deg")})


def _damped(teleport: Column, damping: float, mass: str = "mass") -> Column:
    """The family's update: ``teleport + damping · messages`` (0 for a
    vertex that received none)."""
    return teleport + F.lit(damping) * F.coalesce(mass, F.lit(0.0))


def _iterate(state0: DataFrame, step: Callable[[DataFrame, int], DataFrame],
             values: list[str], *, tol: float | None = None,
             **loop) -> SuperstepResult:
    """The family's loop, run inside the caller's ``sized_plan`` (AQE
    off: the step is the hinted co-partitioned join shape). Any ``tol``,
    0.0 included, converges on ``l1_residual`` fused into the checkpoint
    job and records every residual; ``tol=None`` runs exactly
    ``max_iter`` steps. The result state is projected to
    ``(id, *values)``."""
    res = iterate(state0, step,
                  residual_fn=None if tol is None else l1_residual,
                  tol=tol or 0.0, **loop)
    res.state = res.state.select("id", *values)
    return res


def _propagate(base: DataFrame, state0: DataFrame,
               contribs: Callable[[DataFrame], DataFrame],
               values: dict[str, Column], **loop) -> SuperstepResult:
    """The shared superstep and loop: left-join ``contribs(state)`` onto
    the persisted vertex ``base`` (both sides hash-partitioned on id, the
    messages hinted ``shuffle_hash``), carry the base columns and compute
    each ``values[k]`` from them and the message columns. ``loop`` goes
    to ``_iterate``."""
    def step(state: DataFrame, _i: int) -> DataFrame:
        return base.join(contribs(state).hint("shuffle_hash"), "id", "left").select(
            *base.columns, *[v.alias(k) for k, v in values.items()])

    return _iterate(state0, step, list(values), **loop)


def pagerank(
    edges: DataFrame,
    *,
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float | None = None,
    checkpoint_every: int = 1,
    checkpoint_dir: str | None = None,
) -> SuperstepResult:
    """edges(src, dst) → state(id, value) with PageRank values.

    ``tol=None`` runs exactly ``max_iter`` supersteps (oracle-parity
    mode); a float runs to L1 residual < tol (convergence mode).
    """
    # the whole kernel (vertex base, state init, loop) plans under the
    # size-derived partition count + AQE off — see sized_plan
    with sized_layout(edges.select("src", "dst")) as (edges, _, keep):
        # vertex set + out-degree in ONE 2|E|-row shuffle with map-side
        # combine (was: distinct over the union + a second groupBy + a join
        # + an id-repartition — three full shuffles; measured as the bulk of
        # the probe's one-time build at 64M edges). Dangling nodes get
        # out_deg = NULL. persisted (see superstep.colocate_edges) so the
        # id-partitioning stays visible to the per-superstep left join.
        base = keep(_vertex_base(edges).persist())
        n = base.count()
        return _propagate(
            base, base.withColumn("value", F.lit(1.0 / n)), _rank_contribs(edges),
            {"value": _damped(F.lit((1.0 - damping) / n), damping)},
            max_iter=max_iter, tol=tol,
            checkpoint_every=checkpoint_every, checkpoint_dir=checkpoint_dir)


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float | None = None,
    checkpoint_every: int = 1,
    checkpoint_dir: str | None = None,
) -> SuperstepResult:
    """PPR: teleport mass returns to ``seeds(id)`` uniformly instead of
    to every vertex — the standard seed-conditioned relevance score for
    web graphs (e.g. trust propagation from known-good hosts). Same
    superstep plan as ``pagerank``; only the teleport column differs."""
    with sized_layout(edges.select("src", "dst")) as (edges, _, keep):
        # persisted like ``pagerank``'s base: the groupBy's hash(id)
        # partitioning stays visible, so the base build below needs NO
        # re-exchange of the vertex side and no explicit repartition
        vb = keep(_vertex_base(edges).persist())
        # seeds outside the graph's vertex set get no state row — their teleport
        # mass would silently vanish; normalize by the *effective* seed count
        seeds = seeds.select("id").join(vb.select("id"), "id", "left_semi")
        n_seeds = seeds.count()
        if n_seeds == 0:
            raise ValueError("personalized_pagerank: no seed intersects the "
                             "graph's vertex set")
        base = (
            vb
            .join(seeds.select("id").withColumn("_seed", F.lit(1)), "id", "left")
            .withColumn(
                "tp",
                F.when(F.col("_seed").isNotNull(),
                       (1.0 - damping) / n_seeds).otherwise(F.lit(0.0)),
            )
            .drop("_seed")
            .persist()
        )
        keep(base).count()
        return _propagate(
            base, base.withColumn("value", F.col("tp") / F.lit(1.0 - damping)),
            _rank_contribs(edges), {"value": _damped(F.col("tp"), damping)},
            max_iter=max_iter, tol=tol,
            checkpoint_every=checkpoint_every, checkpoint_dir=checkpoint_dir)


def teleport_pagerank(
    edges: DataFrame,
    weights: DataFrame,
    *,
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float | None = None,
    checkpoint_every: int = 1,
    checkpoint_dir: str | None = None,
) -> SuperstepResult:
    """PageRank with an ARBITRARY non-negative teleport distribution:
    ``weights(id, w)`` → τ(v) = w(v) / Σw, and

        r_0(v)     = τ(v)
        r_{t+1}(v) = (1-d)·τ(v) + d · Σ_{(u,v)∈E} r_t(u)/outdeg(u)

    The general form between ``pagerank`` (w ≡ 1) and
    ``personalized_pagerank`` (w = seed indicator): any upstream signal
    — document quality, crawl priority, host reputation — becomes a
    rank bias without touching the superstep plan. Same physical shape
    as ``pagerank``: the weight column rides the persisted vertex base,
    so the teleport term is a map-side expression, never a join.

    Weights for ids outside the graph's vertex set are dropped (their
    mass would vanish); vertices with no weight row get τ = 0. The
    normalizer Σw rides a broadcast 1-row crossJoin — no driver-side
    float re-enters the plan."""
    with sized_layout(edges.select("src", "dst")) as (edges, _, keep):
        # persisted: keeps hash(id) visible so the base build skips the
        # repartition + extra materialization (see personalized_pagerank)
        vb = keep(_vertex_base(edges).persist())
        w = (weights.select("id", F.col("w").cast("double").alias("w"))
             .join(vb.select("id"), "id", "left_semi"))
        if w.where(F.col("w") > 0).limit(1).count() == 0:
            raise ValueError("teleport_pagerank: no positive weight "
                             "intersects the graph's vertex set")
        tot = w.agg(F.sum("w").alias("_tot"))
        base = (
            vb.join(w, "id", "left")
            .crossJoin(F.broadcast(tot))
            .withColumn("wn", F.coalesce(F.col("w"), F.lit(0.0)) / F.col("_tot"))
            .drop("w", "_tot")
            .persist()
        )
        keep(base).count()
        return _propagate(
            base, base.withColumn("value", F.col("wn")), _rank_contribs(edges),
            {"value": _damped(F.lit(1.0 - damping) * F.col("wn"), damping)},
            max_iter=max_iter, tol=tol,
            checkpoint_every=checkpoint_every, checkpoint_dir=checkpoint_dir)


def pagerank_from(
    edges: DataFrame,
    init: DataFrame,
    *,
    damping: float = 0.85,
    max_iter: int = 3,
    tol: float | None = None,
    checkpoint_every: int = 1,
    checkpoint_dir: str | None = None,
) -> SuperstepResult:
    """PageRank WARM-STARTED from ``init(id, value)`` — the incremental
    recrawl pattern: yesterday's converged rank vector seeds today's
    graph (new edges added, some pages gone) and a handful of supersteps
    re-converge it, instead of paying the full cold-start iteration
    count on every crawl cycle. Power iteration's error contracts by the
    damping factor per step regardless of the start vector, so starting
    ~ε from the new fixed point needs log(tol/ε)/log(d) steps — at a
    daily-delta ε this is 2-4 supersteps versus tens from uniform.

    Vertices absent from ``init`` (pages first seen this crawl) start at
    1/N of the NEW vertex count; init rows for vanished pages are
    dropped by the left join against the new vertex base. The recurrence
    and physical plan are ``pagerank``'s verbatim — one edges⋈state join
    + one groupBy(dst) shuffle per superstep over the colocated edge
    frame; the init join happens ONCE, outside the loop."""
    with sized_layout(edges.select("src", "dst")) as (edges, _, keep):
        base = keep(_vertex_base(edges).persist())
        n = base.count()
        state0 = (
            base.join(init.select("id", F.col("value").cast("double")
                                  .alias("value")), "id", "left")
            .withColumn("value", F.coalesce(F.col("value"), F.lit(1.0 / n)))
        )
        return _propagate(
            base, state0, _rank_contribs(edges),
            {"value": _damped(F.lit((1.0 - damping) / n), damping)},
            max_iter=max_iter, tol=tol,
            checkpoint_every=checkpoint_every, checkpoint_dir=checkpoint_dir)


def topic_ppr(
    edges: DataFrame,
    topics: DataFrame,
    *,
    n_topics: int,
    damping: float = 0.85,
    max_iter: int = 20,
    checkpoint_every: int = 1,
    checkpoint_dir: str | None = None,
) -> SuperstepResult:
    """Batched topic-sensitive PageRank (Haveliwala-style): K seed sets
    advance together through ONE edges⋈state join and ONE groupBy(dst)
    shuffle per superstep, the state carrying K value columns
    ``v0..v{K-1}`` instead of one.

    Why this is its own operator and not a loop over
    ``personalized_pagerank``: at web scale every superstep's cost is
    dominated by the |E|-sized edge scan + message shuffle, and K
    separate PPR jobs pay that K times for the identical edge traversal.
    Widening the state row from 1 to K doubles/triples the *message
    payload* but leaves the shuffle row count, join fan-out, and
    partition layout unchanged — the K-fold amortization a 100-TB link
    graph needs for topic-sensitive ranking, TrustRank panels, or
    multi-seed spam-mass sweeps. (Reference parity: UGFraud has no
    multi-seed variant; semantics per topic are pinned to
    ``personalized_pagerank``'s fixed point by the shared oracle
    recurrence.)

    ``topics(id, topic)`` assigns seed vertices to topics 0..K-1 (at
    most one topic per id — enforce upstream); ids outside the graph's
    vertex set are dropped, and teleport for topic t is uniform over
    its surviving seeds. Raises when any topic ends up with zero seeds
    (its column would be identically zero — a silent config error).
    """
    with sized_layout(edges.select("src", "dst")) as (edges, _, keep):
        # persisted — same partitioning rationale as personalized_pagerank
        vb = keep(_vertex_base(edges).persist())
        topics = topics.select("id", "topic").join(
            vb.select("id"), "id", "left_semi")
        # K-row driver transfer (bounded by n_topics), mirrors the scalar
        # seed count personalized_pagerank already collects
        counts = {r["topic"]: r["n"] for r in
                  topics.groupBy("topic").agg(F.count(F.lit(1)).alias("n"))
                  .collect()}
        missing = [t for t in range(n_topics) if not counts.get(t)]
        if missing:
            raise ValueError(
                f"topic_ppr: topics {missing} have no seed inside the "
                "graph's vertex set — their PPR columns would be "
                "identically zero")

        base = vb.join(topics, "id", "left")
        for t in range(n_topics):
            base = base.withColumn(
                f"tp{t}",
                F.when(F.col("topic") == t,
                       F.lit((1.0 - damping) / counts[t])).otherwise(F.lit(0.0)),
            )
        base = keep(base.drop("topic").persist())
        base.count()
        # same init as personalized_pagerank: v = tp / (1-d) → 1/n_t on
        # topic-t seeds, 0 elsewhere (division mirrored in the oracle SQL so
        # both engines run the identical IEEE op sequence)
        state0 = base.select(
            "id", "out_deg",
            *[f"tp{t}" for t in range(n_topics)],
            *[(F.col(f"tp{t}") / F.lit(1.0 - damping)).alias(f"v{t}")
              for t in range(n_topics)],
        )
        return _propagate(
            base, state0,
            lambda s: _contribs(edges, s, {
                f"m{t}": F.col(f"v{t}") / F.col("out_deg")
                for t in range(n_topics)}),
            {f"v{t}": _damped(F.col(f"tp{t}"), damping, f"m{t}")
             for t in range(n_topics)},
            max_iter=max_iter,
            checkpoint_every=checkpoint_every, checkpoint_dir=checkpoint_dir)


def pagerank_dangling(
    edges: DataFrame,
    *,
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float | None = None,
    checkpoint_every: int = 1,
    checkpoint_dir: str | None = None,
) -> SuperstepResult:
    """Full Google-matrix PageRank: dangling mass redistributed
    uniformly instead of dropped —

        r_{t+1}(v) = (1-d)/N + d·[Σ_{(u,v)} r_t(u)/od(u) + D_t/N],
        D_t = Σ_{dangling u} r_t(u)

    so Σr stays exactly 1 (the ``pagerank`` kernel's documented
    simplification, closed here as a first-class oracle-gated
    variant). D_t enters superstep t+1 as a literal, observed on
    superstep t's output in the job that checkpoints it: one Spark job
    per superstep, as in ``pagerank`` (an input that was only planned,
    ``tol=None`` with ``checkpoint_every`` > 1, is summed in a job of
    its own)."""
    with sized_layout(edges.select("src", "dst")) as (edges, _, keep):
        base = keep(_vertex_base(edges).persist())
        n, n_dangling = base.agg(
            F.count(F.lit(1)), F.count(F.when(F.col("out_deg").isNull(), 1))
        ).first()
        teleport = (1.0 - damping) / n
        contribs = _rank_contribs(edges)
        dangling = F.sum(F.when(F.col("out_deg").isNull(), F.col("value")))
        masses: list[Observation] = []

        def step(state: DataFrame, i: int) -> DataFrame:
            if i == 0:
                dm = n_dangling / n  # every vertex starts at 1/n
            elif tol is not None or i % checkpoint_every == 0:
                dm = masses[-1].get["dm"] or 0.0
            else:  # superstep i was only planned
                dm = state.agg(dangling).first()[0] or 0.0
            masses.append(Observation())
            return (
                base.join(contribs(state).hint("shuffle_hash"), "id", "left")
                .select(
                    "id",
                    "out_deg",
                    (F.lit(teleport) + F.lit(damping)
                     * (F.coalesce("mass", F.lit(0.0))
                        + F.lit(dm) / F.lit(float(n)))).alias("value"),
                )
                .observe(masses[-1], dangling.alias("dm"))
            )

        return _iterate(
            base.withColumn("value", F.lit(1.0 / n)), step, ["value"],
            max_iter=max_iter, tol=tol,
            checkpoint_every=checkpoint_every, checkpoint_dir=checkpoint_dir)


def katz(
    edges: DataFrame,
    *,
    alpha: float = 0.1,
    beta: float = 1.0,
    max_iter: int = 5,
    tol: float | None = None,
    checkpoint_every: int = 1,
    checkpoint_dir: str | None = None,
) -> SuperstepResult:
    """Katz centrality (Katz 1953): x_{t+1}(v) = β + α·Σ_{(u,v)∈E} x_t(u),
    x_0 ≡ β — the attenuated all-walks count (β·Σ_k α^k paths of length
    ≤ t into v), the third classic centrality next to PageRank (degree-
    normalized) and HITS/SALSA (spectral/stochastic). No out-degree
    division, so the superstep is the cheapest of the family: one
    co-partitioned edge⋈state join + one map-side-combined groupBy.

    Fixed ``max_iter`` is the truncated-series semantics the oracle
    unrolls; convergence of the infinite series needs α < 1/λ_max,
    irrelevant at fixed iterations."""
    with sized_layout(edges.select("src", "dst")) as (edges, _, keep):
        base = keep(_vertex_base(edges).persist())
        base.count()
        return _propagate(
            base, base.withColumn("value", F.lit(beta)),
            lambda s: _contribs(edges, s, {"mass": F.col("value")}),
            {"value": _damped(F.lit(beta), alpha)},
            max_iter=max_iter, tol=tol,
            checkpoint_every=checkpoint_every, checkpoint_dir=checkpoint_dir)


def pagerank_blocks(
    edges: DataFrame,
    *,
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float | None = None,
    checkpoint_every: int = 1,
    checkpoint_dir: str | None = None,
    n_blocks: int = 32,
    hub_cap: int = 100_000,
) -> SuperstepResult:
    """PageRank over CSR-like salted adjacency blocks (north_star layout,
    see ``adjacency.py``). Same fixed point as ``pagerank`` — asserted
    equal to 1e-12 in tests — but each superstep moves only state and
    partial messages; the edge arrays are shuffled exactly once at
    build. Preferred at 100 TB; the plain join kernel stays as the
    oracle-parity twin. The message step is ``spmv_arrow``
    (``applyInArrow``, north_star's literal boundary: Arrow list arrays
    flatten to numpy zero-copy) in place of the join step
    ``_contribs``; the two agree to ≤1e-12 (``test_adjacency.py``),
    far inside the driver gate's 6dp rounding.

    ``n_blocks`` is the block-id (salt) domain, not the partition
    width. The edges are laid out by ``sized_layout`` and the block
    build, vertex base and loop all run under a nested ``sized_plan`` at
    ``w = min(m, n_blocks)`` partitions, which keeps the blocks, routes
    and base until the kernel returns, so each superstep's Python
    cogroup runs ``w`` tasks, each reducing several blocks — the cost
    of a Python task is paid per task, not per block. The cap applies
    to every stage of the kernel: when ``m > n_blocks`` (a cluster
    session whose conf width exceeds ``n_blocks``) the vertex base,
    the joins and the dst reduce also run only ``n_blocks`` wide, so
    size ``n_blocks`` with the cluster. That case is unmeasured; on a
    local session ``m`` ≤ the core count ≤ ``n_blocks``."""
    from .adjacency import build_adjacency_blocks, spmv_arrow

    with (sized_layout(edges.select("src", "dst")) as (edges, m, _),
          sized_plan(edges.sparkSession, min(m, n_blocks)) as keep):
        adj = build_adjacency_blocks(edges, n_blocks=n_blocks,
                                     hub_cap=hub_cap)
        keep(adj.blocks)
        keep(adj.routes)
        base = keep(_vertex_base(edges).persist())
        n = base.count()

        def contribs(state: DataFrame) -> DataFrame:
            return spmv_arrow(adj, state.where(F.col("out_deg").isNotNull())
                              .select("id", (F.col("value") / F.col("out_deg"))
                                      .alias("c")))

        return _propagate(
            base, base.withColumn("value", F.lit(1.0 / n)), contribs,
            {"value": _damped(F.lit((1.0 - damping) / n), damping)},
            max_iter=max_iter, tol=tol,
            checkpoint_every=checkpoint_every, checkpoint_dir=checkpoint_dir)


def pagerank_weighted(
    edges_w: DataFrame,
    *,
    weight: str = "weight",
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float | None = None,
    checkpoint_every: int = 1,
    checkpoint_dir: str | None = None,
) -> SuperstepResult:
    """Weighted PageRank over edges(src, dst, weight): each vertex
    distributes its rank proportionally to outgoing edge weight —
    r_{t+1}(v) = (1-d)/N + d·Σ_{(u,v)} r_t(u)·w(u,v)/W_out(u). The
    host-ranking kernel (a host graph's n_links weights ARE the
    endorsement counts). Same superstep plan as ``pagerank``: edges
    colocated once, W_out fused into the state, one state-side shuffle
    + one map-side-combined groupBy per round; dangling mass dropped
    (same documented simplification as the unweighted kernel)."""
    with sized_layout(edges_w.select(
            "src", "dst", F.col(weight).cast("double").alias("w"))) as (
            edges, _, keep):
        # the w column makes out_deg W_out(u) and weights every message
        base = keep(_vertex_base(edges).persist())
        n = base.count()
        return _propagate(
            base, base.withColumn("value", F.lit(1.0 / n)), _rank_contribs(edges),
            {"value": _damped(F.lit((1.0 - damping) / n), damping)},
            max_iter=max_iter, tol=tol,
            checkpoint_every=checkpoint_every, checkpoint_dir=checkpoint_dir)


def residual_curve(edges: DataFrame, iters: int = 5) -> DataFrame:
    """(iter, l1_residual): the per-superstep L1 convergence curve of
    the PageRank kernel — the engine-exact, GATEABLE version of the
    convergence metrics the superstep driver checkpoints (north-star
    resumability surface). Each iteration's states come from the SAME
    kernel (`pagerank(max_iter=t)` — no reimplementation to drift).

    Float discipline: per-vertex |Δ| is floored to integer nano-units
    (floor of identical IEEE doubles is engine-independent — the §63
    recipe), summed as exact BIGINTs, and divided once at read-out —
    so the residual survives any partitioning/summation order.

    Gate-scale cost is iters(iters+1)/2 supersteps (prefix re-runs);
    production reads the driver's residual stream instead — this query
    exists to certify those numbers against an independent engine."""
    states = [pagerank(edges, max_iter=t).state
              for t in range(1, iters + 1)]
    v = states[0].select("id")
    n = v.count()  # scalar: fixes the uniform init, same 1.0/n as SQL
    prev = v.select("id", F.lit(1.0 / n).alias("value"))
    rows = None
    for t, cur in enumerate(states, start=1):
        d = prev.select("id", F.col("value").alias("pv")).join(
            cur.select("id", F.col("value").alias("cv")), "id")
        micro = d.agg(
            F.sum(F.floor(F.abs(F.col("cv") - F.col("pv")) * F.lit(1e9)))
            .alias("micro"))
        row = micro.select(
            F.lit(t).alias("iter"),
            (F.col("micro").cast("double") / F.lit(1e9))
            .alias("l1_residual"))
        rows = row if rows is None else rows.unionByName(row)
        prev = cur
    return rows
