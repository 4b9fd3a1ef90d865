"""SpEagle loopy belief propagation over the user–review–product MRF.

Reference: ``/root/reference/UGFraud/Detector/SpEagle.py``. Reviews are
materialized as nodes (``SpEagle.py:249-281``), giving a tripartite MRF;
messages are 2-vectors in log space; the update for message i→j is

    m_{i→j}(c') = lse_c( logH(c',c) + bel_i(c) − m_{j→i}(c) ) − logZ

(``SpEagle.py:177-222``), with H_ur from numerical_eps=1e-5 and H_rp
from eps=0.1 (``Demo/eval_SpEagle.py:10-15``), beliefs = prior + Σ
incoming (``SpEagle.py:141-175``), final classify softmax
(``SpEagle.py:496-497``).

**Semantic divergence (SURVEY §7/M4):** the reference sweeps nodes
asynchronously in BFS order, alternating direction per iteration
(Gauss–Seidel, ``SpEagle.py:425-463``); we run synchronous Jacobi
supersteps — the distributed-correct formulation. Intermediate messages
differ; at convergence both reach the same fixpoint (asserted vs a
numpy Jacobi oracle in tests; fixed-iteration cross-engine parity vs
the unrolled DuckDB oracle).

Spark shape: because every review has exactly two neighbors (its user,
its product), all four directed message types live on the (src=user,
dst=product) edge key. State = one edge-level DataFrame with 8 message
columns plus the 6 static prior columns (folded in so the loop never
joins |E| vs |E|); each superstep = 2 groupBy-sum shuffles (user
beliefs, product beliefs) + 2 |V|-sized belief joins back to the edge
state, all in whole-stage codegen — zero Python in the loop.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.numeric import clamp_prior, lse2
from .superstep import SuperstepResult, iterate, layout_width, sized_plan


def _log_h(eps: float) -> tuple[float, float]:
    """Symmetric 2x2 potential [[1-e, e], [e, 1-e]] in log space →
    (log(1-e), log(e))."""
    return math.log(1.0 - eps), math.log(eps)


def _msg(h_same: float, h_diff: float, v0, v1):
    """m(c') = lse_c(logH(c',c) + v(c)), normalized: returns (m0, m1)."""
    t0 = lse2(F.lit(h_same) + v0, F.lit(h_diff) + v1)
    t1 = lse2(F.lit(h_diff) + v0, F.lit(h_same) + v1)
    z = lse2(t0, t1)
    return t0 - z, t1 - z


def speagle(
    edges: DataFrame,
    user_priors: DataFrame,
    prod_priors: DataFrame,
    review_priors: DataFrame,
    *,
    numerical_eps: float = 1e-5,
    eps: float = 0.1,
    max_iter: int = 2,
    tol: float | None = None,
    checkpoint_dir: str | None = None,
):
    """edges(src, dst) bipartite user→product; priors carry ``prior`` in
    [0,1] keyed by ``id`` (user/prod) or ``(src, dst)`` (review).

    Returns (SuperstepResult over the edge message state,
    user_beliefs(id, belief), prod_beliefs(id, belief),
    review_beliefs(src, dst, belief)) — beliefs are posterior P(y=1)
    out of log space like ``SpEagle.py:496-497``.
    """
    hs_ur, hd_ur = _log_h(numerical_eps)
    hs_rp, hd_rp = _log_h(eps)

    def logp(df: DataFrame, keys: list[str]) -> DataFrame:
        p = clamp_prior(F.col("prior"), 1e-5)
        return df.select(
            *keys, F.log(1.0 - p).alias("lp0"), F.log(p).alias("lp1")
        )

    up = logp(user_priors, ["id"]).withColumnRenamed("id", "src")
    pp = logp(prod_priors, ["id"]).withColumnRenamed("id", "dst")
    rp = logp(review_priors, ["src", "dst"])

    # static per-edge columns (endpoint priors + review prior) are FOLDED
    # INTO the message state instead of living in a separate frame: the
    # old shape re-joined an |E|-sized static `base` to the |E|-sized
    # state EVERY superstep — two big-side exchanges per iteration for
    # columns that never change. Carrying 6 constant doubles through the
    # per-superstep checkpoint costs ~60% more state bytes and removes
    # the largest join in the loop outright (the remaining joins put the
    # |V|-sized belief sides against the state, never |E| vs |E|).
    static_cols = ["u0", "u1", "p0", "p1", "r0", "r1"]
    msg_cols = ["ur0", "ur1", "ru0", "ru1", "rp0", "rp1", "pr0", "pr1"]
    state0 = (
        edges.select("src", "dst")
        .join(rp, ["src", "dst"])
        .join(up.withColumnRenamed("lp0", "u0").withColumnRenamed("lp1", "u1"), "src")
        .join(pp.withColumnRenamed("lp0", "p0").withColumnRenamed("lp1", "p1"), "dst")
        .withColumnRenamed("lp0", "r0")
        .withColumnRenamed("lp1", "r1")
        .select("src", "dst", *static_cols,
                *[F.lit(0.0).alias(c) for c in msg_cols])
        # no explicit repartition: the eager checkpoint below is taken
        # at the session's AQE setting (on by default), and with AQE on
        # a checkpoint scans as UnknownPartitioning, so the old
        # repartition("src") — a full 16-column |E| exchange — bought
        # no layout the AQE-on loop could use
        .localCheckpoint(eager=True)
    )
    # loop shuffle width from the measured state size (the count reads
    # the checkpoint just materialized — no extra pass); AQE stays on
    # (see the iterate call below)
    spark = edges.sparkSession
    mparts = layout_width(spark, state0.count())
    # converging mode carries the old messages through the step as
    # ``_<msg>`` columns; the residual observes Σ|new − old| on them and
    # projects them away (no |E|⋈|E| join of two checkpoints)
    old_msgs = ([F.col(c).alias(f"_{c}") for c in msg_cols]
                if tol is not None else [])

    def step(state: DataFrame, _i: int) -> DataFrame:
        # user beliefs: lp_u + Σ_p m_ru   (groupBy src)
        ub = state.groupBy("src").agg(
            F.sum("ru0").alias("sru0"), F.sum("ru1").alias("sru1")
        )
        # product beliefs: lp_p + Σ_u m_rp (groupBy dst)
        pb = state.groupBy("dst").agg(
            F.sum("rp0").alias("srp0"), F.sum("rp1").alias("srp1")
        )
        # belief sides are |V|-sized next to the |E|-sized state: hint
        # shuffle_hash so no superstep ever serially broadcasts state
        # (see superstep.colocate_edges rationale)
        j = (
            state.join(ub.hint("shuffle_hash"), "src")
            .join(pb.hint("shuffle_hash"), "dst")
        )
        bu0 = F.col("u0") + F.col("sru0")
        bu1 = F.col("u1") + F.col("sru1")
        bp0 = F.col("p0") + F.col("srp0")
        bp1 = F.col("p1") + F.col("srp1")
        br0 = F.col("r0") + F.col("ur0") + F.col("pr0")
        br1 = F.col("r1") + F.col("ur1") + F.col("pr1")

        n_ur0, n_ur1 = _msg(hs_ur, hd_ur, bu0 - F.col("ru0"), bu1 - F.col("ru1"))
        n_ru0, n_ru1 = _msg(hs_ur, hd_ur, br0 - F.col("ur0"), br1 - F.col("ur1"))
        n_rp0, n_rp1 = _msg(hs_rp, hd_rp, br0 - F.col("pr0"), br1 - F.col("pr1"))
        n_pr0, n_pr1 = _msg(hs_rp, hd_rp, bp0 - F.col("rp0"), bp1 - F.col("rp1"))

        return j.select(
            "src", "dst", *static_cols,
            n_ur0.alias("ur0"), n_ur1.alias("ur1"),
            n_ru0.alias("ru0"), n_ru1.alias("ru1"),
            n_rp0.alias("rp0"), n_rp1.alias("rp1"),
            n_pr0.alias("pr0"), n_pr1.alias("pr1"),
            *old_msgs,
        )

    def residual(_old: DataFrame, new: DataFrame):
        obs = Observation()
        delta = sum(F.abs(F.col(c) - F.col(f"_{c}")) for c in msg_cols)
        frame = (new.observe(obs, F.sum(delta).alias("r"))
                 .select("src", "dst", *static_cols, *msg_cols))
        return frame, lambda: float(obs.get["r"] or 0.0)

    with sized_plan(spark, mparts, adaptive_off=False):
        # AQE stays ON here (unlike the |V|-message kernels): the state
        # is |E|-sized with 16 columns and both per-superstep belief
        # joins re-exchange it, so AQE's runtime coalescing of those
        # wide shuffles wins — measured sf0.1 A/B: 3.70s (AQE) vs
        # 4.10s (fixed plan); the shuffle width itself still tracks the
        # measured state size (4.64s vs 5.55s at the 32-part default)
        res = iterate(
            state0,
            step,
            residual_fn=(None if tol is None else residual),
            max_iter=max_iter,
            tol=tol or 0.0,
            checkpoint_every=1,
            checkpoint_dir=checkpoint_dir,
        )
    # iterate checkpointed the last state (checkpoint_every=1), and
    # state0 when max_iter=0: the beliefs below read it as it is
    state = res.state

    def softmax1(b0, b1):
        z = lse2(b0, b1)
        return F.exp(b1 - z)

    ub = state.groupBy("src").agg(F.sum("ru0").alias("s0"), F.sum("ru1").alias("s1"))
    user_beliefs = (
        up.join(ub, "src", "left")
        .select(
            F.col("src").alias("id"),
            softmax1(
                F.col("lp0") + F.coalesce("s0", F.lit(0.0)),
                F.col("lp1") + F.coalesce("s1", F.lit(0.0)),
            ).alias("belief"),
        )
    )
    pb = state.groupBy("dst").agg(F.sum("rp0").alias("s0"), F.sum("rp1").alias("s1"))
    prod_beliefs = (
        pp.join(pb, "dst", "left")
        .select(
            F.col("dst").alias("id"),
            softmax1(
                F.col("lp0") + F.coalesce("s0", F.lit(0.0)),
                F.col("lp1") + F.coalesce("s1", F.lit(0.0)),
            ).alias("belief"),
        )
    )
    review_beliefs = state.select(
        "src", "dst",
        softmax1(
            F.col("r0") + F.col("ur0") + F.col("pr0"),
            F.col("r1") + F.col("ur1") + F.col("pr1"),
        ).alias("belief"),
    )
    return res, user_beliefs, prod_beliefs, review_beliefs
