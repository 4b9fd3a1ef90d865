"""ZooBP heterogeneous linearized BP, closed-form 2x2 kron action.

Reference (``/root/reference/UGFraud/Detector/ZooBP.py:76-154``) builds
``M = P − Q + I`` from Kronecker products of the signed adjacency with
``ep·H``, ``H = [[.5,−.5],[−.5,.5]]`` (``Demo/eval_ZooBP.py:16``).
Because centered 2-class beliefs satisfy b1 = −b0, the whole 2-vector
system collapses to a *scalar* signed propagation (SURVEY F6):

    b ← e + (ep/2) · Σ_{u~v} s(u,v) · b(u),   s = +1 (sign=1) / −1 (sign=2)

This is the paper-faithful fixpoint; the reference's literal
``logsumexp(M·B)``-as-a-scalar deviation (``ZooBP.py:144``) is a
documented bug we do not replicate (SURVEY §7 risk register). Priors are
centered at 0.5 like ``ZooBP.py:78-79``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .superstep import (SuperstepResult, colocate_edges_sized,
                        iterate, l1_residual, sized_plan)


def zoobp(
    edges: DataFrame,
    priors: DataFrame,
    *,
    ep: float = 0.01,
    max_iter: int = 5,
    tol: float | None = None,
    checkpoint_dir: str | None = None,
) -> SuperstepResult:
    """edges(src, dst, sign 1|2) + priors(id, prior) → state(id, belief)."""
    s_col = F.when(F.col("sign") == 1, F.lit(1.0)).otherwise(F.lit(-1.0))
    sym, m = colocate_edges_sized(
        edges.select("src", "dst", s_col.alias("s")).unionAll(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), s_col.alias("s")
            )
        )
    )
    with sized_plan(sym.sparkSession, m):
        return _zoobp_loop(sym, priors, ep=ep, max_iter=max_iter, tol=tol,
                           checkpoint_dir=checkpoint_dir)


def _zoobp_loop(sym, priors, *, ep, max_iter, tol, checkpoint_dir):
    pri = priors.select(
        "id", (F.col("prior") - F.lit(0.5)).alias("p")
    ).repartition("id").persist()
    pri.count()
    state0 = pri.select("id", F.col("p").alias("value"))
    h = ep / 2.0

    def step(state: DataFrame, _i: int) -> DataFrame:
        msg = (
            sym.join(
                state.select(F.col("id").alias("src"), "value").hint("shuffle_hash"),
                "src",
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("s") * F.col("value")).alias("m"))
        )
        return pri.join(msg.hint("shuffle_hash"), "id", "left").select(
            "id",
            (F.col("p") + F.lit(h) * F.coalesce("m", F.lit(0.0))).alias("value"),
        )

    res = iterate(
        state0,
        step,
        residual_fn=(None if tol is None else l1_residual),
        max_iter=max_iter,
        tol=tol or 0.0,
        checkpoint_every=1,
        checkpoint_dir=checkpoint_dir,
        fixed_plan_loop=True,
    )
    res.state = res.state.select("id", F.col("value").alias("belief"))
    return res


def zoobp_literal(edges: DataFrame, priors: DataFrame, *,
                  ep: float = 0.01) -> DataFrame:
    """BUG-COMPATIBLE mode: the reference's literal fixpoint
    ``B = E + logsumexp(M·B)`` (``ZooBP.py:144`` — logsumexp over the
    whole matrix-vector product, i.e. a SCALAR added to every entry).

    The literal code degenerates much further than that line suggests.
    ``ZooBP.py:82-83`` does ``a_list[a_list[:,2]==2] = 2`` — a ROW
    assignment — so every negative edge collapses to the literal edge
    (2,2) and every positive edge to (1,1); A⁺/A⁻ are single-entry
    matrices (A⁺[0,0]=n_pos, A⁻[1,1]=n_neg) and M = P − 0.25ep²·kron(D,H)
    has ≤16 nonzeros touching only the FIRST TWO users and the first two
    products. Because belief pairs are antisymmetric (c, −c) and
    H = [[.5,−.5],[−.5,.5]] gives H·(a,b) = 0.5(a−b)·(1,−1), the added
    scalar cancels inside M·B — the recursion is stationary from
    iteration 2 and the ``res ≤ 1e-8`` loop exits with

        B = E + s*,   s* = ln( (2L − 8) + 2·Σ_{j=1..4} cosh(v_j) )

    where L = |vertices|, v₁ = 0.5·ep·n_pos·c_p1 − 0.25·ep²·n_pos·c_u1,
    v₂ = −0.5·ep·n_neg·c_p2 − 0.25·ep²·n_neg·c_u2, v₃/v₄ the same with
    user/product swapped, c_x = prior(x) − 0.5, u1/u2 the two smallest
    user ids and p1/p2 the first two products in first-appearance order
    (the reference's insertion order). The random init (``ZooBP.py:26``)
    cancels entirely — the reference's output is seed-independent, which
    tests/test_reference_parity.py asserts by running it with two seeds.

    Spark plan: three tiny aggregates (edge sign counts; two boundary
    vertices per side) + one broadcast scalar into a full-vertex select.
    Returns (id, belief) for every vertex. The paper-faithful fixpoint
    stays in ``zoobp`` above.
    """
    import math

    e = edges.select("src", "dst", "sign")
    counts = e.groupBy().agg(
        F.sum(F.when(F.col("sign") == 1, 1).otherwise(0)).alias("n_pos"),
        F.sum(F.when(F.col("sign") == 2, 1).otherwise(0)).alias("n_neg"),
    ).collect()[0]
    if counts["n_pos"] is None:  # SUM over an empty edge frame is NULL
        raise ValueError(
            "zoobp_literal: empty edge frame — the literal closed form "
            "needs >= 1 edge (and >= 2 distinct users and products)"
        )
    n_pos, n_neg = float(counts["n_pos"]), float(counts["n_neg"])

    pri = priors.select("id", (F.col("prior") - F.lit(0.5)).alias("c"))
    u12 = [
        r["c"]
        for r in e.select(F.col("src").alias("id")).distinct()
        .join(pri, "id").orderBy("id").limit(2).collect()
    ]
    p12 = [
        r["c"]
        for r in e.groupBy("dst").agg(F.min("src").alias("fu"))
        .join(pri.withColumnRenamed("id", "dst"), "dst")
        .orderBy("fu", "dst").limit(2).collect()
    ]
    if len(u12) < 2 or len(p12) < 2:
        raise ValueError(
            "zoobp_literal: closed form needs >= 2 distinct users and "
            f">= 2 distinct products (got {len(u12)} users, {len(p12)} "
            "products with a prior); the reference indexes u1/u2 and p1/p2 "
            "unconditionally (ZooBP.py:82-83 row assignment)"
        )
    n_l = pri.count()

    c_u1, c_u2 = u12[0], u12[1]
    c_p1, c_p2 = p12[0], p12[1]
    v = [
        0.5 * ep * n_pos * c_p1 - 0.25 * ep * ep * n_pos * c_u1,
        -0.5 * ep * n_neg * c_p2 - 0.25 * ep * ep * n_neg * c_u2,
        0.5 * ep * n_pos * c_u1 - 0.25 * ep * ep * n_pos * c_p1,
        -0.5 * ep * n_neg * c_u2 - 0.25 * ep * ep * n_neg * c_p2,
    ]
    s_star = math.log(
        (2.0 * n_l - 8.0) + sum(math.exp(x) + math.exp(-x) for x in v)
    )
    return pri.select("id", (F.col("c") + F.lit(s_star)).alias("belief"))
