"""GANG linearized belief propagation.

Reference semantics (``/root/reference/UGFraud/Detector/GANG.py:115-137``,
``pu_lbp``): posterior vector B over all (product+user) vertices iterates
``B ← prior_centered + 2w · (A · B)`` on the symmetric bipartite
adjacency A, stopping on ``|ΣB_t − ΣB_{t-1}| < tol`` or max_iter.
The reference centers priors at 0.5 (``GANG.py:78-79``) and uses
w=0.008, tol=0.1, max_iter≤1000 in the demo (``tests/testing.py:63-66``).

Spark plan: the SpMV is edges⋈beliefs (hash join on src) followed by
groupBy(dst).sum — one shuffle per superstep with map-side partial
aggregation; the prior re-add is a broadcast-free columnar join against
the cached prior state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .superstep import (SuperstepResult, colocate_edges_sized,
                        iterate, l1_residual, sized_plan)


def gang(
    edges: DataFrame,
    priors: DataFrame,
    *,
    weight: float = 0.008,
    max_iter: int = 5,
    tol: float | None = None,
    checkpoint_dir: str | None = None,
) -> SuperstepResult:
    """edges(src, dst) bipartite + priors(id, prior in [0,1]) →
    state(id, belief). ``tol=None`` → fixed iterations (oracle parity);
    float → run until |Σ|ΔB|| < tol like ``GANG.py:136``."""
    sym, m = colocate_edges_sized(
        edges.select("src", "dst").unionAll(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    )
    with sized_plan(sym.sparkSession, m):
        return _gang_loop(sym, priors, w2=2.0 * weight, max_iter=max_iter,
                          tol=tol, checkpoint_dir=checkpoint_dir)


def _gang_loop(sym, priors, *, w2, max_iter, tol, checkpoint_dir):
    pri = priors.select(
        "id", (F.col("prior") - F.lit(0.5)).alias("p")
    ).repartition("id").persist()
    pri.count()

    state0 = pri.select("id", F.col("p").alias("value"))

    def step(state: DataFrame, _i: int) -> DataFrame:
        msg = (
            sym.join(
                state.select(F.col("id").alias("src"), "value").hint("shuffle_hash"),
                "src",
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("value").alias("m"))
        )
        return pri.join(msg.hint("shuffle_hash"), "id", "left").select(
            "id",
            (F.col("p") + F.lit(w2) * F.coalesce("m", F.lit(0.0))).alias("value"),
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
