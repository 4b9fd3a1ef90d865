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
the cached prior state. ``zoobp`` runs the same loop (``_linear_bp``)
with its own coefficient and signed edges.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .superstep import SuperstepResult, iterate, l1_residual, sized_layout


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
    return _linear_bp(edges, priors, coeff=2.0 * weight, max_iter=max_iter,
                      tol=tol, checkpoint_dir=checkpoint_dir)


def _linear_bp(edges: DataFrame, priors: DataFrame, *, coeff: float,
               sign: Column | None = None, max_iter: int,
               tol: float | None,
               checkpoint_dir: str | None) -> SuperstepResult:
    """The linearized-BP loop GANG and ZooBP share:
    ``b ← (prior − 0.5) + coeff · Σ_{u~v} [s(u,v) ·] b(u)`` over both
    directions of every edge. A ``sign`` column s weights each message
    (ZooBP's signed edges), the way a ``w`` edge column weights
    ``superstep._contribs``. The symmetric edges are laid out and the
    whole loop runs in one ``sized_layout`` scope (AQE off)."""
    s = [] if sign is None else [sign.alias("s")]
    msg = F.col("value") if sign is None else F.col("value") * F.col("s")
    with sized_layout(edges.select("src", "dst", *s).unionAll(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"),
                         *s))) as (sym, _, keep):
        pri = keep(priors.select(
            "id", (F.col("prior") - F.lit(0.5)).alias("p")
        ).repartition("id").persist())
        pri.count()

        state0 = pri.select("id", F.col("p").alias("value"))

        def step(state: DataFrame, _i: int) -> DataFrame:
            msgs = (
                sym.join(
                    state.select(F.col("id").alias("src"), "value")
                    .hint("shuffle_hash"),
                    "src",
                )
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum(msg).alias("m"))
            )
            return pri.join(msgs.hint("shuffle_hash"), "id", "left").select(
                "id",
                (F.col("p") + F.lit(coeff) * F.coalesce("m", F.lit(0.0)))
                .alias("value"),
            )

        res = iterate(
            state0,
            step,
            residual_fn=(None if tol is None else l1_residual),
            max_iter=max_iter,
            tol=tol or 0.0,
            checkpoint_every=1,
            checkpoint_dir=checkpoint_dir,
        )
    res.state = res.state.select("id", F.col("value").alias("belief"))
    return res
