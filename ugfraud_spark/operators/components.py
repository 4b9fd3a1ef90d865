"""Connected components.

``connected_components(...)`` runs to convergence (no label changed),
returning exact components (reference parity bar: exact match; cross
checked against a pure-python union-find oracle in tests, and against
the SQL oracle's unrolled min-label propagation,
``oracle.sql_cc_minprop``). Each round combines neighbor
min-propagation with a POINTER-DOUBLING shortcut (``lbl ← min(lbl,
lbl[lbl])`` — one state-on-state join): the shortcut doubles the
distance a label travels per round, so rounds grow as O(log d) in the
graph diameter instead of the O(d) of plain min-prop. This is the
pointer-jumping half of the classic Shiloach–Vishkin / "hash-to-min"
family; it reaches the same exact fixpoint (labels are monotone
non-increasing, bounded below by the component minimum, and the
neighbor-min fixpoint condition forces a constant label per
component).

Scale: each round is one edge⋈state join + groupBy-min plus one
|V|⋈|V| shortcut join (three shuffles, all on id/lbl); rounds ~
log2(diameter) — at web scale the chain/tendril tail that costs plain
min-prop hundreds of rounds collapses to tens. Lineage truncated by the
superstep driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .superstep import iterate, sized_layout


def _sym(edges_ab: DataFrame) -> DataFrame:
    return edges_ab.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        edges_ab.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )


def pairs_to_clusters(pairs: DataFrame, a_col: str, b_col: str,
                      id_alias: str) -> DataFrame:
    """(id, canonical_id, cluster_size, is_canonical) from a pair frame:
    exact components of the pair graph, canonical = least id per
    cluster (min-label fixpoint labels ARE the least reachable id),
    size via a per-cluster window count (no global ordering). The pair
    graph holds only items that matched SOMETHING, so this runs on a
    frame far smaller than the corpus that produced the pairs."""
    from pyspark.sql import Window

    edges = pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
    cc = connected_components(edges)
    w = Window.partitionBy("component")
    return cc.select(
        F.col("id").alias(id_alias),
        F.col("component").alias("canonical_id"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col("id") == F.col("component")).cast("int")
        .alias("is_canonical"),
    )


# unrolled min-prop+doubling rounds per driver superstep (see the
# comment at the pending-persist block below for the economics)
ROUNDS_PER_STEP = 3


def connected_components(edges_ab: DataFrame, max_iter: int = 100,
                         info: dict | None = None) -> DataFrame:
    """Exact components: min-propagation WITH per-round pointer doubling,
    run to fixpoint (residual = number of vertices whose label changed,
    stop at 0).

    Each round:
      1. gather:   m(v)   = min over in-neighbors' labels (edge⋈state)
      2. combine:  t(v)   = min(lbl(v), m(v))
      3. shortcut: lbl(v) = min(t(v), t(t(v)))   ← pointer doubling

    Step 3 is one extra |V|⋈|V| join (t.lbl = p.id) and is what turns
    the round count from O(diameter) into O(log diameter): after round
    k a label has traveled ≥ 2^k hops along any path. Labels are always
    ids of vertices in the same component (min over a reachable set),
    so the shortcut join never crosses components and the fixpoint is
    the exact per-component minimum — validated against a union-find
    oracle in tests/test_graph_semantics.py and a measured round-count
    bound in tests/test_components_rounds.py.

    Pass ``info={}`` to receive ``info["iterations"]`` /
    ``info["converged"]`` back (used by the round-count test).

    Plan economics (why each piece looks the way it does):
    - self-loops are unioned into the colocated edge set once, folding
      ``least(own, neighbor-min)`` into the gather's groupBy-min — the
      per-round |V| state join of the naive formulation disappears;
    - the shortcut looks up the PREVIOUS round's (already materialized)
      state instead of self-joining the fresh gather output: the gather
      plan is computed once per round, the parent side arrives already
      hash-partitioned on the join key (state is partitioned by id,
      renamed to lbl), and the recurrence d_k = 2·d_{k-1}+1 still
      doubles per round;
    - convergence is a monotone Σlbl test (every update is a ``least``,
      so labels only decrease and an unchanged exact-integer sum proves
      the fixpoint): each round's Σlbl is observed inside the one
      checkpoint job of its superstep — no old⋈new join and no extra
      Spark job."""
    sym_raw = _sym(edges_ab)
    verts_raw = sym_raw.select(F.col("src").alias("id")).distinct()
    with sized_layout(sym_raw.unionAll(
            verts_raw.select(F.col("id").alias("src"),
                             F.col("id").alias("dst")))) as (sym, _, _):
        return _cc_doubling_loop(sym, max_iter, info)


def _cc_doubling_loop(sym: DataFrame, max_iter: int,
                      info: dict | None) -> DataFrame:
    state0 = sym.select(F.col("src").alias("id")).distinct().withColumn(
        "lbl", F.col("id"))

    def one_round(state: DataFrame) -> DataFrame:
        t = (
            sym.join(
                state.select(F.col("id").alias("src"), "lbl").hint("shuffle_hash"),
                "src",
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("lbl").alias("lbl"))
        )
        # pointer doubling: look up the previous label OF my new label
        # (t.lbl is a vertex id — the min of a reachable set — so it has
        # a state row); left join + coalesce is belt-and-braces only
        parent = state.select(F.col("id").alias("lbl"),
                              F.col("lbl").alias("lbl2"))
        return (
            t.join(parent.hint("shuffle_hash"), "lbl", "left")
            .select("id", F.least("lbl", F.coalesce("lbl2", "lbl")).alias("lbl"))
        )

    # ROUNDS_PER_STEP unrolled rounds share ONE job / checkpoint: at
    # gate scale the per-round wall is dominated by fixed driver costs
    # (job scheduling + eager checkpoint), not data — unrolling
    # amortizes them 3-to-1 while the monotone-sum convergence proof
    # survives unchanged (sum flat across a 3-round step ⟺ flat across
    # each of its rounds). Intermediates get a LAZY persist: each
    # round's output feeds BOTH the next gather (exchange on src) and
    # the next shortcut (exchange on lbl), and without the persist
    # Catalyst plans the subtree twice per consumer — 2^k plan blowup
    # across the unroll. Every round's Σlbl is observed on its output
    # (under the persist for the intermediates), so the checkpoint job
    # of the final round reports all of them.
    observations: list[Observation] = []
    cached: list[DataFrame] = []

    def observed(df: DataFrame) -> DataFrame:
        observations.append(Observation())
        return df.observe(observations[-1], F.sum("lbl").alias("s"))

    def step(state: DataFrame, _i: int) -> DataFrame:
        cur = state
        for _ in range(ROUNDS_PER_STEP - 1):
            cur = observed(one_round(cur)).persist()
            cached.append(cur)
        return one_round(cur)

    prev_sum = [None]

    def read() -> float:
        # a flat sum between ANY two adjacent rounds inside the step
        # proves the fixpoint (labels are monotone), letting convergence
        # be detected mid-step instead of costing a whole extra no-op
        # step
        sums = [obs.get["s"] or 0 for obs in observations]
        for df in cached:
            df.unpersist()
        observations.clear()
        cached.clear()
        chain = ([] if prev_sum[0] is None else [prev_sum[0]]) + sums
        converged_inside = any(a == b for a, b in zip(chain, chain[1:]))
        prev_sum[0] = sums[-1]
        return 0.0 if converged_inside else float("inf")

    def residual(_old: DataFrame, new: DataFrame):
        return observed(new), read

    res = iterate(state0, step, residual,
                  max_iter=-(-max_iter // ROUNDS_PER_STEP), tol=0.5,
                  checkpoint_every=1)
    if info is not None:
        info["iterations"] = res.iterations * ROUNDS_PER_STEP
        info["converged"] = res.converged
    return res.state.select("id", F.col("lbl").alias("component"))
