"""Synchronous label propagation with deterministic tie-breaking.

Kernel (mirrored by ``oracle.sql_lpa``): each round, every vertex adopts
the most frequent label among its neighbors; ties break to the smallest
label; isolated vertices keep their own. Deterministic by construction
(no hash-order dependence), unlike classic asynchronous LPA.

Physical plan per round: join sym-edges⋈labels on src (1 shuffle unless
labels broadcast), count per (dst, lbl) with map-side partials, then a
per-dst argmax via ``max_by``-style struct-max — an aggregation, not a
window, so no per-group sort at scale. The winner aggregation covers
EVERY vertex (``verts`` are endpoints of the symmetrized edge set, so
each appears as a dst and receives ≥1 message): the next state IS the
winner frame — no per-round join back to the previous state, which
would add a |V|-row shuffle per round for a fallback that never fires.
Isolated vertices cannot occur here by construction; a caller with
degree-0 vertices must seed them separately (they keep their own label
forever regardless).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .components import _sym
from .superstep import iterate, sized_layout


def lpa(edges_ab: DataFrame, iters: int = 4) -> DataFrame:
    with sized_layout(_sym(edges_ab)) as (sym, _, _):
        verts = sym.select(F.col("src").alias("id")).distinct()
        state0 = verts.withColumn("lbl", F.col("id"))

        def step(state: DataFrame, _i: int) -> DataFrame:
            counts = (
                sym.join(
                    state.select(F.col("id").alias("src"), "lbl").hint("shuffle_hash"),
                    "src",
                )
                .groupBy(F.col("dst").alias("id"), "lbl")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            # argmax by (c desc, lbl asc) == max of struct(c, -lbl); every
            # vertex gets >=1 message (symmetrized edges), so this IS the
            # full next state — no join back to `state` needed
            return counts.groupBy("id").agg(
                F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("neg"))).alias("w")
            ).select("id", (-F.col("w.neg")).alias("lbl"))

        res = iterate(state0, step, max_iter=iters, checkpoint_every=1)
    return res.state.select("id", F.col("lbl").alias("label"))


def lpa_modularity(edges_ab: DataFrame, iters: int = 4) -> DataFrame:
    """(modularity, n_communities, m_edges): Newman modularity of the
    LPA communities — the standard "did the community detection find
    real structure" scalar (Q > 0.3 ≈ meaningful communities).

    Exactness by construction: Q = Σ_c [e_c/m − (d_c/2m)²] is computed
    as the INTEGER numerator Σ_c (4m·e_c − d_c²) over exact BIGINT
    counts (associative — partitioning/order independent) and closed
    with ONE double division by 4m² — no float accumulation anywhere,
    no rounding site, so the scalar is bit-identical across engines
    and cluster sizes. At 10¹²-edge scale the numerator outgrows
    int64 (4m·e_c ~ 4m²) — lift the two sum columns to DECIMAL(38,0)
    there; the gate scales stay well under 2⁵³ so the int64 path is
    also exactly representable in the output double.

    One label join per edge endpoint + two map-side-combined groupBys
    on the community key; everything after LPA is a single pass."""
    und = edges_ab.select("a", "b")
    lab = lpa(edges_ab, iters=iters)
    m1 = und.agg(F.count(F.lit(1)).cast("long").alias("m"))
    deg = (
        und.select(F.col("a").alias("id"))
        .unionAll(und.select(F.col("b").alias("id")))
        .groupBy("id").agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    dc = (
        deg.join(lab, "id")
        .groupBy("label").agg(F.sum("d").alias("dc"))
    )
    ec = (
        und.join(lab.select(F.col("id").alias("a"),
                            F.col("label").alias("la")), "a")
        .join(lab.select(F.col("id").alias("b"),
                         F.col("label").alias("lb")), "b")
        .where(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("label"))
        .agg(F.count(F.lit(1)).cast("long").alias("ec"))
    )
    num = (
        dc.join(ec, "label", "left")
        .crossJoin(m1)
        .agg(
            F.sum(F.lit(4) * F.col("m") * F.coalesce("ec", F.lit(0))
                  - F.col("dc") * F.col("dc")).alias("num"),
            F.count(F.lit(1)).alias("n_communities"),
        )
    )
    return num.crossJoin(m1).select(
        (F.col("num").cast("double")
         / (F.lit(4) * F.col("m") * F.col("m")).cast("double"))
        .alias("modularity"),
        "n_communities",
        F.col("m").alias("m_edges"),
    )


def lpa_conductance(edges_ab: DataFrame, iters: int = 4) -> DataFrame:
    """(label, cut_edges, volume, conductance): per-LPA-community
    conductance φ(c) = cut(c) / min(vol(c), 2m − vol(c)) — the
    community-quality score bounded-cut spectral theory cares about
    (low φ = well-separated community).

    Same exactness recipe as ``lpa_modularity``: cut and volume are
    exact BIGINT counts; φ is ONE double division of two exact ints
    (deterministic IEEE, not re-rounded). A community equal to the
    whole graph has no boundary — denominator 0 — and is defined to
    φ = 0.0 in both engines."""
    und = edges_ab.select("a", "b")
    lab = lpa(edges_ab, iters=iters)
    m1 = und.agg(F.count(F.lit(1)).cast("long").alias("m"))
    deg = (
        und.select(F.col("a").alias("id"))
        .unionAll(und.select(F.col("b").alias("id")))
        .groupBy("id").agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    vol = deg.join(lab, "id").groupBy("label").agg(
        F.sum("d").alias("volume"))
    tagged = (
        und.join(lab.select(F.col("id").alias("a"),
                            F.col("label").alias("la")), "a")
        .join(lab.select(F.col("id").alias("b"),
                         F.col("label").alias("lb")), "b")
    )
    # a cut edge leaves each of ITS TWO communities once
    cut = (
        tagged.where(F.col("la") != F.col("lb"))
        .select(F.col("la").alias("label"))
        .unionAll(tagged.where(F.col("la") != F.col("lb"))
                  .select(F.col("lb").alias("label")))
        .groupBy("label").agg(F.count(F.lit(1)).cast("long").alias("cut"))
    )
    denom = F.least(F.col("volume"),
                    F.lit(2) * F.col("m") - F.col("volume"))
    return (
        vol.join(cut, "label", "left")
        .crossJoin(m1)
        .select(
            "label",
            F.coalesce("cut", F.lit(0)).cast("long").alias("cut_edges"),
            "volume",
            F.when(denom == 0, F.lit(0.0))
            .otherwise(F.coalesce("cut", F.lit(0)).cast("double")
                       / denom.cast("double")).alias("conductance"),
        )
    )


# Zhu-Ghahramani label spreading (*Semi-Supervised Learning Using
# Gaussian Fields and Harmonic Functions*, ICML 2003): the harmonic
# relaxation f(v) = mean of neighbor f with labeled vertices CLAMPED
# — the lightest semi-supervised scorer in the fraud family (GANG /
# ZooBP / SpEagle carry edge semantics; this is the pure graph-
# smoothness baseline every comparison table includes).
LS_SEED_MOD = 13
LS_ITERS = 5


def label_spreading(edges_ab: DataFrame, seed_mod: int = LS_SEED_MOD,
                    iters: int = LS_ITERS) -> DataFrame:
    """(id, score, is_seed): ``iters`` clamped-harmonic rounds from
    deterministic seeds (id % seed_mod == 0, label = id % 2 — the
    house hash-prior convention), unlabeled vertices initialized at
    the uninformative 0.5. Per round: ONE edge⋈state join + ONE
    map-side-combined mean per dst — the identical shuffle class as
    the LPA/PageRank supersteps (symmetrized edges guarantee every
    vertex receives a message, so the mean frame IS the next state);
    the clamp is a per-row expression recomputable from the id, so no
    seed table ever joins into the loop. Scores round to 6 dp at the
    END only (the pagerank discipline — groupBy sum order's low bits
    are absorbed once). Sized like ``lpa``: the loop runs inside
    ``sized_layout`` at the measured layout width, AQE off."""
    def clamp(score_col):
        return F.when(
            F.col("id") % seed_mod == 0,
            (F.col("id") % 2).cast("double"),
        ).otherwise(score_col)

    with sized_layout(_sym(edges_ab)) as (sym, _, _):
        verts = sym.select(F.col("src").alias("id")).distinct()
        state0 = verts.select("id", clamp(F.lit(0.5)).alias("score"))

        def step(state: DataFrame, _i: int) -> DataFrame:
            means = (
                sym.join(
                    state.select(F.col("id").alias("src"), "score")
                    .hint("shuffle_hash"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg((F.sum("score") / F.count(F.lit(1))).alias("mean"))
            )
            return means.select("id", clamp(F.col("mean")).alias("score"))

        res = iterate(state0, step, max_iter=iters, checkpoint_every=1)
    return res.state.select(
        "id", F.round("score", 6).alias("score"),
        (F.col("id") % seed_mod == 0).cast("long").alias("is_seed"),
    )


WL_ITERS = 3


def wl_refinement(edges_ab: DataFrame, iters: int = WL_ITERS) -> DataFrame:
    """(id, wl_color, class_size): ``iters`` rounds of 1-dimensional
    Weisfeiler-Lehman color refinement over the undirected graph —
    color'(v) = md5(color(v) || sorted multiset of neighbor colors) —
    plus the size of each vertex's final color class. Two vertices
    share a final color iff their ``iters``-hop rooted neighborhood
    trees agree: THE structural-role signature graph kernels are built
    on, and a fraud-relevant one (review-farm accounts are
    structurally interchangeable, so they collapse into one class;
    organic users spread out). Initial color = the degree (WL's
    canonical degree-initialized form).

    Determinism: the neighbor multiset is a SORTED array of color
    strings joined with '|' before hashing — no hash-order or
    partitioning dependence; md5 is the house portable hash. Scale
    shape per round: one edge⋈state join + one per-vertex sorted
    collect_list (bounded by degree — the same per-vertex state any
    WL implementation must hold) + a narrow md5 map, one ``iterate``
    superstep per round at the sized width; the class-size join at the
    end is materialized inside the ``sized_layout`` scope."""
    with sized_layout(_sym(edges_ab)) as (sym, _, _):
        state0 = (
            sym.groupBy(F.col("src").alias("id"))
            .agg(F.count(F.lit(1)).cast("string").alias("c"))
        )

        def step(state: DataFrame, _i: int) -> DataFrame:
            return (
                sym.join(state.select(F.col("id").alias("src"), "c")
                         .hint("shuffle_hash"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.array_sort(F.collect_list("c")).alias("nc"))
                .join(state.hint("shuffle_hash"), "id")
                .select(
                    "id",
                    F.md5(F.concat_ws("|", F.array(F.col("c")),
                                      F.col("nc"))).alias("c"),
                )
            )

        state = iterate(state0, step, max_iter=iters,
                        checkpoint_every=1).state
        sizes = state.groupBy("c").agg(F.count(F.lit(1)).alias("class_size"))
        return (
            state.join(sizes, "c")
            .select("id", F.col("c").alias("wl_color"), "class_size")
            .localCheckpoint(eager=True)
        )
