"""Deterministic random-walk corpus over the link graph — the
DeepWalk/node2vec(p=q=1) training-data generator.

Graph-embedding pipelines (Perozzi et al., KDD'14) consume a corpus of
truncated random walks the way text pipelines consume sentences. At
web scale the walk generator must be (a) distributed — every step is
one co-partitioned join, state is |V|·n_walks rows, never a driver
loop — and (b) reproducible, so a re-run (or a backfilled partition)
emits byte-identical walks. Reproducibility here comes from a
counter-based integer hash in place of an RNG: step t of walk w at
vertex v picks out-neighbor index

    h = (v·A + w·B + t·C + seed) mod P        (combine)
    pick = ((h·A + B) mod P) mod outdeg(v)    (scramble, then bound)

with fixed odd multipliers and the Mersenne prime P = 2^31−1 — pure
64-bit integer math (h < P so h·A < 2^61), exactly replayable by the
DuckDB oracle (the same trade ``shuffle.epoch_shuffle`` makes; a
production deployment would swap in xxhash64, which Spark has but
DuckDB cannot mirror). The scramble round is load-bearing: the bare
linear combine mod P mod d clusters badly (measured: 64 walks from a
32-out-neighbor star hit only 5 distinct neighbors — each wrap of the
outer mod shifts the inner residue by P mod d, a Beatty-sequence
artifact), while one multiplicative round spreads the same 64 walks
over 25 neighbors with max multiplicity 4. The §32
shared-formula-oracle lesson applies: the oracle proves the
distributed decomposition, so the SEMANTIC claim — neighbor choices
are near-uniform and decorrelated across walks — is pinned by its own
property test, not by parity.

Neighbor addressing: each vertex's out-edges are ranked once by dst
(one shuffle+sort, the same one-time layout cost as the CSR build),
giving an (src, idx) → dst table every step joins against. Walks stop
early at dead ends (inner join against the ranked table drops them).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .superstep import cache_scope

WALK_A = 1_103_515_245
WALK_B = 747_796_405
WALK_C = 2_891_336_453
WALK_P = 2_147_483_647  # 2^31 - 1


def random_walks(edges: DataFrame, n_walks: int = 2,
                 length: int = 4, seed: int = 1) -> DataFrame:
    """edges(src, dst) directed → (walk_id, step, vertex): ``n_walks``
    truncated walks of ≤ ``length`` steps from every vertex with an
    out-edge; walk_id = start·n_walks + w. Deterministic in (edges,
    n_walks, length, seed)."""
    with cache_scope(edges.sparkSession) as keep:
        e = edges.select("src", "dst")
        # one-time neighbor layout: idx-addressable out-adjacency + degree.
        # The window is per-src (bounded by the max out-degree), never global.
        w_src = Window.partitionBy("src").orderBy("dst")
        nbr = keep(
            e.select("src", "dst",
                     (F.row_number().over(w_src) - 1).alias("idx"))
            .repartition("src")
            .persist()
        )
        outd = nbr.groupBy("src").agg(F.count(F.lit(1)).alias("od"))

        state = (
            nbr.select("src").distinct()
            .select(
                F.col("src").alias("cur"),
                F.explode(F.sequence(F.lit(0), F.lit(n_walks - 1))).alias("w"),
            )
            .select(
                (F.col("cur") * n_walks + F.col("w")).alias("walk_id"), "cur",
            )
        )
        out = state.select("walk_id", F.lit(0).alias("step"),
                           F.col("cur").alias("vertex"))
        for t in range(1, length + 1):
            # every term is nonnegative and < 2^63 (cur and walk_id are
            # bounded by the id namespace, multipliers < 2^32, and the
            # scramble input is < P), so plain % agrees across engines
            # with no pmod dance
            h = (
                F.col("cur") * F.lit(WALK_A)
                + F.col("walk_id") * F.lit(WALK_B)
                + F.lit(t * WALK_C + seed)
            ) % F.lit(WALK_P)
            h = (h * F.lit(WALK_A) + F.lit(WALK_B)) % F.lit(WALK_P)
            step = (
                state.join(outd.withColumnRenamed("src", "cur")
                           .hint("shuffle_hash"), "cur")
                .select("walk_id", "cur", (h % F.col("od")).alias("pick"))
                .join(
                    nbr.select(F.col("src").alias("cur"),
                               F.col("idx").alias("pick"),
                               F.col("dst").alias("nxt")),
                    ["cur", "pick"],
                )
                .select("walk_id", F.col("nxt").alias("cur"))
            )
            state = step.localCheckpoint(eager=True)
            out = out.unionAll(
                state.select("walk_id", F.lit(t).alias("step"),
                             F.col("cur").alias("vertex")))
        return out.localCheckpoint(eager=True)


def node2vec_walks(edges: DataFrame, n_walks: int = 2, length: int = 4,
                   seed: int = 1, w_ret: int = 1, w_adj: int = 4,
                   w_out: int = 16) -> DataFrame:
    """Second-order biased walks (node2vec; Grover & Leskovec, KDD'16):
    (walk_id, step, vertex) where step t ≥ 2 picks the next out-neighbor
    x of ``cur`` with weight

        w_ret  if x == prev              (node2vec α = 1/p, d(prev,x)=0)
        w_adj  if edge prev→x exists     (α = 1,   d=1)
        w_out  otherwise                 (α = 1/q, d=2)

    i.e. p = w_adj/w_ret and q = w_adj/w_out — the defaults (1, 4, 16)
    are p=4, q=1/4: exploration-leaning (DFS-ish). Weights are INTEGERS
    by contract: the weighted draw is "r = hash mod Σw lands in x's
    cumulative slot", pure 64-bit integer math — exact, reproducible,
    and replayable by the DuckDB oracle, where the float alternative
    (exponential clocks, -ln(u)/w) would hit the cross-engine
    transcendental problem. Step 1 has no ``prev`` and is the uniform
    first-order pick, bit-identical to ``random_walks``'s step 1.

    Distribution shape per step: state ⋈ out-adjacency (fan-out Σ
    od(cur), the same cardinality any gather takes), one LEFT join
    against the edge set keyed (prev, x) for the d=1 test, and a
    per-walk window (partitioned by walk_id, bounded by max out-degree
    — never global) for the cumulative slot. The d=1 test uses the
    DIRECTED edge prev→x, the natural reading on a web graph. The §32
    shared-formula caveat applies: parity proves the decomposition, so
    the bias semantics get their own property test (pick frequencies
    proportional to weights)."""
    for w in (w_ret, w_adj, w_out):
        if not isinstance(w, int) or w <= 0:
            raise ValueError("node2vec_walks: weights must be positive "
                             "integers (the draw is integer-exact)")
    with cache_scope(edges.sparkSession) as keep:
        e = edges.select("src", "dst")
        w_src = Window.partitionBy("src").orderBy("dst")
        nbr = keep(
            e.select("src", "dst",
                     (F.row_number().over(w_src) - 1).alias("idx"))
            .repartition("src")
            .persist()
        )
        outd = nbr.groupBy("src").agg(F.count(F.lit(1)).alias("od"))

        starts = (
            nbr.select("src").distinct()
            .select(
                F.col("src").alias("cur"),
                F.explode(F.sequence(F.lit(0), F.lit(n_walks - 1))).alias("w"),
            )
            .select((F.col("cur") * n_walks + F.col("w")).alias("walk_id"),
                    "cur")
        )
        out = starts.select("walk_id", F.lit(0).alias("step"),
                            F.col("cur").alias("vertex"))

        def _hash(t: int):
            h = (
                F.col("cur") * F.lit(WALK_A)
                + F.col("walk_id") * F.lit(WALK_B)
                + F.lit(t * WALK_C + seed)
            ) % F.lit(WALK_P)
            return (h * F.lit(WALK_A) + F.lit(WALK_B)) % F.lit(WALK_P)

        # step 1: uniform, no prev — random_walks' formula verbatim
        state = (
            starts.join(outd.withColumnRenamed("src", "cur")
                        .hint("shuffle_hash"), "cur")
            .select("walk_id", "cur", (_hash(1) % F.col("od")).alias("pick"))
            .join(nbr.select(F.col("src").alias("cur"),
                             F.col("idx").alias("pick"),
                             F.col("dst").alias("nxt")), ["cur", "pick"])
            .select("walk_id", F.col("cur").alias("prev"),
                    F.col("nxt").alias("cur"))
        ).localCheckpoint(eager=True)
        out = out.unionAll(state.select("walk_id", F.lit(1).alias("step"),
                                        F.col("cur").alias("vertex")))

        adj = e.select(F.col("src").alias("prev"), F.col("dst").alias("x"),
                       F.lit(1).alias("is_adj"))
        w_walk = Window.partitionBy("walk_id").orderBy("idx")
        for t in range(2, length + 1):
            cand = (
                state.join(nbr.select(F.col("src").alias("cur"), "idx",
                                      F.col("dst").alias("x")), "cur")
                .join(adj, ["prev", "x"], "left")
                .select(
                    "walk_id", "prev", "cur", "idx", "x",
                    F.when(F.col("x") == F.col("prev"), F.lit(w_ret))
                    .when(F.col("is_adj").isNotNull(), F.lit(w_adj))
                    .otherwise(F.lit(w_out)).alias("wt"),
                )
            )
            cum = F.sum("wt").over(
                w_walk.rowsBetween(Window.unboundedPreceding, 0))
            tot = F.sum("wt").over(Window.partitionBy("walk_id"))
            r = _hash(t) % tot
            state = (
                cand.select("walk_id", "cur", "x", "wt",
                            cum.alias("cum"), r.alias("r"))
                .where((F.col("cum") - F.col("wt") <= F.col("r"))
                       & (F.col("r") < F.col("cum")))
                .select("walk_id", F.col("cur").alias("prev"),
                        F.col("x").alias("cur"))
            ).localCheckpoint(eager=True)
            out = out.unionAll(state.select("walk_id", F.lit(t).alias("step"),
                                            F.col("cur").alias("vertex")))
        return out.localCheckpoint(eager=True)


def negative_samples(edges: DataFrame, k: int = 3, oversample: int = 4,
                     seed: int = 7) -> DataFrame:
    """(src, dst, neg_rank): for every vertex with an out-edge, up to
    ``k`` deterministic NEGATIVE examples — vertices it does NOT link
    to — for contrastive link-prediction training (the corruption step
    of skip-gram negative sampling / margin losses, done once as data
    prep instead of per-batch).

    Distributed shape: proposal j ∈ [0, k·oversample) for source s is
    the counter hash scramble(s·A + j·B + seed) mod lim, where lim =
    max vertex id + 1 (one scalar aggregate, carried as a crossJoin'd
    1-row frame so the plan stays lazy). A
    proposal survives if it is a REAL vertex (semi-join against the
    vertex set — the id space has holes), isn't s itself, and isn't a
    true edge (anti-join on (src, dst)); the first k survivors by
    proposal order are kept via a per-src window bounded by
    k·oversample — never global. Every check is a key-partitioned join
    against data that is already shuffled on that key at training
    scale; nothing is collected.

    Deterministic in (edges, k, oversample, seed): re-runs and
    backfills emit identical negatives (the same reproducibility
    contract as ``random_walks``). Sources adjacent to almost the
    whole graph may yield fewer than k rows — oversample bounds that
    loss instead of looping. lim must stay < 2^31−1 per id-namespace
    fold (holds by construction for the mod-folded tables)."""
    e = edges.select("src", "dst")
    verts = (e.select(F.col("src").alias("id"))
             .union(e.select(F.col("dst").alias("id"))).distinct())
    lim = verts.agg((F.max("id") + 1).alias("lim"))
    m = k * oversample
    props = (
        e.select("src").distinct()
        .crossJoin(F.broadcast(lim))
        .select(
            "src",
            # long-typed sequence: the hash multiply needs 64-bit
            F.explode(F.sequence(F.lit(0).cast("long"),
                                 F.lit(m - 1).cast("long"))).alias("j"),
            "lim",
        )
    )
    h = (F.col("src") * F.lit(WALK_A) + F.col("j") * F.lit(WALK_B)
         + F.lit(seed)) % F.lit(WALK_P)
    h = (h * F.lit(WALK_A) + F.lit(WALK_B)) % F.lit(WALK_P)
    cand = (
        props.select("src", "j", (h % F.col("lim")).alias("dst"))
        .where(F.col("dst") != F.col("src"))
        .join(verts.withColumnRenamed("id", "dst"), "dst", "left_semi")
        .join(e, ["src", "dst"], "left_anti")
    )
    w_src = Window.partitionBy("src").orderBy("j")
    return (
        cand.select("src", "dst",
                    F.row_number().over(w_src).alias("neg_rank"))
        .where(F.col("neg_rank") <= k)
    )


def _sampled_adjacency(edges: DataFrame, f: int, seed: int, hop: int,
                       salts: int = 8) -> DataFrame:
    """Deterministic top-``f`` out-neighbors per vertex, ordered by the
    scrambled edge hash (h, dst) — the exact grouped top-k, computed
    SKEW-SAFELY in two phases: phase 1 ranks within (src, dst % salts)
    so no window frame ever holds more than outdeg/salts rows (salts
    scales with the hub degree at 100 TB), phase 2 ranks the <= f·salts
    survivors per src. Identical output to the naive per-src window
    (any global top-f row is also top-f inside its salt bucket)."""
    h = (
        F.col("src") * F.lit(WALK_A) + F.col("dst") * F.lit(WALK_B)
        + F.lit(seed + hop * WALK_C)
    ) % F.lit(WALK_P)
    h = (h * F.lit(WALK_A) + F.lit(WALK_B)) % F.lit(WALK_P)
    ranked = edges.select("src", "dst", h.alias("h"))
    w1 = Window.partitionBy("src", F.col("dst") % salts).orderBy("h", "dst")
    p1 = ranked.withColumn("rn", F.row_number().over(w1)).where(
        F.col("rn") <= f).drop("rn")
    w2 = Window.partitionBy("src").orderBy("h", "dst")
    return p1.withColumn("rn", F.row_number().over(w2)).where(
        F.col("rn") <= f).select("src", "dst")


def neighbor_sample(edges: DataFrame, f1: int = 3, f2: int = 2,
                    seed: int = 7) -> DataFrame:
    """(root, hop, src, dst): deterministic GraphSAGE-style fan-out
    sampling — every vertex's 2-hop training neighborhood, f1 sampled
    out-neighbors at hop 1 and f2 of EACH sampled neighbor's
    out-neighbors at hop 2.

    Sampling is shared per vertex (a vertex's hop-2 sample is a pure
    function of (vertex, seed, hop), not of the root that reached it) —
    the standard trick that turns per-root resampling (|V|·f1·f2 hash
    draws that all rehash the same hub adjacency) into two sampled
    adjacency TABLES and one join; at 10^12 docs the hop-2 frame is
    |sampled hop-1| ⋈ a <= f2-wide adjacency, both sides bounded.

    Scale shape: two salted grouped top-k passes over the edge scan
    (see `_sampled_adjacency`) and ONE hash join hop1.dst = adj2.src.
    Deterministic in (edges, seed): no RNG state, resumable anywhere."""
    s1 = _sampled_adjacency(edges, f1, seed, hop=1)
    s2 = _sampled_adjacency(edges, f2, seed, hop=2)
    hop1 = s1.select(
        F.col("src").alias("root"), F.lit(1).alias("hop"), "src", "dst")
    hop2 = (
        s1.select(F.col("src").alias("root"), F.col("dst").alias("v1"))
        .join(s2.select(F.col("src").alias("v1"), F.col("dst").alias("v2")),
              "v1")
        .select("root", F.lit(2).alias("hop"),
                F.col("v1").alias("src"), F.col("v2").alias("dst"))
    )
    return hop1.unionByName(hop2)
