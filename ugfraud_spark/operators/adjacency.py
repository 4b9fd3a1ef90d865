"""CSR-like adjacency blocks with explicit hub salting + block SpMV.

This is the north_star's physical layout for the iterative kernels:
edges are stored as hash-partitioned CSR-like adjacency blocks (grouped
struct arrays), hub vertices are salted/split across blocks, and each
superstep is a partition-local SpMV (Arrow-vectorized numpy over one
block) followed by a shuffle-reduce of the partial messages
(``groupBy(dst).sum`` with map-side combine).

Blocks shuffle the edges ONCE at build time; every superstep then moves
only the (|V|-sized) state into the (pre-partitioned) blocks and the
(≤|V|·fanout partial-aggregated) messages out. The join message step
``superstep._contribs`` moves the same two sides (its edges are pinned
on ``src`` by ``superstep.colocate_edges``), so blocks differ from it
in the per-block kernel, not in edge traffic. ``tests/test_adjacency.py``
checks ``spmv_arrow`` against that join step. Salting bounds the
largest block: a Zipfian hub whose out-edges would otherwise land in one
task is split into ``ceil(out_deg / hub_cap)`` salt groups, its state
value is replicated to each (the classic two-level partial/final
aggregation made explicit across the join, reference-free skew handling
the reference never needed at 38k nodes).

Partition width: ``n_blocks`` is the block-id (salt) domain, NOT the
partition count. The packed blocks and the routes are laid out at the
scoped ``spark.sql.shuffle.partitions`` (``pagerank_blocks`` runs the
build under ``sized_plan(spark, min(m, n_blocks))``), so several blocks
share one partition and one Python task of the per-superstep cogroup.
The block side stays exchange-free because the cogroup plans at that
same width.

Reference parity: the blocks are exactly the reference's adjacency dicts
``{u_id: [(p_id, …)]}`` (``/root/reference/UGFraud/Utils/helper.py:132-167``)
in columnar, partitioned form; ``spmv_arrow`` is its per-node neighbor
loop (``GANG.py:128``, ``ZooBP.py:144``) as one vectorized kernel.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BLOCK_SCHEMA = (
    "block_id int, srcs array<long>, dst_ids array<long>, "
    "dst_codes array<int>, weights array<double>"
)


@dataclass
class AdjacencyBlocks:
    """blocks(block_id, srcs, dst_ids, dst_codes, weights) — CSR-style:
    ``srcs``/``dst_codes``/``weights`` are parallel per-edge arrays
    sorted by (src, dst) inside each block, with the dst stored as an
    int32 CODE into the block's unique ``dst_ids``. The coding is done
    ONCE at build so the per-superstep kernel is a plain ``bincount``
    over codes — no O(E log E) ``np.unique`` sort inside the hot loop —
    and an int32 code crosses the Arrow boundary instead of an int64
    id. ``weights`` is stored EMPTY when every edge weight is 1.0 (the
    unweighted-web-graph common case): the kernel substitutes ones,
    and 8 bytes/edge/superstep never cross the JVM→Arrow boundary.
    routes(id, block_id) — the distinct (salted) block memberships of
    every src vertex."""

    blocks: DataFrame
    routes: DataFrame
    n_blocks: int


def build_adjacency_blocks(
    edges: DataFrame, n_blocks: int = 32, hub_cap: int = 100_000
) -> AdjacencyBlocks:
    """One-time layout shuffle: edges(src, dst[, weight]) → CSR blocks.

    ``salt = pmod(xxhash64(dst), ceil(out_deg(src)/hub_cap))`` splits a
    hub's edge list deterministically; ``block_id = pmod(xxhash64(src,
    salt), n_blocks)`` scatters the splits — ``n_blocks`` bounds the
    block-id domain only. The packed blocks are repartitioned on
    block_id to the scoped shuffle width (the width every later
    cogroup plans at) and pinned with ``persist()``: InMemoryRelation
    keeps the HashPartitioning visible, so EnsureRequirements elides the
    block-side exchange and the |E|-sized block payload never moves
    again. ``routes`` is pinned the same way on id. Persist, not
    ``localCheckpoint``, for ``superstep.colocate_edges``' reason (a
    checkpoint keeps its partitioning only when taken with AQE off).
    Both stay cached until the caller releases them
    (``pagerank_blocks`` keeps them in its scope).
    """
    w = (
        edges.select("src", "dst", "weight")
        if "weight" in edges.columns
        else edges.select("src", "dst", F.lit(1.0).alias("weight"))
    )
    deg = w.groupBy("src").agg(F.count(F.lit(1)).alias("_deg"))
    salted = (
        w.join(deg, "src")
        .withColumn(
            "_salt",
            F.pmod(
                F.xxhash64("dst"), F.ceil(F.col("_deg") / F.lit(hub_cap))
            ).cast("int"),
        )
        .withColumn(
            "block_id", F.pmod(F.xxhash64("src", "_salt"), F.lit(n_blocks)).cast("int")
        )
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["src", "dst"], kind="mergesort")
        dsts = pdf["dst"].to_numpy(dtype="int64")
        # dst coding happens ONCE here; every superstep then bincounts
        # over the codes instead of re-sorting the block's dst column
        dst_ids, dst_codes = np.unique(dsts, return_inverse=True)
        w = pdf["weight"].to_numpy(dtype="float64")
        if np.all(w == 1.0):  # unweighted: nothing to ship per superstep
            w = np.array([], dtype="float64")
        return pd.DataFrame(
            {
                "block_id": [int(pdf["block_id"].iloc[0])],
                "srcs": [pdf["src"].to_numpy(dtype="int64")],
                "dst_ids": [dst_ids],
                "dst_codes": [dst_codes.astype("int32")],
                "weights": [w],
            }
        )

    n_conf = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    blocks = (
        salted.select("block_id", "src", "dst", "weight")
        .groupBy("block_id")
        .applyInPandas(pack, schema=BLOCK_SCHEMA)
        # the pack UDF's output attrs are fresh, so the groupBy's own
        # hash partitioning is not provable on them — re-key once here
        # (one-time build cost) to make it visible through the cache
        .repartition(n_conf, "block_id")
        .persist()
    )
    blocks.count()
    # routes pinned as an id-partitioned cache: the colocate_edges
    # mechanism applied to the routing dim (a localCheckpoint taken
    # with AQE on re-exchanged the routes side every superstep)
    routes = (
        salted.select(F.col("src").alias("id"), "block_id")
        .distinct()
        .repartition(n_conf, "id")
        .persist()
    )
    routes.count()
    return AdjacencyBlocks(blocks=blocks, routes=routes, n_blocks=n_blocks)


def spmv_arrow(adj: AdjacencyBlocks, state: DataFrame) -> DataFrame:
    """One superstep: (id, c) state → (id, mass) where
    ``mass(v) = Σ_{(u,v)∈E} w(u,v) · c(u)``.

    Physical plan: state is routed to its salted blocks (join on id —
    state side is |V|, tiny next to |E|), cogrouped with the
    pre-partitioned blocks on block_id, reduced partition-locally with
    numpy inside Arrow (``np.bincount`` over block-local dst codes), and
    the per-block partials are shuffle-reduced by dst. Only state and
    partial messages move; the edge arrays stay put.

    The boundary is ``applyInArrow`` (north_star's literal kernel
    boundary): the block list arrays flatten to numpy ZERO-COPY from
    Arrow, and the state lookup is a sorted-array ``searchsorted``.
    Float summation order inside a block differs from the join message
    step ``superstep._contribs`` by ~1e-15; the two are asserted equal
    to 1e-12 in tests."""
    import pyarrow as pa

    # state side hinted shuffle_hash: the routes side arrives already
    # hash-partitioned on id from the pinned cache (exchange elided),
    # and a sort-merge join would re-sort both |V|-sized sides every
    # superstep for nothing
    routed = adj.routes.join(
        state.select("id", "c").hint("shuffle_hash"), "id"
    ).select("block_id", "id", "c")

    def kernel(block_tbl: "pa.Table", state_tbl: "pa.Table") -> "pa.Table":
        empty = pa.table(
            {"id": pa.array([], type=pa.int64()),
             "partial": pa.array([], type=pa.float64())}
        )
        if block_tbl.num_rows == 0 or state_tbl.num_rows == 0:
            return empty
        sid = state_tbl.column("id").to_numpy(zero_copy_only=False)
        sc = state_tbl.column("c").to_numpy(zero_copy_only=False)
        order = np.argsort(sid, kind="stable")
        sid, sc = sid[order], sc[order]

        def flat(name, dtype):
            arr = block_tbl.column(name).combine_chunks()
            return arr.flatten().to_numpy(zero_copy_only=False).astype(
                dtype, copy=False)

        # rows of a block group are independent edge segments; the dst
        # partial sum is associative, so flatten them all and reduce
        # once. Per-row dst codes index that ROW's dst_ids, so flattened
        # codes get the row's cumulative dst_ids offset added (a block
        # group normally holds exactly one row, making this a no-op).
        srcs = flat("srcs", "int64")
        ids_arr = block_tbl.column("dst_ids").combine_chunks()
        codes_arr = block_tbl.column("dst_codes").combine_chunks()
        ids_flat = ids_arr.flatten().to_numpy(zero_copy_only=False).astype(
            "int64", copy=False)
        codes = codes_arr.flatten().to_numpy(zero_copy_only=False).astype(
            "int64", copy=True)
        if block_tbl.num_rows > 1:
            id_lens = np.asarray(ids_arr.value_lengths(), dtype="int64")
            code_lens = np.asarray(codes_arr.value_lengths(), dtype="int64")
            offsets = np.concatenate(([0], np.cumsum(id_lens)[:-1]))
            codes += np.repeat(offsets, code_lens)
        ws = flat("weights", "float64")
        if len(ws) == 0:
            # unit-weight blocks ship an EMPTY weights array (build-time
            # elision: 8 fewer bytes/edge/superstep over Arrow)
            ws = np.ones(len(srcs))
        elif len(ws) != len(srcs):
            # a group mixing weighted and unit-elided rows flattens
            # ragged; pack() emits one row per block so this is
            # unreachable from build_adjacency_blocks — fail loudly
            # rather than mis-assign weights
            raise ValueError(
                f"spmv_arrow: ragged weights ({len(ws)} for {len(srcs)} "
                "edges) — mixed unit/weighted rows in one block group")
        # absent state = contribution 0 (same per-dst sums as a mask)
        pos = np.searchsorted(sid, srcs)
        pos_c = np.minimum(pos, len(sid) - 1)
        c = np.where(sid[pos_c] == srcs, sc[pos_c], 0.0)
        partial = np.bincount(codes, weights=ws * c, minlength=len(ids_flat))
        return pa.table(
            {"id": pa.array(ids_flat, type=pa.int64()),
             "partial": pa.array(partial, type=pa.float64())}
        )

    partials = (
        adj.blocks.groupby("block_id")
        .cogroup(routed.groupby("block_id"))
        .applyInArrow(kernel, schema="id long, partial double")
    )
    return partials.groupBy("id").agg(F.sum("partial").alias("mass"))
