"""Physical-plan shape guards for the round-4 de-shuffle work.

PLANS.md's claims are read off .explain() by hand; these tests pin the
load-bearing ones so a refactor can't silently reintroduce the shuffle
(the round-3 dedup regression was exactly that class of change).
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from ugfraud_spark.operators import ann, dedup


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_shingles_plan_is_narrow(spark):
    """shingles() must stay a pure narrow map: no Exchange (shuffle), no
    Window sort — the r3 posexplode+lead formulation shuffled every
    token in the corpus (VERDICT r3 #3)."""
    plan = _plan(dedup.shingles(_docs(spark, ["a b c d e", "x y z"])))
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan
    assert "Generate" in plan  # the explode is the only row-expander


def test_minhash_plan_has_one_shuffle(spark):
    """MinHash = narrow shingle map + ONE groupBy with a map-side
    partial aggregate below the exchange."""
    import re

    plan = _plan(dedup.minhash_signatures(_docs(spark, ["a b c d e"])))
    # "(n) Exchange" appears once per physical node in the detail section
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    aggs = re.findall(r"\(\d+\) (?:Sort|Hash)Aggregate", plan)
    assert len(aggs) == 2, plan  # partial below the shuffle, final above


def test_lsh_buckets_plan_dim_independent(spark):
    """lsh_buckets computes plane signs inline from (plane, dim-index):
    the plan must carry NO shuffle and must be the same shape at any
    embedding dimension (no per-dim literal arrays, no driver dim probe
    — VERDICT r3 #8)."""
    import string

    def emb(dim):
        return spark.createDataFrame(
            [(i, [float(i + d) for d in range(dim)]) for i in range(4)],
            "vec_id long, embedding array<double>",
        )

    p4 = _plan(ann.lsh_buckets(emb(4)))
    p64 = _plan(ann.lsh_buckets(emb(64)))
    assert "Exchange" not in p4
    # strip plan ids/digits: identical structure regardless of dim
    tr = str.maketrans("", "", string.digits)
    assert p4.translate(tr) == p64.translate(tr)


def test_repetition_plan_is_pure_projection(spark):
    """repetition_exprs folds everything inside the row (array_distinct
    / zip_with / sorted-run aggregate): the plan must carry NO Exchange,
    NO Window, NO Generate — scan-speed at any corpus size."""
    from ugfraud_spark.functions import text as tx

    docs = _docs(spark, ["a a b", "x x x x"])
    exprs = tx.repetition_exprs(F.col("text"))
    plan = _plan(docs.select("doc_id",
                             *[c.alias(n) for n, c in exprs.items()]))
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan
    assert "Generate" not in plan, plan


def test_corpus_sample_plan_broadcasts_rates(spark):
    """corpus_sample joins a configuration-sized rate dim: the plan must
    use a broadcast join and carry no shuffle Exchange of the corpus
    (BroadcastExchange of the dim is the only exchange allowed)."""
    from ugfraud_spark.operators import mix

    docs = spark.createDataFrame(
        [(1, "t", "en", "s"), (2, "t", "de", "s")],
        "doc_id long, text string, lang string, source string",
    )
    plan = _plan(mix.corpus_sample(docs, {"en": 0.5}, default_rate=0.25))
    assert "BroadcastHashJoin" in plan, plan
    import re

    shuffles = [l for l in re.findall(r"\(\d+\) \w*Exchange\w*", plan)
                if "Broadcast" not in l]
    assert not shuffles, plan


def test_block_spmv_edge_side_stays_put(spark):
    """The per-superstep cogroup must read the cached CSR blocks
    WITHOUT an Exchange above them: the one-time build repartitions on
    block_id and persists, so EnsureRequirements sees the partitioning
    and only the state-sized routed side shuffles each superstep. (A
    localCheckpoint taken with AQE on scans as
    ExistingRDD[UnknownPartitioning] and silently re-shuffles the |E|
    payload every iteration.)"""
    from ugfraud_spark.operators.adjacency import (
        build_adjacency_blocks,
        spmv_arrow,
    )

    edges = spark.createDataFrame(
        [(i % 7, (i * 3) % 11) for i in range(60)], "src long, dst long"
    ).where("src != dst")
    adj = build_adjacency_blocks(edges, n_blocks=4)
    state = adj.routes.select("id").distinct().withColumn("c", F.lit(1.0))
    plan = spmv_arrow(adj, state)._jdf.queryExecution().executedPlan().toString()
    cogroup_at = plan.find("FlatMapCoGroupsInArrow")
    assert cogroup_at >= 0, plan
    block_branch = plan[cogroup_at:plan.find("InMemoryTableScan")]
    assert "Exchange" not in block_branch, plan
    adj.blocks.unpersist()


def test_sssp_superstep_edge_side_stays_put(spark):
    """sssp_weighted's per-superstep gather must probe the colocated
    edge cache without re-shuffling it: ShuffledHashJoin whose edge
    branch is a bare InMemoryTableScan (no Exchange between them), so
    only the frontier-sized state side moves each round — same contract
    test_block_spmv pins for the CSR path."""
    from ugfraud_spark.operators.superstep import colocate_edges

    edges_w = spark.createDataFrame(
        [(i % 7, (i * 3) % 11, 1 + (i % 5)) for i in range(60)],
        "src long, dst long, w long",
    ).where("src != dst")
    ew = colocate_edges(edges_w)
    state = spark.createDataFrame([(0, 0, 0)], "id long, dist long, upd int")
    relaxed = (
        ew.join(
            state.where(F.col("upd") == 0)
            .select(F.col("id").alias("src"), "dist").hint("shuffle_hash"),
            "src",
        )
        .select(F.col("dst").alias("id"),
                (F.col("dist") + F.col("w")).alias("dist"),
                F.lit(1).alias("upd"))
    )
    plan = relaxed._jdf.queryExecution().executedPlan().toString()
    join_at = plan.find("ShuffledHashJoin")
    assert join_at >= 0, plan
    edge_branch = plan[join_at:plan.find("InMemoryTableScan")]
    assert "Exchange" not in edge_branch, plan
    ew.unpersist()


@pytest.mark.parametrize("weighted", [False, True], ids=["unweighted", "w"])
def test_pagerank_message_step_edge_side_stays_put(spark, weighted):
    """The shared message step (``_contribs``: the PageRank family, HITS,
    eigenvector centrality, SALSA, BiRank) must probe the colocated edge
    cache without re-shuffling it: a ShuffledHashJoin whose edge branch
    is a bare InMemoryTableScan, so only the |V|-sized state side moves
    each superstep. A ``w`` edge column (pagerank_weighted, BiRank) must
    not change that."""
    from ugfraud_spark.operators.superstep import _contribs, colocate_edges

    edges = spark.createDataFrame(
        [(i % 7, (i * 3) % 11, 1.0 + i % 5) for i in range(60)],
        "src long, dst long, w double",
    ).where("src != dst")
    ec = colocate_edges(edges if weighted else edges.select("src", "dst"))
    state = spark.createDataFrame(
        [(i, 1.0, 2) for i in range(7)], "id long, value double, out_deg long")
    msgs = _contribs(ec, state, {"mass": F.col("value") / F.col("out_deg")})
    plan = msgs._jdf.queryExecution().executedPlan().toString()
    join_at = plan.find("ShuffledHashJoin")
    assert join_at >= 0, plan
    edge_branch = plan[join_at:plan.find("InMemoryTableScan")]
    assert "Exchange" not in edge_branch, plan
    ec.unpersist()


def test_pack_sequences_no_corpus_single_partition(spark):
    """The two-phase prefix sum: the ONLY SinglePartition exchange in
    the plan feeds the tiny per-bucket-totals window (bounded by
    |corpus|/bucket rows), the corpus-side window runs partitioned by
    bucket, and the offsets ride back on a broadcast join — the naive
    ``SUM OVER (ORDER BY doc_id)`` corpus-wide SinglePartition window
    must never reappear."""
    import re

    from ugfraud_spark.operators import packing

    df = packing.pack_sequences(
        _docs(spark, [f"t {i}" for i in range(8)]), budget=4, bucket_docs=2
    )
    plan = _plan(df)
    singles = re.findall(r"SinglePartition", plan)
    assert len(singles) == 1, plan  # the bucket-totals window only
    assert re.search(r"hashpartitioning\(bkt", plan), plan
    assert "BroadcastExchange" in plan, plan


def test_epoch_shuffle_no_corpus_single_partition(spark):
    """Range-bucketed two-phase ranking: the only SinglePartition in
    the plan is the tiny bucket-counts window; the corpus-side
    row_number runs partitioned by range bucket."""
    import re

    from ugfraud_spark.operators import shuffle

    plan = _plan(shuffle.epoch_shuffle(
        _docs(spark, [f"d {i}" for i in range(8)]), n_buckets=4))
    assert len(re.findall(r"SinglePartition", plan)) == 1, plan
    assert re.search(r"hashpartitioning\(bkt", plan), plan
    assert "BroadcastExchange" in plan, plan


def test_quality_filter_scan_prunes_columns(spark, sf_small):
    """quality_filter over the parquet documents table must push column
    pruning into the scan: ReadSchema carries ONLY (doc_id, text) of
    the table's five columns — at 100 TB the other columns never leave
    the files."""
    import re

    from ugfraud_spark.operators import quality

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    plan = _plan(quality.quality_filter(docs))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"doc_id", "text"}, cols


def test_grouped_split_plan_is_narrow(spark):
    """grouped_split must stay a pure narrow projection — no Exchange,
    no aggregation: the leakage-safe split is per-ROW arithmetic on
    the group hash, so it runs at scan speed on any corpus size."""
    from ugfraud_spark.operators import mix

    docs = spark.createDataFrame(
        [(1, "a.com"), (2, "b.com")], "doc_id long, source string")
    plan = _plan(mix.grouped_split(docs))
    assert "Exchange" not in plan, plan
    assert "Aggregate" not in plan, plan


def test_attribution_gap_stays_jvm_side(spark):
    """The interval-join attribution plan must contain no Python UDF
    (BatchEvalPython) and no cartesian product — the time bound plus
    the user_id equi-key keep it a real join."""
    from ugfraud_spark.streaming import events as se

    import datetime as dt

    ev = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 0, 0), 7, "click"),
         (2, dt.datetime(2024, 1, 1, 0, 10), 7, "purchase")],
        "event_id long, ts timestamp, user_id long, event_type string")
    plan = _plan(se.purchase_attribution(
        ev.where("event_type = 'purchase'"),
        ev.where("event_type = 'click'")))
    assert "BatchEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_skipgram_pairs_plan_one_shuffle(spark):
    """skipgram_pairs forms pairs in pure array expressions: exactly
    ONE Exchange (the vocabulary-count groupBy) with a map-side
    partial aggregate below it — no Window, no posexplode shuffle."""
    import re

    from ugfraud_spark.operators import lmscore

    plan = _plan(lmscore.skipgram_pairs(
        _docs(spark, ["a b c d e", "x y z"]), window=3, min_count=1))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "Window" not in plan, plan
    aggs = re.findall(r"\(\d+\) (?:Sort|Hash)Aggregate", plan)
    assert len(aggs) == 2, plan


def test_robots_admission_plan_broadcasts_rules(spark):
    """The rule table must ride a BroadcastExchange into the match
    join; the only shuffle Exchange is the per-URL max_by groupBy."""
    import re

    from ugfraud_spark.operators import robots

    docs = spark.createDataFrame(
        [(i, "t", "en", f"src{i % 20}", 1) for i in range(50)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    plan = _plan(robots.robots_admission_demo(docs))
    assert "BroadcastExchange" in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_snapshot_delta_plan_no_singlepartition(spark):
    """The diff is one hash join on doc_id: no SinglePartition
    exchange, no Window, no sort-merge of raw text (fingerprints only
    cross the shuffle)."""
    from ugfraud_spark.operators import crawl

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(20)], "doc_id long, text string")
    plan = _plan(crawl.crawl_delta_demo(docs))
    assert "SinglePartition" not in plan, plan
    assert "Window" not in plan, plan


def test_butterflies_plan_equi_join(spark):
    """The wedge join must plan as a hash equi-join on the product
    key — never a BroadcastNestedLoop/Cartesian from the inequality."""
    from ugfraud_spark.operators.triangles import butterflies

    bip = spark.createDataFrame(
        [(u, p, 1.0, 1) for u in range(6) for p in range(4)],
        "src long, dst long, weight double, sign int")
    plan = _plan(butterflies(bip))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_host_mirror_pairs_plan_equi_join(spark):
    """Same guard for the mirror-pair posting self-join."""
    from ugfraud_spark.operators.crawl import host_mirror_pairs

    docs = spark.createDataFrame(
        [(i, f"t{i % 7}") for i in range(40)], "doc_id long, text string")
    plan = _plan(host_mirror_pairs(docs))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


@pytest.mark.parametrize("aqe", ["false", "true"])
def test_local_checkpoint_keeps_partitioning_only_with_aqe_off(spark, aqe):
    """A local checkpoint keeps its hash partitioning only when it is
    taken with AQE off: a ``groupBy(k)`` over ``repartition(4, k)
    .localCheckpoint()`` plans no Exchange with AQE off and one with
    AQE on (the checkpoint then scans as UnknownPartitioning). The
    sized kernels' layouts run in both modes, which is why they
    persist (``superstep.colocate_edges``); a Spark upgrade that
    changes either half fails here."""
    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    prev = [spark.conf.get(k) for k in keys]
    try:
        spark.conf.set(keys[0], aqe)
        spark.conf.set(keys[1], "4")
        ck = (spark.range(1000).select((F.col("id") % 37).alias("k"))
              .repartition(4, "k").localCheckpoint(eager=True))
        plan = (ck.groupBy("k").count()._jdf.queryExecution()
                .executedPlan().toString())
    finally:
        for k, v in zip(keys, prev):
            spark.conf.set(k, v)
    assert ("Exchange" in plan) == (aqe == "true"), plan
