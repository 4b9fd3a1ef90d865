"""The benchmark's workloads: what one pass runs and how its outputs are
checked.

Every workload is a closed loop with one client: one driver process runs
its queries one after another and consumes each output in full (see
``digest``) before the next starts.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import datagen, reference

PROBE_EDGES = 200_000  # edges of the seeded Zipf probe graph
SF = 0.001  # scale factor of the generated tables
PROBE_TOL = 1e-6
PROBE_MAX_ITER = 100
PROBE_CHECKPOINT_EVERY = 6  # as bench.py's convergence run
TOP_K = 20
BLOCKS_ITERS = 2


@dataclass
class Inputs:
    spark: SparkSession
    seed: int
    work: str  # scratch directory of this run, inside the checkout
    sf_dir: str | None = None
    side: dict = field(default_factory=dict)  # per-run state shared by hooks


@dataclass
class Query:
    name: str
    build: Callable[[Inputs], DataFrame]
    # expected output rows, as a Spark frame with the query's columns
    expected: Callable[[Inputs, DataFrame], DataFrame]
    reference: str
    # optional extra consumption inside the pass and its check
    extra: Callable[[Inputs, DataFrame], dict] | None = None
    check_extra: Callable[[Inputs, dict], bool] | None = None


@dataclass
class Workload:
    name: str
    queries: list[Query]
    prepare: Callable[[Inputs], None]
    # engine derivations (functions of sources.tables) the queries use;
    # the traced run measures each one on its own
    derivations: list[str] = field(default_factory=list)


def _registry_query(name: str, table_names: list[str]) -> Query:
    """A query of the engine's registry, checked against its DuckDB oracle
    rendered for the generated scale."""

    def entry(inp: Inputs):
        from ugfraud_spark import registry
        from ugfraud_spark.sources import tables

        reg = inp.side.get("registry")
        if reg is None:
            reg = registry.build_registry(uni_mod=tables.uni_mod_for(inp.sf_dir))
            inp.side["registry"] = reg
        return reg[name]

    def build(inp: Inputs) -> DataFrame:
        return entry(inp)[0](inp.spark, inp.sf_dir)

    def expected(inp: Inputs, out: DataFrame) -> DataFrame:
        pdf = reference.duckdb_oracle(entry(inp)[1], inp.sf_dir, table_names)
        return _to_spark(inp.spark, pdf, out)

    return Query(name, build, expected, "duckdb oracle")


def _to_spark(spark: SparkSession, pdf, like: DataFrame) -> DataFrame:
    from .digest import conform

    if len(pdf) == 0:
        return spark.createDataFrame([], like.schema)
    return conform(spark.createDataFrame(pdf), like)


def _rounded(spark: SparkSession, pdf, like: DataFrame, col: str) -> DataFrame:
    """Reference rows rounded like the registry's ``_round6``."""
    df = _to_spark(spark, pdf, like)
    return df.withColumn(col, F.round(F.col(col), 6))


def _fraudar() -> Query:
    q = _registry_query("fraudar_scores", ["lineitem"])

    def expected(inp: Inputs, out: DataFrame) -> DataFrame:
        pdf = reference.fraudar_np(reference.bipartite_np(inp.sf_dir))
        return _rounded(inp.spark, pdf, out, "score")

    return Query(q.name, q.build, expected, "numpy greedy peel")


def _svd() -> Query:
    q = _registry_query("svd_user_norms", ["lineitem"])

    def expected(inp: Inputs, out: DataFrame) -> DataFrame:
        pdf = reference.svd_norms_np(reference.bipartite_np(inp.sf_dir))
        return _rounded(inp.spark, pdf, out, "norm")

    return Query(q.name, q.build, expected, "numpy dense SVD")


def _pagerank_blocks() -> Query:
    """The CSR-block PageRank (Arrow SpMV) for a fixed two supersteps —
    the registry query runs five, which costs more than the run budget
    allows; the layout build and per-superstep path are the same."""

    def build(inp: Inputs) -> DataFrame:
        from ugfraud_spark.operators import pagerank
        from ugfraud_spark.sources import tables

        res = pagerank.pagerank_blocks(tables.uni_edges_directed(inp.spark, inp.sf_dir),
                                       max_iter=BLOCKS_ITERS, n_blocks=16)
        return res.state.select("id", F.round("value", 6).alias("pagerank"))

    def expected(inp: Inputs, out: DataFrame) -> DataFrame:
        from ugfraud_spark.sources import tables

        e = reference.uni_directed_np(inp.sf_dir, tables.uni_mod_for(inp.sf_dir))
        pdf, _ = reference.pagerank_np(e["src"].to_numpy(), e["dst"].to_numpy(),
                                       tol=0.0, max_iter=BLOCKS_ITERS)
        return _rounded(inp.spark, pdf.rename(columns={"value": "pagerank"}),
                        out, "pagerank")

    return Query("pagerank_blocks_2", build, expected, "numpy power iteration")


def _tables_prepare(sf: float, table_names: list[str]) -> Callable[[Inputs], None]:
    def prepare(inp: Inputs) -> None:
        inp.sf_dir = datagen.write_tables(os.path.join(inp.work, "data"), sf,
                                          inp.seed, table_names)

    return prepare


def _probe(n_edges: int) -> tuple[Query, Callable[[Inputs], None]]:
    """PageRank to 1e-6 with durable checkpoints on a seeded Zipf graph
    (``tables.synthetic_web_edges``): superstep-loop bound, no parquet
    scan, no Python UDF. Returns the query and its prepare hook."""
    n_vertices = max(n_edges // 16, 2)

    def edges(inp: Inputs) -> DataFrame:
        from ugfraud_spark.sources import tables

        return tables.synthetic_web_edges(inp.spark, n_edges, n_vertices,
                                          seed=inp.seed)

    def prepare(inp: Inputs) -> None:
        inp.side["edges"] = edges(inp).count()

    def build(inp: Inputs) -> DataFrame:
        from ugfraud_spark.operators import pagerank

        ckpt = os.path.join(inp.work, "checkpoints")
        shutil.rmtree(ckpt, ignore_errors=True)  # the last pass's, not resumed
        res = pagerank.pagerank(
            edges(inp), max_iter=PROBE_MAX_ITER, tol=PROBE_TOL,
            checkpoint_every=PROBE_CHECKPOINT_EVERY, checkpoint_dir=ckpt)
        inp.side["result"] = res
        return res.state

    def extra(inp: Inputs, ranks: DataFrame) -> dict:
        res = inp.side.pop("result")
        top = (ranks.orderBy(F.desc("value"), F.asc("id")).limit(TOP_K)
               .collect())
        return {"iterations": res.iterations, "loop_s": res.wall_seconds,
                "top": [(r["id"], r["value"]) for r in top]}

    def numpy_ranks(inp: Inputs):
        if "numpy" not in inp.side:
            pdf = edges(inp).select("src", "dst").toPandas()
            inp.side["numpy"] = reference.pagerank_np(
                pdf["src"].to_numpy(), pdf["dst"].to_numpy(),
                tol=PROBE_TOL, max_iter=PROBE_MAX_ITER)
        return inp.side["numpy"]

    def expected(inp: Inputs, out: DataFrame) -> DataFrame:
        return _to_spark(inp.spark, numpy_ranks(inp)[0], out)

    def check_extra(inp: Inputs, got: dict) -> bool:
        import math

        ranks, iters = numpy_ranks(inp)
        top = ranks.sort_values(["value", "id"], ascending=[False, True]).head(TOP_K)
        return (got["iterations"] == iters
                and [i for i, _ in got["top"]] == top["id"].tolist()
                and all(math.isclose(v, w, rel_tol=1e-6)
                        for (_, v), w in zip(got["top"], top["value"])))

    return (Query("probe_pagerank_1e-6", build, expected, "numpy power iteration",
                  extra, check_extra), prepare)


# one cheap leaf per pipeline layer: operators.dedup, streaming.events,
# functions.text, operators.ann, operators.multimodal
CORPUS_QUERIES = ["dedup_exact", "sessionize", "text_features",
                  "ann_cosine_topk", "multimodal_decode"]
CORPUS_TABLES = ["documents", "events", "embeddings"]


def workloads() -> dict[str, Workload]:
    """Why each workload exists: perfbench/README.md and BENCHMARK.json."""
    probe, probe_prepare = _probe(PROBE_EDGES)
    link_tables = _tables_prepare(SF, ["lineitem"])

    def link_prepare(inp: Inputs) -> None:
        link_tables(inp)
        probe_prepare(inp)

    link = Workload(
        "link",
        [probe, _pagerank_blocks()],
        link_prepare,
        derivations=["uni_edges_directed"],
    )
    fraud_corpus = Workload(
        "fraud_corpus",
        [_fraudar(), _svd()]
        + [_registry_query(q, CORPUS_TABLES) for q in CORPUS_QUERIES],
        _tables_prepare(SF, ["lineitem", *CORPUS_TABLES]),
        derivations=["bipartite_edges"],
    )
    return {w.name: w for w in (link, fraud_corpus)}
