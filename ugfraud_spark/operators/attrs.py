"""Attribute filter / projection / index operators (reference P1–P4, W3).

Reference: ``/root/reference/UGFraud/Utils/helper.py:277-360`` —
``node_attr_filter`` / ``edge_attr_filter`` (σ on one attribute, π of
another) and ``get_node_attributes_index`` / ``get_edge_attributes_index``
(inverted index attr-value → [ids], i.e. GROUP BY + collect_list);
``Detector/Fraudar.py:180-191`` ``subsetAboveDegree`` (keep matrix rows /
cols whose degree exceeds a threshold); ``helper.py:71-74,99-107``
rank-based min/median/max extraction.

Spark-first: plain filters/projections (predicate pushdown reaches the
parquet scan), semi-joins against degree aggregates, and
``sort_array(collect_list(...))`` for the inverted index — emitted as a
CSV string so the cross-engine value hash is total-order stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def node_attr_filter(vertices: DataFrame, where_attr: str, where_val,
                     project_attr: str) -> DataFrame:
    """σ(where_attr = where_val), π(id, project_attr) over vertices —
    ``helper.py:315-336`` as one pushdown-able filter+project."""
    return vertices.where(F.col(where_attr) == F.lit(where_val)).select(
        "id", project_attr
    )


def edge_attr_filter(edges: DataFrame, where_attr: str, where_val,
                     project_attr: str) -> DataFrame:
    """σ/π over edges keyed (src, dst) — ``helper.py:339-360``."""
    return edges.where(F.col(where_attr) == F.lit(where_val)).select(
        "src", "dst", project_attr
    )


def node_attr_index(vertices: DataFrame, attr: str,
                    id_col: str = "id") -> DataFrame:
    """Inverted index attr-value → sorted id list (``helper.py:277-312``),
    as (attr, n_ids, ids_csv). collect_list is bounded per group by the
    attribute's cardinality spread; for web-scale attrs with giant groups
    callers should keep the exploded (attr, id) form instead — this
    materialized-list form mirrors the reference's dict shape."""
    return vertices.groupBy(F.col(attr).alias("attr")).agg(
        F.count(F.lit(1)).alias("n_ids"),
        F.array_join(F.sort_array(F.collect_list(F.col(id_col))), ",").alias(
            "ids_csv"
        ),
    )


def edge_attr_index(edges: DataFrame, attr: str) -> DataFrame:
    """Edge-side inverted index (``helper.py:294-312``
    ``get_edge_attributes_index``): attr-value → list of (src, dst)
    pairs, as (attr, n_ids, ids_csv) with pairs rendered ``src:dst`` in
    (src, dst) order so the cross-engine hash is stable. Same
    giant-group caveat as node_attr_index."""
    return edges.groupBy(F.col(attr).cast("string").alias("attr")).agg(
        F.count(F.lit(1)).alias("n_ids"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct(F.col("src"), F.col("dst")))),
                lambda s: F.concat(
                    s["src"].cast("string"), F.lit(":"), s["dst"].cast("string")
                ),
            ),
            ",",
        ).alias("ids_csv"),
    )


def subset_above_degree(edges: DataFrame, src_min_deg: int,
                        dst_min_deg: int) -> DataFrame:
    """Keep edges whose src out-degree > src_min_deg AND dst in-degree >
    dst_min_deg (``Fraudar.py:180-191``). Two degree aggregates + two
    semi-joins (broadcast when the surviving id set is small)."""
    od = (
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        .where(F.col("d") > src_min_deg)
        .select("src")
    )
    idg = (
        edges.groupBy("dst").agg(F.count(F.lit(1)).alias("d"))
        .where(F.col("d") > dst_min_deg)
        .select("dst")
    )
    return (
        edges.join(od, "src", "left_semi")
        .join(idg, "dst", "left_semi")
        .select("src", "dst")
    )


def semi_supervised_sample(labeled: DataFrame, frac: float,
                           label_col: str = "label") -> DataFrame:
    """Reference P5 ``semi_data`` (``Detector/GANG.py:12-36``): sample a
    fraction of each label stratum as the semi-supervised seed set. The
    reference uses unseeded ``random.sample``; pinned here (SURVEY §7) to
    the first ⌈frac·n⌉ ids of each stratum in Knuth-hash order — the
    identical ordering is expressible in the SQL oracle, and sampling
    stays deterministic across cluster sizes."""
    from pyspark.sql import Window

    from ..sources.tables import PRIOR_MOD, PRIOR_MULT

    w = Window.partitionBy(label_col).orderBy(
        F.pmod(F.col("id") * PRIOR_MULT, F.lit(PRIOR_MOD)), F.col("id")
    )
    cnt = Window.partitionBy(label_col)
    return (
        labeled.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(cnt))
        .where(F.col("_rn") <= F.ceil(F.col("_n") * frac))
        .drop("_rn", "_n")
    )


def running_sums(df: DataFrame, key: str,
                 cols: list[str]) -> tuple[DataFrame, dict[str, int]]:
    """``df`` with ``_cum_<c>`` for each ``c`` in ``cols``: the sum of
    ``c`` over every row whose ``key`` is ≤ this row's (``key`` must
    be unique), plus each column's grand total.

    Two-phase, never a global single-task ``Window.orderBy`` (for a
    continuous key |distinct| ≈ |rows| and a single-task sort dies at
    web scale): range-partition on ``key`` at the session width, pin
    the partitioning with a localCheckpoint, collect one sum row per
    partition, and add each partition's offset (a tiny broadcast join)
    to a partition-local running window. The same pattern as
    ``linalg.dense_col_index``."""
    from pyspark.sql import Window

    g = (
        df.repartitionByRange(key)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)  # pin partitioning for both consumers
    )
    parts = sorted(
        g.groupBy("_pid").agg(*[F.sum(c).alias(c) for c in cols]).collect(),
        key=lambda r: r["_pid"],
    )
    offs, acc = [], [0] * len(cols)
    for r in parts:
        offs.append((r["_pid"], *acc))
        acc = [a + r[c] for a, c in zip(acc, cols)]
    types = "".join(f", _off_{c} {df.schema[c].dataType.simpleString()}"
                    for c in cols)
    off_df = df.sparkSession.createDataFrame(offs, "_pid int" + types)
    w = (
        Window.partitionBy("_pid").orderBy(key)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = g.join(F.broadcast(off_df), "_pid").select(
        *df.columns,
        *[(F.col(f"_off_{c}") + F.sum(c).over(w)).alias(f"_cum_{c}")
          for c in cols],
    )
    return out, dict(zip(cols, acc))


def rank_stats(values: DataFrame, col: str) -> DataFrame:
    """(min_v, med_v, max_v): the reference's rank-based extraction
    (``helper.py:71-74,99-107``) — its "mean" is the middle *element* of
    the sorted list (``ranked[int(len/2)]``), i.e. the upper median, not
    the arithmetic mean. min/max are plain aggregates; the median element
    is picked from the running count over the distinct values
    (``running_sums``) to match the reference's integer indexing
    exactly."""
    g, tot = running_sums(
        values.groupBy(F.col(col).alias("v")).agg(F.count(F.lit(1)).alias("c")),
        "v", ["c"])
    mid = tot["c"] // 2  # 0-based index int(len/2), matching the reference
    med = (
        g.where(F.col("_cum_c") > mid)  # smallest v whose cum count ≥ mid+1
        .orderBy("v")
        .limit(1)
        .select(F.col("v").alias("med_v"))
    )
    mm = values.agg(
        F.min(col).alias("min_v"), F.max(col).alias("max_v")
    )
    return mm.crossJoin(med).select("min_v", "med_v", "max_v")


def grouped_percentiles(df: DataFrame, group_col: str, val_col: str,
                        ps: list[float]) -> DataFrame:
    """Exact per-group percentiles (linear interpolation — the
    np.percentile / SQL ``quantile_cont`` definition) WITHOUT buffering
    any group's values: aggregate to a (group, value)-histogram first
    (map-side combined; its size is groups x distinct values, not
    rows), cumulative-count it with a group-partitioned window (never
    a global order), and read each percentile off the cumulative
    distribution — the k-th (0-based) order statistic is the least
    value whose cumulative count reaches k+1, and the interpolated
    percentile blends the two straddling order statistics. Per-task
    memory is one group's DISTINCT-value histogram — for bounded
    integer features this is tiny at any corpus size (a continuous
    value column would instead use the rank_stats range-partition
    pattern above)."""
    from pyspark.sql import Window

    # NULL values are excluded up front (matching SQL quantile_cont /
    # np.percentile-over-non-null semantics); left in, they would form
    # their own histogram row and shift every order statistic
    hist = (
        df.where(F.col(val_col).isNotNull())
        .groupBy(group_col, val_col).agg(F.count(F.lit(1)).alias("_c"))
    )
    wcum = (
        Window.partitionBy(group_col).orderBy(val_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        hist.withColumn("_cum", F.sum("_c").over(wcum))
        .withColumn("_tot", F.sum("_c").over(Window.partitionBy(group_col)))
    )
    v = F.col(val_col).cast("double")
    aggs = [F.first("_tot").alias("_tot")]
    for i, p in enumerate(ps):
        r = (F.col("_tot") - 1) * F.lit(float(p))
        aggs.append(F.min(F.when(F.col("_cum") >= F.floor(r) + 1, v))
                    .alias(f"_vlo{i}"))
        aggs.append(F.min(F.when(F.col("_cum") >= F.ceil(r) + 1, v))
                    .alias(f"_vhi{i}"))
    g = cum.groupBy(group_col).agg(*aggs)
    out_cols = [F.col(group_col), F.col("_tot").alias("n_rows")]
    for i, p in enumerate(ps):
        r = (F.col("_tot") - 1) * F.lit(float(p))
        frac = r - F.floor(r)
        out_cols.append(
            F.round(F.col(f"_vlo{i}")
                    + frac * (F.col(f"_vhi{i}") - F.col(f"_vlo{i}")), 6)
            .alias(f"p{int(round(p * 100))}")
        )
    return g.select(*out_cols)
