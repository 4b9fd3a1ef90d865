"""Structured Streaming surface over the ``events`` table.

The reference has no streaming (SURVEY §2.12) — this is forward coverage
for the engine's web-scale deployment, where page-fetch / interaction
events arrive continuously: the same windowed aggregations users run in
batch, expressed once and runnable either as a stream (``readStream`` +
watermark + ``trigger(availableNow=True)``) or as plain batch on the same
parquet — both paths produce identical results, which is exactly what the
DuckDB oracle checks.

Every ``run_stream_*`` runner stages its source with ``drain.staged``
and drains once into a memory sink with ``drain.to_memory`` (the file
sink cannot run complete or update mode); a runner holds only its own
watermark, aggregation, output mode and post-processing.

Design at 100 TB/day: the event source becomes Kafka/Iceberg CDC; the
watermark bounds state for late data; output mode "append" with a
window-closed trigger writes immutable parquet/Iceberg partitions keyed
by window start. The JSON ``props`` column is parsed with ``from_json``
(JVM-side, no Python).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .drain import staged, to_memory

EVENT_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])

PROPS_SCHEMA = T.StructType([T.StructField("k", T.LongType())])


def _watermarked(spark: SparkSession, src_dir: str,
                 watermark: str) -> DataFrame:
    """The staged events as a stream, watermarked on ``ts``."""
    return (spark.readStream.schema(EVENT_SCHEMA).parquet(src_dir)
            .withWatermark("ts", watermark))


def windowed_event_stats(events: DataFrame, minutes: int = 60) -> DataFrame:
    """Tumbling-window per-type stats: (window_start, event_type,
    n_events, sum_value, n_users≈exact distinct in batch mode). Works on
    both batch and streaming inputs (same plan; streaming adds the
    watermark upstream)."""
    w = F.window("ts", f"{minutes} minutes")
    return (
        events.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_event_stats(events: DataFrame, minutes: int = 60,
                        slide: int = 30) -> DataFrame:
    """Sliding-window per-type stats: (window_start, event_type,
    n_events, sum_value) with 60-minute windows every 30 minutes —
    each event lands in exactly len/slide windows (Spark's ``window``
    with a slide duration emits them natively; the DuckDB mirror
    unions one epoch-aligned ``time_bucket`` branch per overlap).
    Same batch/stream duality as the tumbling variant; window_start
    emitted as text to keep the comparison timezone-proof."""
    w = F.window("ts", f"{minutes} minutes", f"{slide} minutes")
    return (
        events.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Per-user session aggregation with a ``gap_minutes`` inactivity gap:
    (user_id, session_start, n_events, sum_value). Built on
    ``F.session_window`` — the same expression sessionizes a stream
    (with watermark-bounded state) or a batch frame; the DuckDB oracle
    reproduces it as a gaps-and-islands window computation."""
    w = F.session_window("ts", f"{gap_minutes} minutes")
    return (
        events.groupBy("user_id", w.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").cast("string").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


def run_stream_sessionize(spark: SparkSession, parquet_path: str,
                          gap_minutes: int = 30,
                          watermark: str = "2 hours") -> DataFrame:
    """``sessionize`` as a REAL Structured Streaming query — the
    session-window aggregation Spark only allows in append/update mode,
    where a session is emitted exactly once, when the watermark passes
    its close (end + gap). That is the semantics a continuous
    deployment runs; the batch ``sessionize`` and the DuckDB oracle
    must (and do) produce the identical row set.

    Append-mode mechanics in a finite drain: the final watermark is
    max(event ts) − delay, so the last sessions of the real data would
    stay unflushed in state. A SENTINEL event (user_id −1, ts far past
    every real session close) is written into the staged dir and
    pushes the final watermark beyond every real close; the sentinel's
    own session is the only state left unflushed and its user is
    filtered from the result. At scale the stream never ends and the
    sentinel branch is dead — flushing is the watermark's job."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    with staged(parquet_path) as d:
        # sentinel: one row, same arrow schema as the source, ts 10 years
        # past the real maximum
        real = pq.read_table(d, columns=EVENT_SCHEMA.fieldNames())
        ts = (pa.compute.max(real.column("ts")).as_py()
              + datetime.timedelta(days=3650))
        sentinel = {"event_id": [0], "ts": [ts], "user_id": [-1],
                    "event_type": [""], "value": [0.0], "props": [""]}
        pq.write_table(pa.table(sentinel, schema=real.schema),
                       os.path.join(d, "zz_sentinel.parquet"))
        out = sessionize(_watermarked(spark, d, watermark),
                         gap_minutes=gap_minutes)
        return to_memory(out, d, "append").where(F.col("user_id") != -1)


def parse_props(events: DataFrame) -> DataFrame:
    """JSON prop extraction (JVM from_json): (event_id, k)."""
    return events.select(
        "event_id",
        F.from_json("props", PROPS_SCHEMA).getField("k").alias("k"),
    )


def stateful_user_stats_stream(spark: SparkSession, parquet_path: str) -> DataFrame:
    """CUSTOM STATEFUL streaming operator via ``applyInPandasWithState``
    (the extension point the task brief mandates for operators the
    built-in windows can't express): per-user running (n_events,
    sum_value) kept in explicit GroupState, updated per Arrow batch,
    emitted in update mode. Drained with ``availableNow`` into a memory
    sink; the final per-user row (counts are monotone — max n_events
    wins) must equal the plain batch groupBy, which is exactly what the
    DuckDB oracle checks. At scale the state store is RocksDB-backed and
    the watermark bounds it; here the sandbox drain is single-batch."""
    from typing import Any, Iterator, Tuple

    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update_state(key: Tuple[Any], pdfs: Iterator[pd.DataFrame],
                     state) -> Iterator[pd.DataFrame]:
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                            "sum_value": [s]})

    with staged(parquet_path) as d:
        src = spark.readStream.schema(EVENT_SCHEMA).parquet(d)
        out = src.groupBy("user_id").applyInPandasWithState(
            update_state,
            outputStructType="user_id long, n_events long, sum_value double",
            stateStructType="n long, s double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
        return (
            to_memory(out, d, "update")
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("user_id", "n_events",
                    F.round("sum_value", 6).alias("sum_value"))
        )


def run_stream_dedup(spark: SparkSession, parquet_path: str,
                     key_cols: tuple[str, ...] = ("event_id",),
                     watermark: str = "90 days",
                     deliveries: int = 2) -> DataFrame:
    """Streaming exact dedup — at-least-once delivery made effectively-
    once: the source is exposed to the stream ``deliveries`` times (the
    sandbox stand-in for redelivery; symlinks, zero copies), and
    ``withWatermark + dropDuplicates`` on the event key must recover the
    original table EXACTLY — first delivery wins, later ones hit state.

    At scale the state store keeps one entry per key inside the
    watermark horizon (size it to the redelivery window — here it
    covers the whole input so nothing is ever late-dropped), backed by
    RocksDB; the key is the state-shuffle key, so dedup scales like any
    keyed aggregation. Append mode: each key emits once, on first
    sight."""
    with staged(parquet_path, deliveries) as d:
        out = _watermarked(spark, d, watermark).dropDuplicates(
            list(key_cols))
        return to_memory(out, d, "append").select(
            "event_id", "ts", "user_id", "event_type",
            F.round("value", 6).alias("value"),
        )


def run_stream_once(spark: SparkSession, parquet_path: str,
                    minutes: int = 60, watermark: str = "2 hours") -> DataFrame:
    """Execute the windowed aggregation as a REAL Structured Streaming
    query over the parquet source, draining all available input with
    ``trigger(availableNow=True)`` into an in-memory sink, and return the
    result as a DataFrame. Complete output mode: every window emitted once
    the drain finishes (the sandbox stand-in for a continuous cluster
    stream; at scale the sink is Iceberg and the trigger is processing-
    time)."""
    with staged(parquet_path) as d:
        out = windowed_event_stats(_watermarked(spark, d, watermark),
                                   minutes=minutes)
        return to_memory(out, d, "complete")


def windowed_approx_distinct(events: DataFrame,
                             minutes: int = 60) -> DataFrame:
    """(window_start, n_events, approx_users): HLL(m=16) approximate
    distinct user_id per tumbling window — the streaming-native
    cardinality sketch. Per-window state is 16 small ints + a count
    REGARDLESS of user cardinality (exact distinct would hold every
    user id in state), which is the whole point at 100 TB: the agg is
    a map-side-combinable MAX over the HyperBall register math
    (``hyperball.hll_bucket_rho`` — md5 string math both engines share
    verbatim), so batch and streaming run the identical plan and the
    DuckDB oracle reproduces registers and estimate EXACTLY."""
    from ..operators import hyperball as hb

    w = F.window("ts", f"{minutes} minutes")
    br = hb.hll_bucket_rho(events, "user_id", carry=("ts",))
    regs = br.groupBy(w.alias("w")).agg(
        F.count(F.lit(1)).alias("n_events"),
        *[
            F.max(F.when(F.col("bucket") == j, F.col("rho"))
                  .otherwise(F.lit(0))).alias(f"c{j}")
            for j in range(hb.HB_M)
        ],
    )
    return regs.select(
        F.col("w.start").cast("string").alias("window_start"),
        "n_events",
        hb.hll_estimate_expr().alias("approx_users"),
    )


def run_stream_approx_distinct(spark: SparkSession, parquet_path: str,
                               minutes: int = 60,
                               watermark: str = "2 hours") -> DataFrame:
    """The HLL windowed-distinct sketch as a REAL Structured Streaming
    query: watermark, complete output mode."""
    with staged(parquet_path) as d:
        out = windowed_approx_distinct(_watermarked(spark, d, watermark),
                                       minutes=minutes)
        return to_memory(out, d, "complete")


def purchase_attribution(purchases: DataFrame, clicks: DataFrame,
                         window_minutes: int = 30) -> DataFrame:
    """(user_id, purchase_id, click_id, gap_us): every click by the
    same user within ``window_minutes`` BEFORE (inclusive) a purchase —
    the classic attribution interval join. Works on batch frames or on
    two watermarked streams (the time-bound condition is exactly what
    lets Structured Streaming expire join state). The gap is exact
    integer microseconds (``unix_micros`` both sides — no float
    timestamp math anywhere)."""
    # unix_micros needs TIMESTAMP; parquet/createDataFrame yield NTZ.
    # The cast is wall-clock-preserving under the session's UTC tz.
    p = purchases.select(
        F.col("user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").cast("timestamp").alias("p_ts"),
    )
    c = clicks.select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").cast("timestamp").alias("c_ts"),
    )
    joined = p.join(
        c,
        [
            p["user_id"] == c["user_id"],
            c["c_ts"] <= p["p_ts"],
            c["c_ts"] >= p["p_ts"] - F.expr(
                f"INTERVAL {window_minutes} MINUTES"),
        ],
    )
    return joined.select(
        p["user_id"],
        "purchase_id",
        "click_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("gap_us"),
    )


def run_stream_attribution(spark: SparkSession, parquet_path: str,
                           window_minutes: int = 30,
                           watermark: str = "2 hours") -> DataFrame:
    """The attribution join as a REAL stream-stream interval join: two
    watermarked streams off the same staged source, event-time-bounded
    inner join (append mode — the bound is what lets Spark expire the
    click-side state), availableNow drain into a memory sink."""
    with staged(parquet_path) as d:
        def _side(kind: str) -> DataFrame:
            return (
                spark.readStream.schema(EVENT_SCHEMA).parquet(d)
                .where(F.col("event_type") == kind)
                .withWatermark("ts", watermark)
            )

        out = purchase_attribution(_side("purchase"), _side("click"),
                                   window_minutes=window_minutes)
        return to_memory(out, d, "append")


def session_entry_exit(events: DataFrame,
                       gap_minutes: int = 30) -> DataFrame:
    """(entry_type, exit_type, n_sessions, n_bounce, bounce_rate): the
    session entry/exit transition matrix with bounce rates — which
    event types open sessions, which close them, and how often a
    session dies immediately (classic web/product analytics next to
    `sessionize`).

    Sessions come from the same F.session_window expression as
    `sessionize`; entry/exit are min_by/max_by over the total order
    (ts, event_id) — event_id uniqueness makes the order tie-free, so
    both engines pick the same event. A bounce is a 1-event session
    (entry == exit by construction). Counts exact BIGINT, bounce_rate
    ONE double division.

    Scale shape: one session_window groupBy (the sessionize shuffle)
    followed by one map-side-combined groupBy on the tiny
    (entry, exit) key space."""
    w = F.session_window("ts", f"{gap_minutes} minutes")
    key = F.struct(F.col("ts"), F.col("event_id"))
    sess = events.groupBy("user_id", w.alias("w")).agg(
        F.min_by("event_type", key).alias("entry_type"),
        F.max_by("event_type", key).alias("exit_type"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return (
        sess.groupBy("entry_type", "exit_type")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum((F.col("n_events") == 1).cast("bigint"))
            .alias("n_bounce"),
        )
        .select(
            "entry_type", "exit_type", "n_sessions", "n_bounce",
            (F.col("n_bounce").cast("double")
             / F.col("n_sessions").cast("double")).alias("bounce_rate"),
        )
    )
