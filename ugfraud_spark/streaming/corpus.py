"""Streaming corpus admission: new documents arrive as a stream and
each micro-batch is near-dup-checked against the STATIC existing
corpus — the continuous form of the incremental-crawl admission check
(`operators.dedup.incremental_dedup`).

Why this composes safely with micro-batching: the admission check is
DIRECTIONAL (batch docs are compared against the corpus, never against
each other), so its result set is a per-doc function of (doc, corpus).
However Structured Streaming splits the arriving docs into
micro-batches, the union of per-batch results equals the single-batch
result — no cross-batch state is needed, which is what makes the
operator streamable with plain ``foreachBatch`` and no state store at
all. (In-batch self-dups are the WITHIN-batch dedup's job —
`run_stream_dedup` / the batch self-join path — not admission's.)
One precise caveat scopes the claim: the BATCH-side oversized-bucket
cap is evaluated per micro-batch, so a batch band bucket that exceeds
``max_bucket`` only at one-shot scope is dropped by the one-shot call
but kept (in bounded per-batch pieces) by the stream — equality holds
whenever no batch-side bucket is capped at one-shot scope, and each
micro-batch's join stays bounded either way, which is the property
the cap exists for. The static corpus-side cap never varies.

At scale: the corpus shingle + capped band-key frames are computed
ONCE at stream start (`dedup.build_corpus_index`) and probed by every
micro-batch — each micro-batch costs one directional band join sized
by the batch, not the corpus.

Every runner stages its source with ``drain.staged`` and drains it once
with ``drain.drain``: into a parquet sink (``drain.to_parquet``) or
through ``foreachBatch``, never into a memory sink, which holds every
row on the driver: per-doc output stays distributed.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.dedup import build_corpus_index, incremental_dedup
from .drain import drain, staged, to_parquet

DOC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
    T.StructField("source", T.StringType(), True),
    T.StructField("n_chars", T.LongType(), True),
])


def _doc_stream(spark: SparkSession, src_dir: str,
                max_files_per_trigger: int | None = None) -> DataFrame:
    """The staged documents as a stream; ``max_files_per_trigger``
    forces a MULTI-micro-batch run (one file per trigger at 1), which
    the decomposability tests drive to prove batch-split invariance;
    availableNow still drains everything."""
    reader = spark.readStream.schema(DOC_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(src_dir)


def run_stream_quality(spark: SparkSession, parquet_path: str) -> DataFrame:
    """(doc_id, n_tokens, n_failed, fail_rules, keep): the quality
    verdict computed INSIDE a real Structured Streaming query — the
    ingest-time quality gate. quality_filter is a pure row-local
    projection, so it runs directly in the streaming plan (no
    foreachBatch, no state store, no watermark) and the streamed
    output trivially equals the batch operator under ANY
    micro-batching; the shadow gate re-checks that equality against
    the BATCH DuckDB oracle.

    The returned frame is a distributed localCheckpoint of the sink
    (per-doc result — NEVER driver-collected, unlike the dup-pair
    sibling whose output is small by construction); the staged dir,
    sink included, is removed once the checkpoint severs the file
    lineage, also on raise."""
    from ..operators.quality import quality_filter

    with staged(parquet_path) as d:
        return to_parquet(quality_filter(_doc_stream(spark, d)), d)


def run_stream_incremental_dedup(spark: SparkSession, parquet_path: str,
                                 mod: int = 7,
                                 threshold: float = 0.0,
                                 max_files_per_trigger: int | None = None,
                                 ) -> DataFrame:
    """(new_id, old_id, jaccard): docs with ``doc_id % mod == 0`` play
    the arriving stream (filtered stream-side), the rest the static
    corpus; every micro-batch runs the batch admission check inside
    ``foreachBatch`` and appends its pairs to a parquet sink. Output
    equals the one-shot batch `incremental_dedup` under any
    micro-batching, provided no batch-side band bucket exceeds the cap
    at one-shot scope (directionality + cap caveat — see module doc)."""
    with staged(parquet_path) as d:
        corpus = (
            spark.read.schema(DOC_SCHEMA).parquet(parquet_path)
            .where(F.col("doc_id") % mod != 0)
        )
        # corpus-side shingles + capped band keys: once per stream, probed
        # by every micro-batch
        corpus_index = build_corpus_index(corpus)
        sink = os.path.join(d, "_pairs")

        def _admit(batch_df: DataFrame, _epoch: int) -> None:
            incremental_dedup(corpus, batch_df, threshold=threshold,
                              corpus_index=corpus_index) \
                .write.mode("append").parquet(sink)

        src = (_doc_stream(spark, d, max_files_per_trigger)
               .where(F.col("doc_id") % mod == 0))
        drain(src.writeStream.foreachBatch(_admit), d)
        # read as a glob: Spark warns on a ``_``-named root path
        rows = spark.read.parquet(os.path.join(sink, "*.parquet")).collect()
    return spark.createDataFrame(
        rows,
        "new_id long, old_id long, jaccard double",
    )


def run_stream_frontier(spark: SparkSession, parquet_path: str,
                        mod: int = 9, seen_mod: int = 7,
                        max_files_per_trigger: int | None = None,
                        ) -> DataFrame:
    """(doc_id, url, url_norm, host): streaming crawl-frontier
    admission — newly DISCOVERED urls arrive as a stream (docs with
    ``doc_id % mod == 0``), are canonicalized IN the streaming plan
    (`crawl.normalize_urls` is a pure row-local projection), and are
    admitted iff their canonical form collides with nothing in the
    STATIC already-crawled set (cycle-0's crawl: the non-stream docs
    with ``doc_id % seen_mod == 0``) — a stream-static LEFT ANTI join
    on ``url_norm``, the frontier's "have we fetched this resource
    under any spelling?" check. The default split admits 11 of 56
    arriving urls at the gate scales (45 are canonical aliases of
    already-fetched resources) — both branches of the check carry
    real mass.

    Decomposability (what the gate proves): admission is a per-row
    function of (row, static seen set) — no cross-batch state — so
    the union of per-micro-batch outputs equals the one-shot batch
    answer under ANY micro-batching. At scale the seen set is the
    frontier store bucketed by url_norm; each micro-batch pays one
    hash join sized by the batch, never by history."""
    from ..operators.crawl import normalize_urls, synthetic_urls

    with staged(parquet_path) as d:
        seen = (
            normalize_urls(synthetic_urls(
                spark.read.schema(DOC_SCHEMA).parquet(parquet_path)
                .where((F.col("doc_id") % mod != 0)
                       & (F.col("doc_id") % seen_mod == 0))))
            .select("url_norm").distinct()
            .localCheckpoint(eager=True)
        )
        src = (_doc_stream(spark, d, max_files_per_trigger)
               .where(F.col("doc_id") % mod == 0))
        admitted = (
            normalize_urls(synthetic_urls(src))
            .join(seen, "url_norm", "left_anti")
            .select("doc_id", "url", "url_norm", "host")
        )
        return to_parquet(admitted, d)
