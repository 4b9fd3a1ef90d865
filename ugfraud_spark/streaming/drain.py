"""One staged source and one drain for every Structured Streaming runner.

Spark's parquet stream source monitors a DIRECTORY. ``staged`` exposes
a table's parquet file(s) through a temp dir of symlinks (zero copies)
and removes that dir on exit, also on raise. The dir is the run's whole
footprint: a runner's checkpoint, sinks and extra input files go inside
it, the Spark-private ones under ``_``-prefixed names, which the file
source's listing skips.

``drain`` runs a stream writer once over everything staged
(``trigger(availableNow=True)``, the finite stand-in for a continuous
trigger; at scale the source is Kafka/Iceberg and the trigger is
processing-time). ``to_memory`` drains into a memory sink, the one sink
that runs every output mode; ``to_parquet`` drains into a parquet sink,
for per-row output that must never be collected to the driver.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter


@contextmanager
def staged(parquet_path: str, deliveries: int = 1):
    """Yield a temp dir that holds ``deliveries`` symlinks to each
    ``.parquet`` file at ``parquet_path`` (a file, or a directory of
    them); ``deliveries`` > 1 is the stand-in for at-least-once
    redelivery. Raises ``FileNotFoundError`` when no file resolves. The
    dir is removed on exit, also on raise."""
    parquet_path = os.path.abspath(parquet_path)
    files = (
        [parquet_path] if os.path.isfile(parquet_path)
        else [os.path.join(parquet_path, f)
              for f in sorted(os.listdir(parquet_path))
              if f.endswith(".parquet")]
    )
    if not files:
        raise FileNotFoundError(f"no .parquet files under {parquet_path}")
    work_dir = tempfile.mkdtemp(prefix="stream_")
    try:
        for i in range(deliveries):
            for f in files:
                os.symlink(f, os.path.join(
                    work_dir, f"delivery{i}_{os.path.basename(f)}"))
        yield work_dir
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def drain(writer: DataStreamWriter, work_dir: str) -> None:
    """Start ``writer`` with its checkpoint under ``work_dir`` and wait
    until it has drained all staged input; the query is stopped if the
    wait raises."""
    q = (
        writer.option("checkpointLocation",
                      os.path.join(work_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()


def to_memory(frame: DataFrame, work_dir: str, mode: str) -> DataFrame:
    """Drain ``frame`` into a memory sink in output ``mode`` and return
    the sink's rows. The query is named after ``work_dir``, so every
    call has its own sink; its view is dropped once the returned frame
    holds the sink."""
    name = os.path.basename(work_dir)
    drain(frame.writeStream.format("memory").queryName(name)
          .outputMode(mode), work_dir)
    spark = frame.sparkSession
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


def to_parquet(frame: DataFrame, work_dir: str) -> DataFrame:
    """Append-drain ``frame`` into a parquet sink under ``work_dir`` and
    return it as a local checkpoint, which outlives the staged dir."""
    sink = os.path.join(work_dir, "_sink")
    drain(frame.writeStream.format("parquet").option("path", sink),
          work_dir)
    return frame.sparkSession.read.parquet(sink).localCheckpoint(eager=True)
