"""Per-query fixed costs outside the kernels: ``tables.load`` infers a
parquet file's schema once per file version, and ``get_spark`` sizes
the driver heap from the host's RAM."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from ugfraud_spark.plans import session
from ugfraud_spark.sources import tables


def _jobs(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def test_second_load_runs_no_schema_job(spark, tmp_path):
    pq.write_table(pa.table({"id": pa.array([1, 2, 3], pa.int64()),
                             "text": ["a", None, "c"]}),
                   tmp_path / "t.parquet")
    first, first_jobs = _jobs(
        spark, "test-load-1", lambda: tables.load(spark, str(tmp_path), "t"))
    again, again_jobs = _jobs(
        spark, "test-load-2", lambda: tables.load(spark, str(tmp_path), "t"))
    assert len(first_jobs) == 1, first_jobs  # the inference job
    assert again_jobs == [], again_jobs
    assert again.schema == first.schema  # nullability included
    assert sorted(again.collect()) == sorted(first.collect())


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"id": pa.array([1], pa.int64())}), path)
    assert tables.load(spark, str(tmp_path), "t").columns == ["id"]
    pq.write_table(pa.table({"id": pa.array([1], pa.int64()),
                             "score": pa.array([0.5])}), path)
    df = tables.load(spark, str(tmp_path), "t")
    assert [(f.name, f.dataType.simpleString()) for f in df.schema] == [
        ("id", "bigint"), ("score", "double")]
    assert df.collect()[0]["score"] == 0.5


def test_unstattable_path_is_inferred_every_time(spark, tmp_path):
    pq.write_table(pa.table({"id": pa.array([7], pa.int64())}),
                   tmp_path / "t.parquet")
    uri = f"file://{tmp_path}"
    for k in range(2):
        df, jobs = _jobs(spark, f"test-load-uri-{k}",
                         lambda: tables.load(spark, uri, "t"))
        assert len(jobs) == 1 and df.collect()[0]["id"] == 7


def test_driver_memory_fits_ram(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    gib = 2**30
    assert session._driver_memory(int(15.7 * gib)) == "9646m"
    assert session._driver_memory(4 * gib) == "2457m"
    assert session._driver_memory(64 * gib) == "16384m"  # the cap
    host = session._driver_memory()
    assert host.endswith("m") and 0 < int(host[:-1]) <= 16384
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert session._driver_memory(64 * gib) == "3g"
