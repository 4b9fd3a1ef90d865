"""End-to-end test of the north-rule deployment path: package the engine
as a zip and run the PageRank job via ``spark-submit --py-files``
(scripts/submit.sh → scripts/pagerank_job.py), then kill-free resume from
the durable checkpoint directory.

This is the one place the engine is exercised exactly as a cluster user
would run it (north_rule: "run via spark-submit --py-files on a
multi-executor cluster"); everything else in the suite drives an
in-process SparkSession.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess

import pandas as pd
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SUBMIT = os.path.join(REPO, "scripts", "submit.sh")


def _run_job(extra_job_args: list[str]) -> dict:
    env = dict(os.environ)
    # keep the child JVM small and quiet; the packaged zip is the only
    # way the executors can see ugfraud_spark (cwd is moved off-repo)
    proc = subprocess.run(
        ["bash", SUBMIT, "--master", "local[4]",
         "--conf", "spark.sql.shuffle.partitions=4",
         "--conf", "spark.ui.enabled=false",
         "--driver-memory", "2g",
         "--"] + extra_job_args,
        capture_output=True, text=True, timeout=600, env=env, cwd="/tmp",
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    json_lines = [ln for ln in proc.stdout.splitlines()
                  if ln.startswith("{") and ln.rstrip().endswith("}")]
    assert json_lines, f"no JSON metrics line on stdout:\n{proc.stdout[-2000:]}"
    return json.loads(json_lines[-1])


@pytest.mark.skipif(shutil.which("spark-submit") is None
                    or shutil.which("zip") is None,
                    reason="spark-submit/zip not on PATH")
def test_spark_submit_py_files_run_and_resume(tmp_path):
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    first = _run_job(["--pages-n", "2000", "--iters", "3",
                      "--checkpoint-dir", ck, "--out", out])
    assert first["vertices"] > 0
    assert first["iterations"] == 3
    assert first["resumed_from"] == 0

    # durable artifacts: per-superstep metrics with per-partition lineage
    metrics = [json.loads(ln) for ln in
               open(os.path.join(ck, "metrics.jsonl")) if ln.strip()]
    assert [m["superstep"] for m in metrics] == [1, 2, 3]
    assert all(sum(m["partitions"].values()) == first["vertices"]
               for m in metrics)

    # second invocation resumes from superstep 3 and runs only the delta
    second = _run_job(["--pages-n", "2000", "--iters", "5",
                       "--checkpoint-dir", ck, "--out", out])
    assert second["resumed_from"] == 3
    assert second["iterations"] == 2
    assert second["vertices"] == first["vertices"]

    # the resumed 3+2 steps equal a fresh 5-step run: the resume path
    # runs pagerank's own superstep under the same layout and scope
    fresh_out = str(tmp_path / "fresh")
    fresh = _run_job(["--pages-n", "2000", "--iters", "5",
                      "--out", fresh_out])
    assert fresh["resumed_from"] == 0 and fresh["iterations"] == 5
    resumed = pd.read_parquet(out).set_index("id")["value"]
    full = pd.read_parquet(fresh_out).set_index("id")["value"]
    assert len(resumed) == len(full) == first["vertices"]
    diff = resumed - full  # aligned on id; an id on one side only is NaN
    assert diff.notna().all() and diff.abs().max() <= 1e-12
