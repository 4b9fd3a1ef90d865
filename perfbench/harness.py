"""One benchmark run: set up, run passes, verify, report.

A run starts the engine's session, prepares the workload's inputs, and
runs ``WARM_PASSES`` untimed passes over every query (JIT, Python
workers, first plan of each shape): this is ``setup_s``. Then:

- untraced (``trace=False``): passes repeat until ``seconds`` have
  elapsed, at least ``MIN_TIMED_PASSES`` of them; ``wall_s`` is the
  median pass time;
- traced (``trace=True``): the Spark event log is on for the session;
  an untraced pass, a pass with every layer wrapped in spans (then each
  derivation measured on its own), and another untraced pass; the
  per-layer metrics come from the spans and the event log.

Every query's output in every pass is reduced to a digest and compared
with the digest of the expected rows (``workloads.Query.expected``).
A wrong digest or an exception counts as a failed query.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

from . import digest as dg
from . import eventlog, fingerprint
from .trace import Tracer
from .workloads import Inputs, Workload

WORK_DIR = ".perfbench_work"
OUT_DIR = ".perfbench_out"
# The first pass runs cold and the second is still 10-40% slower than
# the third, in CPU time as in wall time, while the JVM's JIT warms up:
# both are set-up. At least two timed passes, so a run whose first
# timed pass overruns the window still reports a median of two.
WARM_PASSES = 2
MIN_TIMED_PASSES = 2


def run_pass(w: Workload, inp: Inputs, tracer: Tracer | None = None) -> dict:
    """Run every query of ``w`` once, in order, consuming each output."""
    span = tracer.span if tracer else (lambda *_a, **_k: contextlib.nullcontext())
    steal0 = fingerprint.cpu_jiffies()
    cpu0 = fingerprint.tree_cpu_s(os.getpid())
    t0 = time.time()
    results = {}
    for q in w.queries:
        t = time.time()
        rec: dict = {}
        if tracer:
            tracer.query = q.name
        try:
            with span("query"):
                df = q.build(inp)
                with span("query.consume"):
                    rec["digest"] = dg.digest(df)
                    if q.extra is not None:
                        rec["extra"] = q.extra(inp, df)
                rec["schema"] = df.schema.json()
        except Exception as exc:  # a raising query is a failed operation
            rec["error"] = f"{type(exc).__name__}: {exc}"
            traceback.print_exc(file=sys.stderr)
        rec["wall_s"] = time.time() - t
        results[q.name] = rec
    if tracer:
        tracer.query = None
    wall = time.time() - t0
    cpu = fingerprint.tree_cpu_s(os.getpid()) - cpu0
    inp.spark.catalog.clearCache()  # between passes, outside the timing
    return {"wall_s": wall, "cpu_s": cpu, "queries": results,
            "steal": fingerprint.steal_share(steal0, fingerprint.cpu_jiffies())}


def _measure_derivations(w: Workload, inp: Inputs, tracer: Tracer) -> list[dict]:
    """Each derivation the workload uses, run alone and sunk to ``noop``."""
    from ugfraud_spark.sources import tables

    spans = []
    raw = inp.spark.read.parquet(f"{inp.sf_dir}/lineitem.parquet").count() \
        if w.derivations else 0
    for name in w.derivations:
        derive = getattr(tables, name)
        with tracer.span("tables.derive", fn=name) as rec:
            derive(inp.spark, inp.sf_dir).write.format("noop").mode("overwrite").save()
        rec["raw_rows"] = raw
        rec["edge_rows"] = derive(inp.spark, inp.sf_dir).count()
        spans.append(rec)
    return spans


def _verify(w: Workload, inp: Inputs, passes: list[dict]) -> tuple[int, int, dict]:
    """(attempted, failed, per-query reasons)."""
    from pyspark.sql.types import StructType

    attempted = failed = 0
    reasons: dict[str, list[str]] = {}
    for q in w.queries:
        recs = [p["queries"][q.name] for p in passes]
        attempted += len(recs)
        ok = [r for r in recs if "error" not in r]
        for r in recs:
            if "error" in r:
                reasons.setdefault(q.name, []).append(r["error"])
        failed += len(recs) - len(ok)
        if not ok:
            continue
        try:
            like = inp.spark.createDataFrame([], StructType.fromJson(
                json.loads(ok[0]["schema"])))
            want = dg.digest(q.expected(inp, like))
        except Exception as exc:  # no reference → no attempt can be verified
            traceback.print_exc(file=sys.stderr)
            reasons.setdefault(q.name, []).append(f"reference failed: {exc!r}")
            failed += len(ok)
            continue
        for r in ok:
            good = dg.matches(r["digest"], want)
            if good and q.check_extra is not None:
                good = q.check_extra(inp, r["extra"])
            if not good:
                failed += 1
                reasons.setdefault(q.name, []).append(
                    f"output mismatch: got {r['digest']} {r.get('extra', '')}, "
                    f"want {want}")
    return attempted, failed, reasons


@contextlib.contextmanager
def _scratch_env(work: str):
    """Point every file the engine, the JVM and the Python workers write
    into ``work`` (inside the checkout); restore the environment after."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {"TMPDIR": tmp, "UGFRAUD_SPARK_LOCAL_DIR": os.path.join(work, "local"),
           # the JVM that spark-submit runs first to build the driver's
           # command line; the driver JVM gets the same flags from conf
           "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"}
    saved = {k: os.environ.get(k) for k in env}
    os.environ.update(env)
    tempfile.tempdir = None
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
        tempfile.tempdir = None


def _session(work: str, trace: bool):
    from ugfraud_spark.plans.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {"spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false"}
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": events,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return get_spark("perfbench", extra_conf=conf)


def run(w: Workload, seed: int, seconds: float, trace: bool, root: str,
        t_start: float | None = None) -> dict:
    """One run; returns the result dict also written to ``OUT_DIR``."""
    t_start = t_start if t_start is not None else fingerprint.process_start_time()
    work = os.path.join(root, WORK_DIR, f"{w.name}-{seed}-{os.getpid()}")
    out_dir = os.path.join(root, OUT_DIR)
    os.makedirs(out_dir, exist_ok=True)
    try:
        with _scratch_env(work):
            result = _run(w, seed, seconds, trace, root, work, out_dir, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(out_dir, f"result-{w.name}-seed{seed}-trace{int(trace)}.json"),
              "w") as f:
        json.dump(result, f, indent=1, default=str)
    return result


def _run(w: Workload, seed: int, seconds: float, trace: bool, root: str,
         work: str, out_dir: str, t_start: float) -> dict:
    t = time.time()
    spark = _session(work, trace)
    try:
        session_start_s = time.time() - t
        inp = Inputs(spark, seed, work)
        w.prepare(inp)
        passes = [run_pass(w, inp) for _ in range(WARM_PASSES)]  # untimed
        setup_s = time.time() - t_start
        timed: list[dict] = []
        if not trace:
            t_window = time.time()
            while (len(timed) < MIN_TIMED_PASSES
                   or time.time() - t_window < seconds):
                timed.append(run_pass(w, inp))
        else:
            # untraced, traced, untraced: the passes still speed up as the
            # JIT warms, so the traced pass is compared with the mean of
            # its two neighbours
            timed.append(run_pass(w, inp))
            tracer = Tracer(spark, w.name)
            tracer.install()
            try:
                with tracer.span("pass") as pass_span:
                    timed.append(run_pass(w, inp, tracer))
                derive_spans = _measure_derivations(w, inp, tracer)
            finally:
                tracer.uninstall()
            timed.append(run_pass(w, inp))
        passes += timed
        peak = fingerprint.peak_rss_mb(spark)  # before verification adds its own
        t = time.time()
        attempted, failed, reasons = _verify(w, inp, passes)
        verify_s = time.time() - t
        fp = fingerprint.collect(spark, root, [p["steal"] for p in passes])
    finally:
        spark.stop()

    result = {"workload": w.name, "seed": seed, "trace": trace,
              "attempted": attempted, "failed": failed, "reasons": reasons,
              "fingerprint": fp, "session_start_s": session_start_s,
              "setup_s": setup_s, "verify_s": verify_s,
              "pass_walls_s": [p["wall_s"] for p in passes],
              "pass_cpu_s": [p["cpu_s"] for p in passes],
              "references": {q.name: q.reference for q in w.queries},
              "query_walls_s": {q.name: statistics.median(
                  p["queries"][q.name]["wall_s"] for p in timed) for q in w.queries}}
    probe = [x for p in timed for r in p["queries"].values()
             if (x := r.get("extra"))]
    # reported, not gated: see README "End-to-end metrics"
    result["disclosed"] = {
        "peak_rss_mb": (peak, "MB"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in timed), "s"),
    }
    if probe:
        result["disclosed"].update({
            "edges": (inp.side["edges"], "count"),
            "iters_to_1e-6": (probe[-1]["iterations"], "count"),
            "edges_per_s": (statistics.median(
                inp.side["edges"] * x["iterations"] / x["loop_s"] for x in probe), "1/s"),
        })
    if not trace:
        result["metrics"] = {
            "setup_s": setup_s,
            "wall_s": statistics.median(p["wall_s"] for p in timed),
        }
        return result
    # the event log is complete once Spark has stopped
    log = eventlog.read(eventlog.find(os.path.join(work, "events")))
    eventlog.annotate(log, tracer.spans)
    layers = eventlog.per_layer(log, tracer.spans, pass_span, derive_spans)
    untraced = (timed[0]["wall_s"] + timed[2]["wall_s"]) / 2
    traced = timed[1]["wall_s"]
    layers.update({
        "session.start_s": session_start_s,
        "trace.untraced_wall_s": untraced,
        "trace.traced_wall_s": traced,
        "trace.overhead_s": traced - untraced,
    })
    result["metrics"] = layers
    span_file = os.path.join(out_dir, f"spans-{w.name}-seed{seed}.jsonl")
    tracer.write(span_file)
    result["span_file"] = os.path.relpath(span_file, root)
    return result
