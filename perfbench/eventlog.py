"""Spark event-log parsing for the traced run.

Jobs carry the job group (= span id) that was set when they started;
stages map to the first job that lists them; tasks map to their stage.
``Counters`` sums the task metrics of a set of jobs, and ``per_layer``
turns spans plus counters into the per-layer metrics.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field


@dataclass
class Log:
    jobs: dict = field(default_factory=dict)    # job id -> {group, start, end, failed}
    stage_job: dict = field(default_factory=dict)  # stage id -> job id
    tasks: dict = field(default_factory=dict)   # stage id -> [task dict]


def read(path: str) -> Log:
    log = Log()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                log.jobs[jid] = {"group": props.get("spark.jobGroup.id"),
                                 "start": ev["Submission Time"] / 1000.0,
                                 "end": None, "failed": False}
                for sid in ev.get("Stage IDs", []):
                    log.stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                job = log.jobs.get(ev["Job ID"])
                if job is not None:
                    job["end"] = ev["Completion Time"] / 1000.0
                    job["failed"] = ev["Job Result"]["Result"] != "JobSucceeded"
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                out = m.get("Output Metrics") or {}
                log.tasks.setdefault(ev["Stage ID"], []).append({
                    "duration": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                    "failed": bool(info.get("Failed")),
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                    "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "bytes_written": out.get("Bytes Written", 0),
                })
    return log


def find(event_dir: str) -> str:
    files = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {files}")
    return files[0]


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def counters(log: Log, groups: set[str], window: tuple[float, float]) -> dict:
    """Task-metric sums over the jobs whose group is in ``groups``, plus
    the time inside ``window`` during which no job of the log ran."""
    jobs = {j for j, job in log.jobs.items() if job["group"] in groups}
    stages = [s for s, j in log.stage_job.items() if j in jobs and s in log.tasks]
    tasks = [t for s in stages for t in log.tasks[s]]
    skews = []
    for s in stages:
        d = [t["duration"] for t in log.tasks[s]]
        med = statistics.median(d)
        if len(d) >= 2 and med > 0:
            skews.append(max(d) / med)
    lo, hi = window
    busy = [(max(job["start"], lo), min(job["end"] or hi, hi))
            for job in log.jobs.values()
            if job["start"] < hi and (job["end"] or hi) > lo]
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": len(tasks),
        "shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
        "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "spill_bytes": sum(t["spill"] for t in tasks),
        "gc_s": sum(t["gc_s"] for t in tasks),
        "executor_cpu_s": sum(t["cpu_s"] for t in tasks),
        "bytes_written": sum(t["bytes_written"] for t in tasks),
        "driver_only_s": max(hi - lo - _union_length(busy), 0.0),
        "task_skew": max(skews, default=1.0 if stages else 0.0),
        "failed_tasks": sum(t["failed"] for t in tasks),
    }


class SpanTree:
    def __init__(self, spans: list[dict]):
        self.spans = spans
        self.by_id = {s["id"]: s for s in spans}
        self.children: dict[str | None, list[dict]] = {}
        for s in spans:
            self.children.setdefault(s["parent"], []).append(s)

    def subtree_ids(self, span: dict) -> set[str]:
        out, todo = set(), [span]
        while todo:
            s = todo.pop()
            out.add(s["id"])
            todo.extend(self.children.get(s["id"], []))
        return out

    def outermost(self, name: str, within: dict | None = None) -> list[dict]:
        """Spans called ``name`` with no ancestor of the same name
        (nested calls of one layer are counted once)."""
        scope = self.subtree_ids(within) if within else set(self.by_id)
        out = []
        for s in self.spans:
            if s["name"] != name or s["id"] not in scope:
                continue
            p = s["parent"]
            while p is not None and self.by_id[p]["name"] != name:
                p = self.by_id[p]["parent"]
            if p is None:
                out.append(s)
        return out

    def self_time(self, span: dict) -> float:
        kids = [(c["start"], c["end"]) for c in self.children.get(span["id"], [])]
        return span["end"] - span["start"] - _union_length(kids)


def _dur(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def _sum_counters(log: Log, tree: SpanTree, spans: list[dict]) -> dict:
    total: dict = {}
    for s in spans:
        c = counters(log, tree.subtree_ids(s), (s["start"], s["end"]))
        for k, v in c.items():
            total[k] = max(total.get(k, 0), v) if k == "task_skew" else total.get(k, 0) + v
    return total


def annotate(log: Log, spans: list[dict]) -> None:
    """Attach each span's own event-log counters (its job group only)."""
    for s in spans:
        s["spark"] = counters(log, {s["id"]}, (s["start"], s["end"]))


def per_layer(log: Log, spans: list[dict], pass_span: dict,
              derive_spans: list[dict]) -> dict:
    tree = SpanTree(spans)
    layout = tree.outermost("superstep.layout", pass_span)
    loop = tree.outermost("superstep.loop", pass_span)
    writes = tree.outermost("catalog.write", pass_span)
    adj = tree.outermost("adjacency.build", pass_span)
    lay_c = _sum_counters(log, tree, layout)
    loop_c = _sum_counters(log, tree, loop)
    supersteps = sum(s.get("supersteps", 0) for s in loop)
    der_c = _sum_counters(log, tree, derive_spans)
    raw = sum(s["raw_rows"] for s in derive_spans)
    kept = sum(s["edge_rows"] for s in derive_spans)
    whole = counters(log, tree.subtree_ids(pass_span),
                     (pass_span["start"], pass_span["end"]))
    queries = tree.outermost("query", pass_span)
    m = {
        "tables.derive_s": _dur(derive_spans),
        "tables.raw_rows": raw,
        "tables.edge_rows": kept,
        "tables.keep_ratio": kept / raw if raw else 0.0,
        "tables.shuffle_bytes": der_c.get("shuffle_write_bytes", 0),
        "superstep.layout_s": _dur(layout),
        "superstep.layout_partitions": sum(s.get("partitions", 0) for s in layout),
        "superstep.layout_shuffle_bytes": lay_c.get("shuffle_write_bytes", 0),
        "superstep.loop_s": _dur(loop),
        "superstep.supersteps": supersteps,
        "superstep.step_s": _dur(loop) / supersteps if supersteps else 0.0,
        "superstep.loop_shuffle_bytes": loop_c.get("shuffle_write_bytes", 0),
        "superstep.loop_stages": loop_c.get("stages", 0),
        "superstep.loop_driver_only_s": loop_c.get("driver_only_s", 0.0),
        "superstep.loop_task_skew": loop_c.get("task_skew", 0.0),
        "catalog.write_s": _dur(writes),
        "catalog.writes": len(writes),
        "catalog.bytes_written": _sum_counters(log, tree, writes).get("bytes_written", 0),
        "adjacency.build_s": _dur(adj),
        "adjacency.build_shuffle_bytes": _sum_counters(log, tree, adj).get(
            "shuffle_write_bytes", 0),
        "fraudar.peel_s": _dur(tree.outermost("fraudar.peel", pass_span)),
        "linalg.factor_s": _dur(tree.outermost("linalg.factor", pass_span)),
        "linalg.project_s": _dur(tree.outermost("linalg.project", pass_span)),
        "query.self_s": sum(tree.self_time(q) for q in queries),
        "query.consume_s": _dur(tree.outermost("query.consume", pass_span)),
    }
    for k in ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
              "spill_bytes", "gc_s", "executor_cpu_s", "driver_only_s",
              "task_skew", "failed_tasks"):
        m[f"spark.{k}"] = whole[k]
    return m
