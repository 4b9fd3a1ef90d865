"""Spans for the traced run.

A span records name, start, end, parent span, query and workload. While
a span is open its id is the Spark job group of the driver thread, so
every job, stage and task in the event log maps back to the innermost
span that caused it (``eventlog.py``).

``Tracer.install`` wraps the public functions of each layer in every
``ugfraud_spark`` module that binds them (``from .superstep import
iterate`` binds a second name that must be wrapped too); ``uninstall``
puts the originals back. Nothing in the engine's source changes.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager

# (module, function, span name)
LAYER_FUNCTIONS = [
    ("ugfraud_spark.operators.superstep", "colocate_edges_sized", "superstep.layout"),
    ("ugfraud_spark.operators.superstep", "colocate_edges", "superstep.layout"),
    ("ugfraud_spark.operators.superstep", "iterate", "superstep.loop"),
    ("ugfraud_spark.sources.catalog", "write_state", "catalog.write"),
    ("ugfraud_spark.operators.adjacency", "build_adjacency_blocks", "adjacency.build"),
    ("ugfraud_spark.operators.fraudar", "detect_blocks", "fraudar.peel"),
    ("ugfraud_spark.operators.linalg", "gram_matrix", "linalg.factor"),
    ("ugfraud_spark.operators.linalg", "topk_right_factors", "linalg.factor"),
    ("ugfraud_spark.operators.linalg", "randomized_right_factors", "linalg.factor"),
    ("ugfraud_spark.operators.linalg", "row_projection_norms", "linalg.project"),
    ("ugfraud_spark.operators.linalg", "row_projection_norms_grouped", "linalg.project"),
    ("ugfraud_spark.operators.linalg", "row_projection_norms_vvt", "linalg.project"),
    ("ugfraud_spark.operators.linalg", "row_projection_components", "linalg.project"),
]


class Tracer:
    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.query: str | None = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": f"span-{len(self.spans)}", "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "query": self.query, "workload": self.workload,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def _wrap(self, fn, span_name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(span_name, fn=fn.__name__) as rec:
                out = fn(*args, **kwargs)
                if hasattr(out, "iterations"):  # SuperstepResult
                    rec["supersteps"] = out.iterations
                elif isinstance(out, tuple) and len(out) == 2 and isinstance(out[1], int):
                    rec["partitions"] = out[1]  # colocate_edges_sized
                return out

        return traced

    def install(self) -> None:
        import importlib

        for mod_name, fn_name, span_name in LAYER_FUNCTIONS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, fn_name)
            wrapped = self._wrap(orig, span_name)
            for m in list(sys.modules.values()):
                if not getattr(m, "__name__", "").startswith("ugfraud_spark"):
                    continue
                for attr, val in list(vars(m).items()):
                    if val is orig:
                        setattr(m, attr, wrapped)
                        self._patched.append((m, attr, orig))

    def uninstall(self) -> None:
        for m, attr, orig in reversed(self._patched):
            setattr(m, attr, orig)
        self._patched.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")
