"""Spans recorded from outside the program, around calls into its layers.

A span is one call into a layer's public function: name, start, end,
parent span and operation id.  Spans of one benchmark operation share the
operation id.  Spark jobs are attributed per span through job groups: each
span runs its calls under its own group, and ``statusTracker`` counts the
jobs that group started.  Spans stay in memory until :meth:`Tracer.dump`.

With tracing off, :meth:`Tracer.span` records nothing and touches no job
group, so the untraced run pays no bookkeeping.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self._sc = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0
        self._op = 0
        self.bookkeeping_s = 0.0

    def attach(self, spark) -> None:
        """Start attributing Spark jobs; spans opened before the session
        exists (its own start) record zero jobs."""
        if self.enabled:
            self._sc = spark.sparkContext

    def _set_group(self, rec: dict | None) -> None:
        if self._sc is None:
            return
        if rec is not None:
            self._sc.setJobGroup(rec["group"], rec["name"])
        else:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def op(self, name: str):
        """Root span of one benchmark operation; child spans share its id."""
        self._op += 1
        with self.span(name):
            yield

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t_book = time.perf_counter()
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._next_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self._op,
            "group": f"perfbench-{self._next_id}",
        }
        self._set_group(rec)
        self._stack.append(rec)
        self.bookkeeping_s += time.perf_counter() - t_book
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            t_book = time.perf_counter()
            self._stack.pop()
            rec["jobs"] = (
                len(self._sc.statusTracker().getJobIdsForGroup(rec["group"]))
                if self._sc is not None
                else 0
            )
            self._set_group(parent)
            self.spans.append(rec)
            self.bookkeeping_s += time.perf_counter() - t_book

    # -- derived views ------------------------------------------------------
    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part its child spans cover.
        Children of one span run one after another, so their durations
        add up without overlap."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        return {s["id"]: (s["end"] - s["start"]) - child_s.get(s["id"], 0.0) for s in self.spans}

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        selfs = self.self_times()
        spans = [
            {
                "id": s["id"],
                "name": s["name"],
                "parent": s["parent"],
                "op": s["op"],
                "start_s": round(s["start"] - t0, 6),
                "end_s": round(s["end"] - t0, 6),
                "self_s": round(selfs[s["id"]], 6),
                "spark_jobs": s["jobs"],
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": spans, **extra}, f, indent=1)
