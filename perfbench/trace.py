"""Span recorder for the benchmark's calls into the library.

A span is (id, name, parent, op, start, end).  Spans are kept in memory
and written out once, at the end of the run.  Op latencies are read
from spans in both modes, so the timed loop has one code path; only a
traced recorder also tags each span's Spark jobs with a job group and
counts them through the status tracker right after the span ends.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, spark=None, traced: bool = False):
        self.sc = spark.sparkContext if spark is not None else None
        self.traced = traced and spark is not None
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @staticmethod
    def group(span: dict) -> str:
        return f"pb{span['id']}.{span['name']}"

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "start": None,
            "end": None,
            "ok": False,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        if self.traced:
            self.sc.setJobGroup(self.group(sp), name)
        sp["start"] = time.perf_counter()
        try:
            yield sp
            sp["ok"] = True
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if self.traced:
                sp["jobs"] = sorted(
                    self.sc.statusTracker().getJobIdsForGroup(self.group(sp))
                )
                if parent is not None:
                    self.sc.setJobGroup(self.group(parent), parent["name"])
                else:
                    self.sc._jsc.clearJobGroup()

    def duration(self, sp: dict) -> float:
        return sp["end"] - sp["start"]

    def find(self, name: str) -> list[dict]:
        """Spans called ``name`` whose body finished without raising."""
        return [s for s in self.spans if s["name"] == name and s["ok"]]

    def children(self, sp: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sp["id"]]

    def descendants(self, sp: dict) -> list[dict]:
        out, frontier = [], [sp]
        while frontier:
            kids = [s for f in frontier for s in self.children(f)]
            out += kids
            frontier = kids
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)
            fh.write("\n")
