"""Spans around the benchmark's calls into the program's layers.

A span records name, start, end and parent, and makes its Spark job group
the span's own id, so the event-log fold (eventlog.py) attributes every
task to the innermost open span.  Spans stay in memory and are written out
once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time

from . import eventlog


class Tracer:
    def __init__(self, spark_context=None):
        self._sc = spark_context
        self.spans: list[dict] = []
        self._open: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._open[-1] if self._open else None
        sp = {"id": len(self.spans), "name": name,
              "parent": parent["id"] if parent else None,
              "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(sp)
        self._open.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._open.pop()
            self._set_group(parent)

    def _set_group(self, sp) -> None:
        if self._sc is None:
            return
        if sp is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(group_id(sp), sp["name"])

    def children(self, sp) -> list[dict]:
        return [c for c in self.spans if c["parent"] == sp["id"]]

    def descendants(self, sp) -> list[dict]:
        out, todo = [], [sp]
        while todo:
            kids = self.children(todo.pop())
            out.extend(kids)
            todo.extend(kids)
        return out

    def self_time(self, sp) -> float:
        """Duration minus the part of the span its children cover."""
        return (sp["end"] - sp["start"]) - covered(
            [(c["start"], c["end"]) for c in self.children(sp)])

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def task_metrics(self, name: str, folded: dict) -> dict:
        """Event-log metrics of every span called `name`, each including
        the jobs of its descendants."""
        groups = []
        for sp in self.named(name):
            for s in [sp] + self.descendants(sp):
                g = folded.get(group_id(s))
                if g is not None:
                    groups.append(g)
        return eventlog.combine(groups)

    def dump(self, path: str, folded: dict, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        rows = []
        for s in self.spans:
            rows.append({**s, "start": s["start"] - t0, "end": s["end"] - t0,
                         "self_s": self.self_time(s),
                         "tasks": folded.get(group_id(s))})
        with open(path, "w", encoding="utf-8") as fd:
            json.dump({"spans": rows, **extra}, fd, indent=1, default=str)


def group_id(sp: dict) -> str:
    return f"{sp['name']}#{sp['id']}"


def covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
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
