"""In-memory spans recorded at the benchmark's own layer boundaries.

A span is (id, name, kind, parent, run, start, end, attrs). Spans are
kept in memory while the run measures and written out once it ends.
A span's self time is its duration minus the part of that interval its
child spans cover. With tracing off, ``span`` records nothing and sets
no job group, so untraced runs pay no tracing cost.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self, run_id: str, enabled: bool, spark=None):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = spark.sparkContext if spark is not None else None

    def group_of(self, span: dict) -> str:
        return f"{self.run_id}:{span['id']}"

    @contextlib.contextmanager
    def span(self, name: str, kind: str, job_group: bool = False, **attrs):
        """Record a span; with ``job_group`` the Spark jobs it launches
        are tagged with the span's own job group."""
        if not self.enabled:
            yield None
            return
        sp = self._open(name, kind, attrs)
        if job_group and self._sc is not None:
            self._sc.setJobGroup(self.group_of(sp), name)
        try:
            yield sp
        finally:
            if job_group and self._sc is not None:
                self._sc._jsc.clearJobGroup()
            sp["end"] = time.time()
            self._stack.pop()

    def _open(self, name: str, kind: str, attrs: dict) -> dict:
        sp = {
            "id": len(self.spans),
            "name": name,
            "kind": kind,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp["id"])
        return sp

    def child(self, parent: dict, name: str, kind: str, start: float, end: float) -> dict:
        """Add a finished span under ``parent`` (e.g. the delivery part
        of an exec span, found from the engine's job end times)."""
        sp = {
            "id": len(self.spans),
            "name": name,
            "kind": kind,
            "parent": parent["id"],
            "run": self.run_id,
            "start": start,
            "end": end,
            "attrs": {},
        }
        self.spans.append(sp)
        return sp

    def self_seconds(self) -> dict[str, float]:
        """Summed self time per span kind."""
        children: dict[int, list[dict]] = defaultdict(list)
        for sp in self.spans:
            if sp["parent"] is not None:
                children[sp["parent"]].append(sp)
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            if sp["end"] is None:
                continue
            covered, cur_s, cur_e = 0.0, None, None
            for c in sorted(children[sp["id"]], key=lambda c: c["start"]):
                s, e = max(c["start"], sp["start"]), min(c["end"] or sp["end"], sp["end"])
                if e <= s:
                    continue
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[sp["kind"]] += (sp["end"] - sp["start"]) - covered
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans}, fh)
