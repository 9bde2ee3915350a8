"""Span recorder for the traced run.

`Tracer.install` replaces public methods of the engine's classes with
wrappers that open a span around each call; nothing is wrapped in an
untraced run. Each span records its name, layer, start, end, parent and op
id. While a span is open the Spark job group is set to the span's id, so the
jobs a span launched itself (not through a child span) are read back from
the status tracker once the op has finished. Spans stay in memory until
the run ends.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._installed: list[tuple[type, str, object]] = []
        self.op_id: int | None = None
        self.overhead_s = 0.0  # time spent inside span bookkeeping

    @contextmanager
    def span(self, layer: str, name: str):
        t = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "layer": layer,
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setLocalProperty(_GROUP, f"pb-{rec['id']}")
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t
        try:
            yield rec
        finally:
            t = time.perf_counter()
            rec["end"] = t
            self._stack.pop()
            self.sc.setLocalProperty(
                _GROUP, f"pb-{self._stack[-1]['id']}" if self._stack else None
            )
            self.overhead_s += time.perf_counter() - t

    def install(self, targets) -> None:
        """Wrap `cls.method` for each `(cls, method, layer, name)`."""
        for cls, method, layer, name in targets:
            orig = cls.__dict__[method]

            def wrapper(*args, __orig=orig, __layer=layer, __name=name, **kwargs):
                with self.span(__layer, __name):
                    return __orig(*args, **kwargs)

            setattr(cls, method, functools.wraps(orig)(wrapper))
            self._installed.append((cls, method, orig))

    def uninstall(self) -> None:
        for cls, method, orig in reversed(self._installed):
            setattr(cls, method, orig)
        self._installed.clear()

    def resolve_jobs(self, spans: list[dict]) -> None:
        """Attach the Spark job ids and stage counts of finished spans."""
        for rec in spans:
            ids = sorted(self.tracker.getJobIdsForGroup(f"pb-{rec['id']}") or [])
            rec["jobs"] = ids
            stages = 0
            for j in ids:
                info = self.tracker.getJobInfo(j)
                stages += len(info.stageIds) if info is not None else 0
            rec["stages"] = stages


def self_times(spans: list[dict]) -> list[dict]:
    """Per span: duration minus the time its children cover (children of one
    span run one after another, so their durations add up)."""
    child_s: dict[int, float] = defaultdict(float)
    for rec in spans:
        if rec["parent"] is not None:
            child_s[rec["parent"]] += rec["end"] - rec["start"]
    out = []
    for rec in spans:
        dur = rec["end"] - rec["start"]
        out.append({**rec, "dur_s": dur, "self_s": dur - child_s[rec["id"]]})
    return out
