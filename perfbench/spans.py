"""In-memory spans around the benchmark's calls into each layer.

A span records name, start, end, parent span and op id. Spans are kept in
memory and written out once, when the run ends. The layer of a span is the
first dotted part of its name (``functions.build_filter`` belongs to
``functions``); a layer's self time is the time its spans cover minus the
part of that time their child spans cover.

Each span also sets its own Spark job group, so the jobs and tasks a span
launched can be read back from ``SparkContext.statusTracker()``.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


class Tracer:
    def __init__(self, sc=None, enabled: bool = True):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self._op_stack: list[int] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def record(self, name: str, seconds: float) -> None:
        """A span outside any op that ended now and lasted ``seconds``."""
        end = time.perf_counter()
        with self._lock:
            self.spans.append({"id": len(self.spans), "name": name, "op": None,
                               "parent": None, "start": end - seconds, "end": end})

    @contextmanager
    def op(self, op_id: int, name: str = "bench.op"):
        """Root span of one operation. A span opened on another thread (the
        streaming callback thread) is a child of the innermost span open on
        the op's thread."""
        self.op_id = op_id
        self._op_stack = self._stack()
        with self.span(name) as rec:
            yield rec

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        with self._lock:
            rec = {
                "id": len(self.spans),
                "name": name,
                "op": self.op_id,
                "parent": (stack or self._op_stack or [None])[-1],
                "start": time.perf_counter(),
                "end": None,
            }
            self.spans.append(rec)
        stack.append(rec["id"])
        saved = self._set_group(f"perfbench-span-{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self._restore_group(saved)

    def _set_group(self, group: str, name: str):
        if self.sc is None:
            return None
        saved = [self.sc.getLocalProperty(p) for p in _GROUP_PROPS]
        self.sc.setJobGroup(group, name)
        return saved

    def _restore_group(self, saved) -> None:
        if saved is None:
            return
        for prop, value in zip(_GROUP_PROPS, saved):
            self.sc.setLocalProperty(prop, value)

    def jobs_and_tasks(self, span_ids) -> tuple[int, int]:
        """(Spark jobs, completed tasks) launched under the spans
        ``span_ids``. Call after the listener bus has drained."""
        tracker = self.sc.statusTracker()
        jobs = tasks = 0
        for sid in span_ids:
            for jid in tracker.getJobIdsForGroup(f"perfbench-span-{sid}"):
                jobs += 1
                info = tracker.getJobInfo(jid)
                for stage_id in info.stageIds if info else ():
                    stage = tracker.getStageInfo(stage_id)
                    tasks += stage.numCompletedTasks if stage else 0
        return jobs, tasks


def subtree(spans: list[dict], op_id: int, name: str) -> list[int]:
    """Ids of op ``op_id``'s spans named ``name`` and of all spans below them."""
    keep = {r["id"] for r in spans if r["op"] == op_id and r["name"] == name}
    for rec in spans:  # a child is recorded after its parent
        if rec["parent"] in keep:
            keep.add(rec["id"])
    return sorted(keep)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it covered by child spans."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for rec in spans:
        if rec["parent"] is not None:
            kids.setdefault(rec["parent"], []).append((rec["start"], rec["end"]))
    out = {}
    for rec in spans:
        s, e = rec["start"], rec["end"]
        clipped = [(max(a, s), min(b, e)) for a, b in kids.get(rec["id"], ()) if b > s and a < e]
        out[rec["id"]] = (e - s) - _covered(clipped)
    return out


def layer_self_ms(spans: list[dict], span_ids) -> dict[str, float]:
    """Layer -> total self time in ms over the spans ``span_ids``."""
    keep = set(span_ids)
    selfs = self_times(spans)
    out: dict[str, float] = {}
    for rec in spans:
        if rec["id"] in keep:
            layer = rec["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + 1e3 * selfs[rec["id"]]
    return out
