"""In-memory spans around calls into the program's public functions.

The traced run installs wrappers (``Tracer.wrap``) on module attributes
and methods; each wrapper records one span per call while ``enabled`` is
set and passes straight through otherwise. Spans carry the id of the
operation that caused them, so per-operation sums and self times come
from the span list alone. Spark job, stage and task counts come from one
job group per operation (``statusTracker``); shuffle and input bytes come
from the status REST API, which needs the UI, so only traced runs turn
it on.
"""

from __future__ import annotations

import functools
import json
import statistics
import threading
import time
import urllib.request
from dataclasses import dataclass, field


@dataclass
class Span:
    op: str | None
    sid: int
    parent: int | None
    name: str
    t0: float
    t1: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.op: str | None = None  # current operation id
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def start(self, name: str) -> Span:
        stack = self._stack()
        with self._lock:
            sp = Span(self.op, len(self.spans),
                      stack[-1].sid if stack else None, name,
                      time.perf_counter())
            self.spans.append(sp)
        stack.append(sp)
        return sp

    def end(self, sp: Span) -> None:
        sp.t1 = time.perf_counter()
        self._stack().pop()

    def wrap(self, owner: object, attr: str, name: str,
             count=None) -> None:
        """Replace owner.attr by a recording wrapper. ``count(result)``
        (optional) gives the span's ``n`` count."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            sp = self.start(name)
            try:
                out = orig(*args, **kwargs)
            finally:
                self.end(sp)
            if count is not None:
                sp.counts["n"] = count(out)
            return out

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- per-operation views -------------------------------------------
    def op_spans(self, op: str) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def total(self, op: str, name: str) -> float:
        return sum(s.dur for s in self.op_spans(op) if s.name == name)

    def calls(self, op: str, name: str) -> int:
        return sum(1 for s in self.op_spans(op) if s.name == name)

    def counted(self, op: str, name: str) -> float:
        return sum(s.counts.get("n", 0) for s in self.op_spans(op)
                   if s.name == name)

    def self_time(self, op: str, name: str) -> float:
        """Duration of `name` spans minus their direct children."""
        spans = self.op_spans(op)
        ids = {s.sid for s in spans if s.name == name}
        children = sum(s.dur for s in spans if s.parent in ids)
        return sum(s.dur for s in spans if s.sid in ids) - children

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "op": s.op, "id": s.sid, "parent": s.parent,
                    "name": s.name, "start": s.t0, "end": s.t1,
                    **({"counts": s.counts} if s.counts else {}),
                }) + "\n")


class SparkOps:
    """Job group per operation, counted through statusTracker; bytes per
    operation through the status REST API (UI on)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext

    def begin(self, group: str) -> None:
        """Tag the calling thread's jobs with `group`."""
        self.sc.setJobGroup(group, group)

    def counts(self, groups: list[str]) -> dict[str, dict[str, int]]:
        tracker = self.sc.statusTracker()
        stage_bytes = self._stage_bytes()
        out: dict[str, dict[str, int]] = {}
        for g in groups:
            jobs = tracker.getJobIdsForGroup(g)
            stages = tasks = shuffle = inp = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for sid in (info.stageIds if info else []):
                    st = tracker.getStageInfo(sid)
                    if st is None or st.numCompletedTasks == 0:
                        continue  # skipped: its output was reused
                    stages += 1
                    tasks += st.numCompletedTasks
                    b = stage_bytes.get(sid, (0, 0))
                    shuffle += b[0]
                    inp += b[1]
            out[g] = {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                      "shuffle_write_bytes": shuffle, "input_bytes": inp}
        return out

    def _stage_bytes(self) -> dict[int, tuple[int, int]]:
        ui = self.sc.uiWebUrl
        if not ui:
            return {}
        time.sleep(0.5)  # let the listener bus flush the last stages
        url = (f"{ui.rstrip('/')}/api/v1/applications/"
               f"{self.sc.applicationId}/stages?status=complete")
        with urllib.request.urlopen(url, timeout=10) as r:
            stages = json.load(r)
        out: dict[int, tuple[int, int]] = {}
        for s in stages:
            prev = out.get(s["stageId"], (0, 0))
            out[s["stageId"]] = (prev[0] + s.get("shuffleWriteBytes", 0),
                                 prev[1] + s.get("inputBytes", 0))
        return out


def summary(values: list[float]) -> dict[str, float | int | None]:
    """Median, the highest percentile with at least ten samples beyond
    it, and the sample count."""
    n = len(values)
    out: dict[str, float | int | None] = {
        "n": n, "median": statistics.median(values) if values else None}
    for p in (99, 90, 50):
        if n * (100 - p) / 100 >= 10:
            out[f"p{p}"] = statistics.quantiles(values, n=100)[p - 1]
            break
    return out
