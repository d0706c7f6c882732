"""Span recorder for traced benchmark runs.

A span is ``(id, name, label, start, end, parent, run_id)``. Spans stay in
memory and are written out once, when the run ends. A span's self time
is its duration minus the part of its interval that its children cover.

Spark work is attributed to spans through the job group: while a span is
open, the tracer sets the ``spark.jobGroup.id`` local property to that
span, so each job belongs to the innermost open span. When a root span
closes, the tracer waits for Spark's listener bus to drain and reads the
status store (``lastStageAttempt``) for the jobs of every span under it.
That read happens after the root span's end time, so it is not charged to
any span.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import time
from dataclasses import asdict, dataclass, field

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "exec_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)
_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    label: str
    start: float
    end: float | None
    parent: int | None
    run_id: str
    counters: dict = field(default_factory=dict)


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total = 0.0
    cur_start = cur_end = None
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals
    (clipped to the span)."""
    kids: dict[int | None, list[Span]] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        ivs = [
            (max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.id, [])
        ]
        out[s.id] = (s.end - s.start) - covered(ivs)
    return out


def rolled_up(spans: list[Span]) -> dict[int, dict]:
    """Span id -> its own counters plus those of all its descendants."""
    by_id = {s.id: s for s in spans}
    out = {s.id: dict.fromkeys(COUNTERS, 0) for s in spans}
    for s in spans:
        node = s
        while node is not None:
            acc = out[node.id]
            for k in COUNTERS:
                acc[k] += s.counters.get(k, 0)
            node = by_id.get(node.parent)
    return out


def _stage_counters(sc, group: str, seen: set) -> dict:
    """Counters of every job in ``group``, from Spark's status store. A
    stage listed by several jobs (a reused shuffle) counts once, for the
    first job read; ``seen`` holds the stage ids already counted."""
    acc = dict.fromkeys(COUNTERS, 0)
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    for jid in tracker.getJobIdsForGroup(group):
        acc["jobs"] += 1
        try:
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                acc["exec_s"] += (done.get().getTime() - sub.get().getTime()) / 1e3
        except Exception:
            pass
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            if sid in seen:
                continue
            try:
                st = store.lastStageAttempt(sid)
            except Exception:
                continue
            if str(st.status()) == "SKIPPED":
                continue
            seen.add(sid)
            acc["stages"] += 1
            acc["tasks"] += st.numTasks()
            acc["executor_run_s"] += st.executorRunTime() / 1e3
            acc["executor_cpu_s"] += st.executorCpuTime() / 1e9
            acc["shuffle_read_bytes"] += st.shuffleReadBytes()
            acc["shuffle_write_bytes"] += st.shuffleWriteBytes()
            acc["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return acc


class Tracer:
    """In-memory spans for one run. ``sc`` may be None (no Spark
    counters), which the unit tests use."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._pending: list[Span] = []
        self._stages: set[int] = set()

    def attach(self, sc) -> None:
        """Start attributing Spark jobs (and reading their counters)."""
        self.sc = sc

    def _group(self, s: Span | None) -> str | None:
        return None if s is None else f"{self.run_id}:{s.id}"

    def _set_group(self, s: Span | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(_GROUP, self._group(s))

    @contextlib.contextmanager
    def span(self, name: str, label: str = ""):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            next(self._ids), name, label, time.perf_counter(), None,
            parent.id if parent else None, self.run_id,
        )
        self.spans.append(s)
        self._pending.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            if not self._stack:
                self._harvest()

    def _harvest(self) -> None:
        if self.sc is not None:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
            for s in self._pending:
                s.counters = _stage_counters(self.sc, self._group(s), self._stages)
        self._pending = []

    def wrap(self, fn, name: str, label_fn=None):
        """``fn`` with every call recorded as a span."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            label = label_fn(*args, **kwargs) if label_fn else ""
            with self.span(name, label):
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def patched(self, targets):
        """Temporarily replace attributes with traced wrappers.
        ``targets``: ``(owner, attribute, span name, label_fn or None)``."""
        saved = []
        try:
            for owner, attr, name, label_fn in targets:
                orig = owner.__dict__[attr]
                saved.append((owner, attr, orig))
                setattr(owner, attr, self.wrap(orig, name, label_fn))
            yield
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    # --- summaries ---------------------------------------------------------

    def totals(self, name: str, label: str | None = None) -> dict:
        """Summed wall, self time and rolled-up counters of the spans
        called ``name`` (optionally with ``label``), not counting a span
        nested in another span of the same name twice."""
        st = self_times(self.spans)
        up = rolled_up(self.spans)
        by_id = {s.id: s for s in self.spans}
        out = dict.fromkeys(COUNTERS, 0)
        out.update(wall_s=0.0, self_s=0.0, calls=0)
        for s in self.spans:
            if s.name != name or (label is not None and s.label != label):
                continue
            out["self_s"] += st[s.id]
            anc = by_id.get(s.parent)
            while anc is not None and anc.name != name:
                anc = by_id.get(anc.parent)
            if anc is not None:
                continue
            out["calls"] += 1
            out["wall_s"] += s.end - s.start
            for k in COUNTERS:
                out[k] += up[s.id][k]
        return out

    def run_counters(self) -> dict:
        """Counters summed over every span (each job counted once)."""
        out = dict.fromkeys(COUNTERS, 0)
        for s in self.spans:
            for k in COUNTERS:
                out[k] += s.counters.get(k, 0)
        return out

    def dump(self, path: str) -> None:
        """Write every span as one JSON line, with its self time."""
        st = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "self_s": st[s.id]}) + "\n")
