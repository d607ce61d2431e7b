"""Outside-in span tracer.

The benchmark wraps each call into an engine layer in ``Tracer.span``. A
span gets its own Spark job group, so every job the call submits is
attributed to the innermost open span. On exit the span reads its jobs'
timings and stage totals from the Spark status store (available with the
UI disabled) and keeps a record in memory; ``Tracer.dump`` writes the
records out at the end of the run.

``driver_s`` is a span's wall time minus the time any of its (or its
children's) jobs was running: planning, commit and other driver-side work.
"""

from __future__ import annotations

import itertools
import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"


def busy_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total = 0.0
    cur_a = cur_b = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


@dataclass
class Span:
    name: str
    span_id: int
    parent_id: int | None
    start: float = 0.0  # epoch seconds
    end: float = 0.0
    # jobs submitted while this span was the innermost one
    job_ids: list[int] = field(default_factory=list)
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    shuffle_mb: float = 0.0
    input_mb: float = 0.0
    spill_mb: float = 0.0
    # filled from the children when the span closes (inclusive totals)
    incl: dict = field(default_factory=dict)

    @property
    def s(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder bound to one SparkContext. With ``enabled=False``
    ``span`` is a no-op, so the same benchmark code runs traced and
    untraced."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._children: dict[int, list[Span]] = {}
        if enabled:
            self._sc = spark.sparkContext
            self._jsc = self._sc._jsc.sc()
            self._store = self._jsc.statusStore()
            self._prefix = f"perfbench-{id(self):x}-"

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, next(self._ids), parent.span_id if parent else None)
        saved = (self._sc.getLocalProperty(_GROUP), self._sc.getLocalProperty(_DESC))
        self._sc.setJobGroup(f"{self._prefix}{sp.span_id}", name)
        self._stack.append(sp)
        self.bookkeeping_s += time.perf_counter() - t_in
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            t_out = time.perf_counter()
            self._stack.pop()
            self._sc.setLocalProperty(_GROUP, saved[0])
            self._sc.setLocalProperty(_DESC, saved[1])
            self._collect(sp)
            self.spans.append(sp)
            if parent is not None:
                self._children.setdefault(parent.span_id, []).append(sp)
            self.bookkeeping_s += time.perf_counter() - t_out

    def _collect(self, sp: Span) -> None:
        """Read the span's own jobs and stages, then fold in its children."""
        # job-end events reach the status store asynchronously
        self._jsc.listenerBus().waitUntilEmpty()
        ids = sorted(self._sc.statusTracker().getJobIdsForGroup(f"{self._prefix}{sp.span_id}"))
        stage_ids: set[int] = set()
        for jid in ids:
            job = self._store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                end = done.get().getTime() / 1000 if done.isDefined() else sp.end
                sp.job_intervals.append((sub.get().getTime() / 1000, end))
            stage_ids.update(int(x) for x in _seq(job.stageIds()))
        sp.job_ids = ids
        for sid in sorted(stage_ids):
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — evicted or never submitted
                continue
            if str(st.status()) in ("SKIPPED", "PENDING"):
                continue
            sp.stages += 1
            sp.tasks += int(st.numCompleteTasks())
            sp.task_s += st.executorRunTime() / 1000
            sp.shuffle_mb += (st.shuffleReadBytes() + st.shuffleWriteBytes()) / 2**20
            sp.input_mb += st.inputBytes() / 2**20
            sp.spill_mb += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
        fold_children(sp, self._children.pop(sp.span_id, []))

    def dump(self, fh) -> None:
        """Write every span as one JSON line."""
        for sp in self.spans:
            rec = asdict(sp)
            rec["incl"].pop("intervals", None)
            fh.write("# span " + json.dumps(rec) + "\n")


def fold_children(sp: Span, children: list[Span]) -> None:
    """Inclusive totals: the span's own jobs plus every descendant's.
    ``driver_s`` is wall time not covered by any of those jobs."""
    intervals = list(sp.job_intervals)
    incl = {
        "jobs": len(sp.job_ids),
        "stages": sp.stages,
        "tasks": sp.tasks,
        "task_s": sp.task_s,
        "shuffle_mb": sp.shuffle_mb,
        "input_mb": sp.input_mb,
        "spill_mb": sp.spill_mb,
    }
    for ch in children:
        intervals.extend(ch.incl["intervals"])
        for k in incl:
            incl[k] += ch.incl[k]
    incl["intervals"] = intervals
    incl["s"] = sp.s
    incl["driver_s"] = sp.s - busy_seconds(intervals, sp.start, sp.end)
    sp.incl = incl


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def per_call_medians(spans: list[Span], prefix: str, fields: tuple[str, ...]) -> dict:
    """``{f"{prefix}.{field}": median over calls}`` for the named spans."""
    return {
        f"{prefix}.{f}": statistics.median(sp.incl[f] for sp in spans)
        for f in fields
    }
