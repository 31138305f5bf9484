"""Spans around the program's layers, recorded from outside the program.

``Tracer.patch`` replaces a module or class attribute with a wrapper
that records a span and tags the Spark jobs it submits with a job
group named after the span. The CLI imports its layer functions when
it runs and the streaming folds look theirs up as module globals, so
patched attributes are what they call. Spans stay in memory and are
written out once, at the end.

Spark's own accounting comes from the local event log of the traced
session: each job is charged to the span whose job group it carries,
or, for jobs started on Spark's streaming threads (which set their own
group), to the innermost span open when the job was submitted.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from dataclasses import asdict, dataclass, field


_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: int | None = None
    run: str = ""
    jobs: list[int] = field(default_factory=list)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.run = ""
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        """Record a span around the block; its Spark jobs carry the job
        group ``span-<index>``. One stack serves every thread: the
        streaming folds run while the thread that started the query
        waits for it, so spans never interleave."""
        i = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), parent=parent, run=self.run))
        self._stack.append(i)
        prev = self.sc.getLocalProperty(_GROUP)
        self.sc.setLocalProperty(_GROUP, f"span-{i}")
        try:
            yield i
        finally:
            self.spans[i].end = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(_GROUP, prev)

    def patch(self, owner, attr: str, name: str) -> None:
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def unpatch(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump([asdict(s) for s in self.spans], fh)

    # -- derived timings ---------------------------------------------

    def children(self, i: int) -> list[Span]:
        return [s for s in self.spans if s.parent == i]

    def self_time(self, i: int) -> float:
        """Duration minus the part of it covered by child spans."""
        covered, last = 0.0, self.spans[i].start
        for c in sorted(self.children(i), key=lambda s: s.start):
            lo, hi = max(c.start, last), c.end
            if hi > lo:
                covered += hi - lo
                last = hi
        return self.spans[i].wall - covered

    def in_layer(self, i: int, layer: str) -> bool:
        """Span i or one of its ancestors belongs to ``layer``."""
        while i is not None:
            if self.spans[i].layer == layer:
                return True
            i = self.spans[i].parent
        return False

    def outermost(self, pred) -> list[int]:
        """Spans matching ``pred`` with no ancestor that matches it, so
        nested calls are not counted twice."""
        out = []
        for i, s in enumerate(self.spans):
            p = s.parent
            while p is not None and not pred(self.spans[p]):
                p = self.spans[p].parent
            if pred(s) and p is None:
                out.append(i)
        return out


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

@dataclass
class JobStats:
    tasks: int = 0
    cpu_s: float = 0.0
    shuffle_bytes: int = 0
    landing_bytes: int = 0


def read_event_log(log_dir: str, tracer: Tracer) -> dict[int, JobStats]:
    """Charge every job in the log to a span (``Span.jobs``) and return
    per-job task counts, executor CPU, shuffle bytes written and bytes
    read by binaryFile scans (the batch CLI's landing reads)."""
    events = []
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path, encoding="utf-8") as fh:
            events += [json.loads(line) for line in fh if line.strip()]
    stage_job: dict[int, int] = {}
    landing_stages: set[int] = set()
    cached: set[int] = set()
    stats: dict[int, JobStats] = {}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            stats[job] = JobStats()
            for sid in ev["Stage IDs"]:
                stage_job.setdefault(sid, job)
            _charge(tracer, job, ev["Submission Time"] / 1000,
                    (ev.get("Properties") or {}).get(_GROUP))
        elif kind == "SparkListenerStageSubmitted":
            rdds = ev["Stage Info"].get("RDD Info", [])
            scans = any("binaryFile" in (r.get("Scope") or "") + r.get("Name", "") for r in rdds)
            # a stage whose lineage holds an already cached RDD reads that
            # cache, not the files behind it
            if scans and not cached & {r["RDD ID"] for r in rdds}:
                landing_stages.add(ev["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerStageCompleted":
            cached |= {r["RDD ID"] for r in ev["Stage Info"].get("RDD Info", [])
                       if r["Storage Level"].get("Use Memory") or r["Storage Level"].get("Use Disk")}
        elif kind == "SparkListenerTaskEnd":
            js = stats.get(stage_job.get(ev["Stage ID"]))
            m = ev.get("Task Metrics")
            if js is None or m is None:
                continue
            js.tasks += 1
            js.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            js.shuffle_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            if ev["Stage ID"] in landing_stages:
                js.landing_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
    return stats


def _charge(tracer: Tracer, job: int, submitted: float, group: str | None) -> None:
    if group and group.startswith("span-"):
        tracer.spans[int(group[5:])].jobs.append(job)
        return
    best = None
    for i, s in enumerate(tracer.spans):
        if s.start - 0.001 <= submitted <= s.end and (best is None or s.start >= tracer.spans[best].start):
            best = i
    if best is not None:
        tracer.spans[best].jobs.append(job)
