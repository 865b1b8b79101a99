"""Spans around calls into the program, and the offline event-log rollup.

A span is one timed call from the benchmark's own code into a layer:
name, start, end, parent and run id, held in memory and written out as
JSON lines when the run ends. With tracing on, each span also sets a
Spark job group named after its id, so every Spark job the call starts
carries the span in its properties; the event log (enabled for the
traced run only) then lets :func:`rollup` attribute jobs, stages and
task metrics to spans without touching the program.

Jobs started on threads the span's job group does not reach (the
streaming engine runs ``foreachBatch`` on its own thread, under the
query's run id as job group) are attributed by time instead: to the
innermost span whose interval contains the job's submission. The
benchmark runs one call at a time, so the two rules never disagree.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    run: str
    start: float  # wall clock, seconds since the epoch
    end: float = 0.0
    tags: dict = field(default_factory=dict)

    @property
    def secs(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``sc`` is set only for traced runs; then
    each span also becomes the Spark job group of the calls inside it."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **tags):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=f"{self.run_id}:{len(self.spans)}", name=name,
            parent=parent.id if parent else None, run=self.run_id,
            start=time.time(), tags=tags,
        )
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(s.id, name, interruptOnCancel=False)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent.id, parent.name, interruptOnCancel=False)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


# --- event-log rollup ----------------------------------------------------


@dataclass
class SpanStats:
    jobs: int = 0
    job_secs: float = 0.0  # union of job intervals, so overlapping jobs count once
    stages: int = 0
    tasks: int = 0
    run_secs: float = 0.0
    cpu_secs: float = 0.0
    gc_secs: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    by_group: int = 0  # jobs matched by job group (the rest by time)
    _intervals: list = field(default_factory=list, repr=False)

    def as_dict(self) -> dict:
        d = asdict(self)
        d.pop("_intervals")
        return d


def _union_secs(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
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


def rollup(event_log: str, spans: list[Span]) -> dict[str, SpanStats]:
    """Self (not inclusive) Spark work per span id, from an uncompressed
    event log. Add a span's children to get its inclusive figures."""
    by_id = {s.id: s for s in spans}
    # innermost-first: a later-started span nested in an earlier one wins
    ordered = sorted(spans, key=lambda s: s.start, reverse=True)
    job_span: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_span: dict[int, str] = {}
    stats: dict[str, SpanStats] = {s.id: SpanStats() for s in spans}

    def by_time(t: float) -> str | None:
        for s in ordered:
            if s.start <= t <= s.end:
                return s.id
        return None

    with open(event_log) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                t = ev["Submission Time"] / 1000.0
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                sid = group if group in by_id else by_time(t)
                if sid is None:
                    continue
                st = stats[sid]
                st.jobs += 1
                st.by_group += group in by_id
                job_span[ev["Job ID"]] = sid
                job_start[ev["Job ID"]] = t
                for stage in ev.get("Stage IDs", []):
                    stage_span[stage] = sid
            elif kind == "SparkListenerJobEnd":
                sid = job_span.get(ev["Job ID"])
                if sid is not None:
                    stats[sid]._intervals.append(
                        (job_start[ev["Job ID"]], ev["Completion Time"] / 1000.0))
            elif kind == "SparkListenerStageCompleted":
                sid = stage_span.get(ev["Stage Info"]["Stage ID"])
                if sid is not None:
                    stats[sid].stages += 1
            elif kind == "SparkListenerTaskEnd":
                sid = stage_span.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if sid is None or not m:
                    continue
                st = stats[sid]
                st.tasks += 1
                st.run_secs += m.get("Executor Run Time", 0) / 1e3
                st.cpu_secs += m.get("Executor CPU Time", 0) / 1e9
                st.gc_secs += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics", {})
                st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                st.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
                st.output_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)
    for st in stats.values():
        st.job_secs = _union_secs(st._intervals)
    return stats


def inclusive(stats: dict[str, SpanStats], spans: list[Span], root: str) -> SpanStats:
    """Sum of a span's own stats and all its descendants'. Job time is
    the union over the whole subtree."""
    kids: dict[str, list[str]] = {}
    for s in spans:
        if s.parent:
            kids.setdefault(s.parent, []).append(s.id)
    out, todo = SpanStats(), [root]
    while todo:
        sid = todo.pop()
        st = stats[sid]
        for k, v in st.as_dict().items():
            setattr(out, k, getattr(out, k) + v)
        out._intervals.extend(st._intervals)
        todo.extend(kids.get(sid, []))
    out.job_secs = _union_secs(out._intervals)
    return out
