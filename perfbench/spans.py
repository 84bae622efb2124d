"""Spans around calls into the engine's layers, folded with Spark's
own task metrics.

The benchmark wraps each public call it makes in ``Trace.span(name)``.
With tracing on, the span also sets the Spark job group of the calling
thread, so every job the call submits from that thread carries the
span's id in the event log.  After the session stops, ``fold`` reads
the (uncompressed) event log and adds each job's task metrics to the
span that submitted it.

Jobs submitted from threads the engine starts itself carry no group
(Spark's local properties do not cross into plain Python threads).
Their work is reported as unattributed instead of being spread over
spans by guesswork.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: str
    name: str
    parent: str | None
    start: float = 0.0
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    stats: dict[str, float] = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


# task-metric fields folded per span: output name -> (path in the
# "Task Metrics" record, scale to the reported unit)
_TASK_FIELDS = {
    "exec_cpu_s": (("Executor CPU Time",), 1e-9),
    "gc_s": (("JVM GC Time",), 1e-3),
    "shuffle_bytes": (("Shuffle Write Metrics", "Shuffle Bytes Written"), 1),
    "spill_bytes": (("Disk Bytes Spilled",), 1),
}


class Trace:
    """Span recorder.  ``enabled=False`` makes every span a no-op, so
    the untraced run pays nothing for the calls it wraps."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self._sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.job_ranges: dict[int, tuple[float, float]] = {}
        self.unattributed: dict[str, float] = {}

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].sid if self._stack else None
        s = Span(f"pb{len(self.spans)}", name, parent)
        self.spans.append(s)
        self._stack.append(s)
        self._sc.setJobGroup(s.sid, name)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self._stack:
                top = self._stack[-1]
                self._sc.setJobGroup(top.sid, top.name)
            else:
                self._sc.setJobGroup("pb-idle", "outside any span")

    def fold(self, log_dir: str) -> None:
        """Attribute the event log's jobs and task metrics to spans."""
        by_id = {s.sid: s for s in self.spans}
        stage_job: dict[int, int] = {}
        job_span: dict[int, Span | None] = {}
        job_start: dict[int, float] = {}
        per_job: dict[int, dict[str, float]] = {}
        # Spark 4 writes a rolling log: a directory of event files
        paths = sorted(
            os.path.join(d, n) for d, _, names in os.walk(log_dir)
            for n in names if not n.startswith(("appstatus", "."))
        )
        for path in paths:
            with open(path) as f:
                for line in f:
                    if not line.strip():
                        continue
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        jid = ev["Job ID"]
                        props = ev.get("Properties") or {}
                        job_span[jid] = by_id.get(props.get("spark.jobGroup.id"))
                        job_start[jid] = ev["Submission Time"] / 1000.0
                        for st in ev.get("Stage IDs", []):
                            stage_job.setdefault(st, jid)
                    elif kind == "SparkListenerJobEnd":
                        jid = ev["Job ID"]
                        if jid in job_start:
                            self.job_ranges[jid] = (
                                job_start[jid], ev["Completion Time"] / 1000.0
                            )
                    elif kind == "SparkListenerTaskEnd":
                        jid = stage_job.get(ev["Stage ID"])
                        tm = ev.get("Task Metrics")
                        if jid is None or not tm:
                            continue
                        acc = per_job.setdefault(jid, {})
                        for out, (keys, scale) in _TASK_FIELDS.items():
                            v = tm
                            for k in keys:
                                v = v.get(k, 0) if isinstance(v, dict) else 0
                            acc[out] = acc.get(out, 0.0) + float(v) * scale
        tops = [(s.start, s.end) for s in self.spans if s.parent is None]
        for jid, span in job_span.items():
            metrics = per_job.get(jid, {})
            if span is None:
                # only work submitted while a measured call ran counts;
                # set-up jobs outside every span are not measured
                t = job_start[jid]
                if any(a <= t <= b for a, b in tops):
                    for k, v in metrics.items():
                        self.unattributed[k] = self.unattributed.get(k, 0.0) + v
                continue
            span.jobs.append(jid)
            for k, v in metrics.items():
                span.stats[k] = span.stats.get(k, 0.0) + v

    def _inclusive(self) -> dict[str, tuple[list[int], dict[str, float]]]:
        """Per span: its own jobs and metrics plus its descendants'."""
        out = {s.sid: (list(s.jobs), dict(s.stats)) for s in self.spans}
        for s in reversed(self.spans):  # children come after parents
            if s.parent is not None:
                pj, pm = out[s.parent]
                cj, cm = out[s.sid]
                pj.extend(cj)
                for k, v in cm.items():
                    pm[k] = pm.get(k, 0.0) + v
        return out

    def _idle(self, span: Span, jobs: list[int]) -> float:
        """Span wall minus the time at least one of its jobs ran."""
        ivs = sorted(
            (max(a, span.start), min(b, span.end))
            for a, b in (self.job_ranges[j] for j in jobs if j in self.job_ranges)
        )
        busy, cur_a, cur_b = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    busy += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            busy += cur_b - cur_a
        return max(span.wall - busy, 0.0)

    def coverage(self) -> float:
        """Median share of a measured operation's wall covered by the
        layer calls directly inside it."""
        kids: dict[str, float] = {}
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent] = kids.get(s.parent, 0.0) + s.wall
        shares = [
            kids.get(s.sid, 0.0) / s.wall
            for s in self.spans
            if s.parent is None and s.name.startswith("perfbench.") and s.wall > 0
        ]
        return statistics.median(shares) if shares else 0.0

    def layer_table(self) -> dict[str, dict[str, float]]:
        """Median per call of every measure, keyed by span name."""
        inc = self._inclusive()
        rows: dict[str, dict[str, list[float]]] = {}
        for s in self.spans:
            jobs, stats = inc[s.sid]
            r = rows.setdefault(s.name, {})
            vals = {
                "wall_s": s.wall,
                "jobs": float(len(jobs)),
                "driver_idle_s": self._idle(s, jobs),
                **{k: stats.get(k, 0.0) for k in _TASK_FIELDS},
            }
            for k, v in vals.items():
                r.setdefault(k, []).append(v)
        return {
            name: {k: statistics.median(v) for k, v in r.items()} | {"calls": len(r["wall_s"])}
            for name, r in rows.items()
        }
