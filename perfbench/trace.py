"""Spans around calls into grove_spark, and the fold of Spark's event log
onto them.

The benchmark never edits the program: it replaces the module attribute a
caller resolves (``pipeline.write_partitioned_parquet`` is bound at import,
``config.run_fleet`` imports ``operators.sinks.write_partitioned_parquet``
at call time, so each is patched where it is looked up) with a wrapper that
records a span and labels every Spark job started inside it with the span's
id through ``setJobDescription``. After the session stops, ``fold`` reads the
uncompressed event log and attributes each task to the span whose id its
stage carries.

This module has no Spark import: ``fold`` and ``self_times`` run on plain
lists, so the tests feed them synthetic spans and event-log lines.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import dataclass

DESC_PREFIX = "perfbench:"
UNATTRIBUTED = "unattributed"


@dataclass
class Span:
    sid: int
    name: str
    op: str
    parent: int | None
    start: float  # epoch seconds, the event log's clock
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans. ``set_desc`` is the job-description setter (the
    SparkContext's, or None to record spans without labelling jobs)."""

    def __init__(self, set_desc=None):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._set_desc = set_desc
        self._patches: list[tuple] = []
        self.op = ""

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, self.op, parent, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._label(s.sid)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._label(self._stack[-1].sid if self._stack else None)

    def _label(self, sid):
        if self._set_desc is not None:
            self._set_desc(None if sid is None else f"{DESC_PREFIX}{sid}")

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a module or class attribute) by a spanned
        wrapper; ``unwrap_all`` restores it."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def spanned(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, spanned)

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> wall minus the union of its direct children's intervals
    (clipped to the span)."""
    kids: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.sid, [])
        )
        out[s.sid] = s.wall - covered
    return out


@dataclass
class OpSpark:
    """Spark engine figures for one op, folded from the event log."""

    jobs: int = 0
    task_s: float = 0.0
    unattributed_s: float = 0.0  # task time inside the op with no span id
    root_s: float = 0.0  # task time labelled only with the op's root span
    driver_only_s: float = 0.0
    rows_read: int = 0
    bytes_read: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class Fold:
    per_op: dict  # op id -> OpSpark
    task_s_by_span: dict  # span id or UNATTRIBUTED -> task seconds
    jobs_by_span: dict  # span id or UNATTRIBUTED -> job count


def _span_of(props: dict | None, known: set):
    desc = (props or {}).get("spark.job.description") or ""
    if desc.startswith(DESC_PREFIX):
        sid = int(desc[len(DESC_PREFIX):])
        if sid in known:
            return sid
    return UNATTRIBUTED


def fold(spans: list[Span], events) -> Fold:
    """Attribute jobs and tasks to spans by job description.

    ``events`` is an iterable of event-log dicts. A task belongs to the span
    named by its stage's description; a task whose stage carries no span id
    is counted under ``UNATTRIBUTED``, and as the ``unattributed_s`` of the
    op whose root span it started in. Task time labelled with a root span
    (no layer below it) is also the op's ``root_s``. Driver-only time of an op is its root
    spans' wall minus the union of its attributed task intervals.
    """
    by_id = {s.sid: s for s in spans}
    known = set(by_id)
    stage_span: dict = {}
    jobs_by_span: dict = {}
    tasks = []  # (span, launch_s, finish_s, metrics)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            sid = _span_of(ev.get("Properties"), known)
            jobs_by_span[sid] = jobs_by_span.get(sid, 0) + 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            stage_span[key] = _span_of(ev.get("Properties"), known)
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            info = ev["Task Info"]
            tasks.append((
                stage_span.get(key, UNATTRIBUTED),
                info["Launch Time"] / 1000.0,
                info["Finish Time"] / 1000.0,
                ev.get("Task Metrics") or {},
            ))

    per_op: dict = {}
    roots = {}
    for s in spans:
        per_op.setdefault(s.op, OpSpark())
        if s.parent is None:
            roots.setdefault(s.op, []).append(s)
    for sid, n in jobs_by_span.items():
        if sid != UNATTRIBUTED:
            per_op[by_id[sid].op].jobs += n
    task_s_by_span: dict = {}
    intervals_by_op: dict = {}
    for sid, t0, t1, m in tasks:
        task_s_by_span[sid] = task_s_by_span.get(sid, 0.0) + (t1 - t0)
        if sid == UNATTRIBUTED:
            for op_id, rs in roots.items():
                if any(r.start <= t0 <= r.end for r in rs):
                    per_op[op_id].unattributed_s += t1 - t0
            continue
        op = per_op[by_id[sid].op]
        op.task_s += t1 - t0
        if by_id[sid].parent is None:
            op.root_s += t1 - t0
        inp = m.get("Input Metrics") or {}
        op.rows_read += inp.get("Records Read", 0)
        op.bytes_read += inp.get("Bytes Read", 0)
        op.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        op.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        intervals_by_op.setdefault(by_id[sid].op, []).append((t0, t1))
    for op_id, rs in roots.items():
        wall = sum(r.wall for r in rs)
        busy = sum(
            union_length(
                (max(t0, r.start), min(t1, r.end))
                for t0, t1 in intervals_by_op.get(op_id, [])
            )
            for r in rs
        )
        per_op[op_id].driver_only_s = wall - busy
    return Fold(per_op, task_s_by_span, jobs_by_span)


def read_event_log(path: str):
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)
