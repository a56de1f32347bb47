"""Spans around calls into the program, and the Spark event-log parser that
attributes task metrics to them.

A span records name, start, end, parent and request id. While a span is
open its id is the Spark job group of the calling thread, so every job the
call starts carries the span id in its ``spark.jobGroup.id`` property and
the event log can be folded back onto spans. Spans stay in memory and are
written once, when the run ends.

A disabled tracer (the untraced, end-to-end run) sets no job group and
records nothing.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    request: str | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=f"s{len(self.spans)}", name=name,
            parent=parent.id if parent else None,
            request=request or (parent.request if parent else None),
            start=time.perf_counter(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sp: Span | None) -> None:
        if self.sc is None:
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(sp.id, sp.name, interruptOnCancel=False)

    def self_time(self, sp: Span) -> float:
        """Duration minus the part of it covered by direct children."""
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == sp.id
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            s, e = max(s, sp.start), min(e, sp.end)
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
        return sp.dur - covered

    def to_json(self, by_group: dict) -> list[dict]:
        out = []
        for sp in self.spans:
            d = {
                "id": sp.id, "name": sp.name, "parent": sp.parent,
                "request": sp.request, "start": round(sp.start, 6),
                "end": round(sp.end, 6), "dur_s": round(sp.dur, 6),
                "self_s": round(self.self_time(sp), 6),
            }
            if sp.id in by_group:
                d["spark"] = by_group[sp.id]
            out.append(d)
        return out


# ------------------------------------------------------------- event log

# SQL accumulables on the Python evaluation nodes (ArrowEvalPython,
# MapInPandas, ...), as named by Spark 4.1
PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"

COUNTERS = (
    "jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "executor_run_s", "executor_cpu_s", "gc_s",
    "python_worker_s", "python_bytes_sent", "python_bytes_received",
)


def _acc_value(v) -> float:
    """Accumulable updates are numbers or strings; timing ones are in ms."""
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def parse_event_log(path: str) -> dict[str, dict]:
    """Fold one local JSON-lines event log into per-job-group counters.

    Jobs map to groups through ``spark.jobGroup.id`` in the job-start
    properties; stages map to jobs through the job's stage ids; task
    metrics and task-level SQL accumulables map to stages. Jobs outside
    any group are reported under ``""``. Stages skipped because their
    shuffle output was reused run no tasks and add nothing."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def bucket(g: str) -> dict:
        return out.setdefault(g, {k: 0 for k in COUNTERS})

    stages_seen: set[int] = set()
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                g = props.get("spark.jobGroup.id") or ""
                bucket(g)["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = g
            elif kind == "SparkListenerTaskEnd":
                sid = ev.get("Stage ID")
                g = stage_group.get(sid, "")
                b = bucket(g)
                if sid not in stages_seen:
                    stages_seen.add(sid)
                    b["stages"] += 1
                b["tasks"] += 1
                m = ev.get("Task Metrics") or {}
                b["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                b["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                b["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                b["spill_bytes"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                )
                rd = m.get("Shuffle Read Metrics") or {}
                b["shuffle_read_bytes"] += (
                    rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                )
                wr = m.get("Shuffle Write Metrics") or {}
                b["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    name, upd = acc.get("Name"), _acc_value(acc.get("Update"))
                    if name == PY_TIME:
                        b["python_worker_s"] += upd / 1e3
                    elif name == PY_SENT:
                        b["python_bytes_sent"] += upd
                    elif name == PY_RECV:
                        b["python_bytes_received"] += upd
    return out


def find_event_log(log_dir: str) -> str:
    """The event-log file of the single application logged in ``log_dir``
    (rolling logs are switched off, so it is one file)."""
    apps = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(apps) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {apps}")
    return os.path.join(log_dir, apps[0])


def rollup(tracer: Tracer, by_group: dict[str, dict]) -> dict[str, dict]:
    """Counters per span including its descendants' jobs."""
    kids: dict[str | None, list[Span]] = {}
    for sp in tracer.spans:
        kids.setdefault(sp.parent, []).append(sp)

    def total(sp: Span) -> dict:
        acc = dict(by_group.get(sp.id) or {k: 0 for k in COUNTERS})
        for c in kids.get(sp.id, []):
            for k, v in total(c).items():
                acc[k] += v
        return acc

    return {sp.id: total(sp) for sp in tracer.spans}
