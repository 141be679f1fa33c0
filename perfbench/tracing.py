"""Tracing for the benchmark's traced runs.

Everything here observes the program from outside: spans around the
benchmark's own calls into each layer, Spark job-group counts, the Spark
event log, a streaming query listener and the final physical plan string.
Spans are kept in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import json
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span recorder. A span opened inside another becomes its
    child; spans of one op share the op id."""

    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(len(self.spans), name, time.perf_counter(), 0.0, parent.id if parent else None, op)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def to_json(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "start": s.start, "end": s.end, "parent": s.parent, "op": s.op}
            for s in self.spans
        ]


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name, the summed duration not covered by child spans.
    Children of one parent never overlap here (one client thread), so a
    parent's covered time is the sum of its children's durations."""
    child_time: dict[int, float] = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] += s.dur
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.name] += s.dur - child_time[s.id]
    return dict(out)


# -- Spark event log ----------------------------------------------------------


@dataclass
class GroupExec:
    """Task-side totals of the jobs of one job group, from the event log."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def parse_event_log(lines) -> dict[str, GroupExec]:
    """Sum task metrics per job group (``spark.jobGroup.id``) over the JSON
    lines of a Spark event log. Jobs without a group land under ``""``.
    A stage shared by several jobs counts toward the job that submitted it
    first, which is the one that ran its tasks."""
    stage_group: dict[int, str] = {}
    out: dict[str, GroupExec] = defaultdict(GroupExec)
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out[group].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            out[stage_group.get(sid, "")].stages += 1
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            g = out[stage_group.get(ev["Stage ID"], "")]
            g.tasks += 1
            g.task_run_s += m.get("Executor Run Time", 0) / 1e3
            g.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            g.gc_s += m.get("JVM GC Time", 0) / 1e3
            g.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return dict(out)


# -- physical plan --------------------------------------------------------------

# a plan line: tree drawing, then an optional whole-stage-codegen id "*(n) "
_NODE = r"^[\s+:\-]*(?:\*\(\d+\)\s*)?"
_EXCHANGE = re.compile(_NODE + r"(?:Exchange|ShuffleExchange|BroadcastExchange)\b", re.M)
_BROADCAST_JOIN = re.compile(_NODE + r"Broadcast(?:HashJoin|NestedLoopJoin)\b", re.M)


def plan_summary(plan: str) -> dict[str, int]:
    """Exchanges, broadcast joins and file scans of a final physical plan
    string. Under AQE only the ``Final Plan`` section is counted."""
    from parquet_storage_query_spark.plans.explain import read_schemas

    plan = plan.split("== Initial Plan ==")[0]
    return {
        "exchanges": len(_EXCHANGE.findall(plan)),
        "broadcasts": len(_BROADCAST_JOIN.findall(plan)),
        "scans": len(read_schemas(plan)),
    }


# -- streaming ---------------------------------------------------------------


class StreamProgress(StreamingQueryListener):
    """Collects micro-batch progress of every streaming query. Events arrive
    on the listener thread; ``drain`` waits until every started query has
    reported its termination, then hands back and clears what arrived, with
    the run ids of the queries, which Spark uses as their jobs' group."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._started = 0
        self._ended = 0
        self._drained = 0  # terminations seen by the last drain
        self._progress: list[dict] = []
        self._run_ids: list[str] = []

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self._started += 1
            self._run_ids.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = p.durationMs or {}
        rec = {
            "rows": p.numInputRows,
            "add_batch_s": d.get("addBatch", 0) / 1e3,
            "commit_s": (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3,
            "state_commit_s": sum(s.commitTimeMs for s in p.stateOperators) / 1e3,
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
        }
        with self._lock:
            self._progress.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self._ended += 1

    def drain(self, timeout: float = 10.0) -> tuple[list[dict], list[str]]:
        """Called after an op that ran at least one streaming query: waits
        for a termination not yet drained and for every start to have
        ended, then returns (progress records, run ids) since the last drain."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self._lock:
                if self._ended > self._drained and self._ended >= self._started:
                    break
            time.sleep(0.01)
        with self._lock:
            self._drained = self._ended
            out, self._progress = self._progress, []
            ids, self._run_ids = self._run_ids, []
        return out, ids


def stream_totals(progress: list[dict]) -> dict[str, float]:
    """Batches and summed times of a list of progress records; state rows
    are those held after the last batch."""
    return {
        "batches": len(progress),
        "add_batch_s": sum(p["add_batch_s"] for p in progress),
        "commit_s": sum(p["commit_s"] for p in progress),
        "state_commit_s": sum(p["state_commit_s"] for p in progress),
        "state_rows": progress[-1]["state_rows"] if progress else 0,
    }
