"""Span recording and the counters Spark already keeps.

Spans are taken only around calls the benchmark makes into the engine;
nothing inside the engine is instrumented.  Execution counters come
from Spark's event log (task metrics and the SQL metrics of each plan
node) and from ``QueryExecution.tracker`` (Catalyst phase times).
"""

from __future__ import annotations

import glob
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: int  # index into Tracer.spans, -1 for a root
    exec_id: int


class Tracer:
    """In-memory span list, written out once at the end."""

    def __init__(self):
        self.spans: list[Span] = []

    def add(self, name, start, end, parent, exec_id) -> int:
        self.spans.append(Span(name, start, end, parent, exec_id))
        return len(self.spans) - 1

    def add_within(self, name, start, end, candidates, exec_id, slack=0.002) -> int:
        """Add a span whose parent is the shortest of ``candidates`` that
        encloses it (JVM times are whole milliseconds, hence ``slack``)."""
        enclosing = [
            i for i in candidates
            if self.spans[i].start - slack <= start and end <= self.spans[i].end + slack
        ]
        parent = min(enclosing, key=lambda i: self.spans[i].end - self.spans[i].start)
        return self.add(name, start, end, parent, exec_id)

    def self_times(self) -> dict:
        """Layer name -> summed self time: a span's duration minus the
        part of it its children cover."""
        children: dict = {}
        for i, s in enumerate(self.spans):
            if s.parent >= 0:
                children.setdefault(s.parent, []).append(s)
        out: dict = {}
        for i, s in enumerate(self.spans):
            covered = union_length(
                (max(c.start, s.start), min(c.end, s.end)) for c in children.get(i, ())
            )
            out[s.name] = out.get(s.name, 0.0) + max(0.0, (s.end - s.start) - covered)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def catalyst_phases(df) -> dict:
    """phase -> (start, end) in epoch seconds, from the query's tracker."""
    it = df._jdf.queryExecution().tracker().phases().iterator()
    out = {}
    while it.hasNext():
        e = it.next()
        ph = e._2()
        out[e._1()] = (ph.startTimeMs() / 1000.0, ph.endTimeMs() / 1000.0)
    return out


def plan_text_kb(df) -> float:
    return len(df._jdf.queryExecution().executedPlan().toString()) / 1024.0


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_SQL = "org.apache.spark.sql.execution.ui."
PYTHON_TIME = "time to run Python workers"
PYTHON_SENT = "data sent to Python workers"
ROWS = "number of output rows"


@dataclass
class ExecCounters:
    """What one query execution did, summed over its Spark jobs."""

    job_intervals: list = field(default_factory=list)
    sql_intervals: list = field(default_factory=list)  # SQL executions
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    python_nodes: int = 0
    exchanges: int = 0
    scans: int = 0
    python_time_s: float = 0.0
    python_bytes_sent: int = 0
    python_rows_in: int = 0
    python_rows_out: int = 0


class EventLog:
    """Tails the one uncompressed, non-rolling event log of a session."""

    def __init__(self, log_dir: str):
        self.dir = log_dir
        self.path = None
        self.offset = 0
        self.buf = ""

    def _new_events(self) -> list:
        if self.path is None:
            files = glob.glob(os.path.join(self.dir, "*"))
            if not files:
                return []
            self.path = files[0]
        with open(self.path) as f:
            f.seek(self.offset)
            chunk = f.read()
            self.offset = f.tell()
        self.buf += chunk
        lines = self.buf.split("\n")
        self.buf = lines.pop()
        return [json.loads(line) for line in lines if line]

    def drain(self, timeout: float = 10.0) -> list:
        """Events since the last call, read until every SQL execution
        started in them has ended (the listener bus is asynchronous)."""
        events, open_execs, seen = [], set(), False
        deadline = time.monotonic() + timeout
        while True:
            for e in self._new_events():
                events.append(e)
                kind = e["Event"]
                if kind == _SQL + "SparkListenerSQLExecutionStart":
                    open_execs.add(e["executionId"])
                    seen = True
                elif kind == _SQL + "SparkListenerSQLExecutionEnd":
                    open_execs.discard(e["executionId"])
            if (seen and not open_execs) or time.monotonic() > deadline:
                return events
            time.sleep(0.01)

    @staticmethod
    def counters(events: list) -> ExecCounters:
        c = ExecCounters()
        starts, sql_starts, plans = {}, {}, {}
        acc: dict = {}
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                starts[e["Job ID"]] = e["Submission Time"] / 1000.0
            elif kind == "SparkListenerJobEnd" and e["Job ID"] in starts:
                c.job_intervals.append((starts[e["Job ID"]], e["Completion Time"] / 1000.0))
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                c.tasks += 1
                c.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                c.gc_s += m.get("JVM GC Time", 0) / 1000.0
                c.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                for a in e["Task Info"].get("Accumulables", ()):
                    try:
                        acc[a["ID"]] = acc.get(a["ID"], 0) + int(a["Update"])
                    except (KeyError, TypeError, ValueError):
                        pass
            elif kind == _SQL + "SparkListenerSQLExecutionEnd" and e["executionId"] in sql_starts:
                c.sql_intervals.append((sql_starts[e["executionId"]], e["time"] / 1000.0))
            if kind == _SQL + "SparkListenerSQLExecutionStart":
                sql_starts[e["executionId"]] = e["time"] / 1000.0
            if kind in (_SQL + "SparkListenerSQLExecutionStart",
                        _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                plans[e["executionId"]] = e["sparkPlanInfo"]
        for plan in plans.values():  # the last plan seen is the final one
            _walk_plan(plan, c, acc)
        return c


def _metric_ids(node) -> dict:
    return {m["name"]: m["accumulatorId"] for m in node.get("metrics", ())}


def _rows_below(node, acc) -> int:
    """Output rows of the nearest descendant that counts them."""
    for child in node.get("children", ()):
        ids = _metric_ids(child)
        if ROWS in ids:
            return acc.get(ids[ROWS], 0)
        below = _rows_below(child, acc)
        if below:
            return below
    return 0


def _walk_plan(node, c: ExecCounters, acc: dict) -> None:
    name = node["nodeName"]
    if name == "Exchange":
        c.exchanges += 1
    elif name.startswith("Scan"):
        c.scans += 1
    elif "Python" in name:
        ids = _metric_ids(node)
        c.python_nodes += 1
        c.python_time_s += acc.get(ids.get(PYTHON_TIME), 0) / 1000.0
        c.python_bytes_sent += acc.get(ids.get(PYTHON_SENT), 0)
        c.python_rows_out += acc.get(ids.get(ROWS), 0)
        c.python_rows_in += _rows_below(node, acc)
    for child in node.get("children", ()):
        _walk_plan(child, c, acc)


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> list:
    kids: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory (VmHWM) of the JVM plus every process it
    spawned (the Python worker daemon and its workers)."""
    return sum(_status_kb(p, "VmHWM:") for p in descendants(jvm_pid)) / 1024.0
