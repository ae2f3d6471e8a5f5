"""Span and counter recorder for the traced benchmark run.

Spans are recorded in memory around the public calls of each layer (the
benchmark wraps the names the callers look up; the program itself is not
changed).  Spark counters are read from three stores that stay live with
``spark.ui.enabled=false``:

- the status tracker's listener bus, drained before every read;
- the JVM app status store (jobs and stage attempts: tasks, run and CPU
  time, input, shuffle and spill bytes);
- the SQL status store (per-operator metrics: rows into Python nodes,
  state-store rows and commit time, files read, micro-batch ids).

The benchmark drives one client, so a job, stage or SQL execution belongs
to every span whose time window contains its submission time.
"""

from __future__ import annotations

import functools
import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1024.0 * 1024.0

# Python-boundary operators: rows into these nodes cross into Python workers.
_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")
_STATEFUL_NODE = re.compile(r"State|Deduplicate|SymmetricHashJoin")
_BATCH_DESC = re.compile(r"runId = (\S+)\s+batch = (\d+)")
_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": MB, "GiB": MB * 1024, "TiB": MB * MB}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, comparable with the JVM's epoch-ms timestamps
    end: float = 0.0
    parent: "Span | None" = None
    children: list = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        """Duration minus the part of the interval child spans cover."""
        return self.duration - sum(c.duration for c in self.children)

    def contains(self, epoch_ms: float | None) -> bool:
        return epoch_ms is not None and self.start * 1000.0 <= epoch_ms <= self.end * 1000.0


def parse_metric(text: str | None) -> float:
    """Numeric value of a formatted SQL metric (sum, size or timing); sizes
    in bytes and timings in seconds."""
    if not text:
        return 0.0
    line = text.split("\n")[-1].strip()  # "total (min, med, max)\n<total> (...)"
    tok = line.split(" (")[0].split()
    try:
        value = float(tok[0].replace(",", ""))
    except (IndexError, ValueError):
        return 0.0
    unit = tok[1] if len(tok) > 1 else ""
    if unit in _SIZE_UNITS:
        return value * _SIZE_UNITS[unit]
    return value * _TIME_UNITS.get(unit, 1.0)


class SparkCounters:
    """Incremental reader of the app and SQL status stores."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$")
        self._json.registerModule(scala)
        self.next_job = 0
        self.next_execution = 0
        self.jobs: list[dict] = []
        self.stages: list[dict] = []
        self.executions: list[dict] = []

    def _read(self, obj) -> dict:
        return json.loads(self._json.writeValueAsString(obj))

    def harvest(self) -> None:
        """Copy every job, stage attempt and SQL execution finished since the
        last call into Python; call it between operations, never inside a
        timed region."""
        from py4j.protocol import Py4JJavaError

        self._sc.listenerBus().waitUntilEmpty()
        while True:
            try:
                job = self._read(self._store.job(self.next_job))
            except Py4JJavaError:
                break  # no such job yet
            self.next_job += 1
            self.jobs.append(job)
            for sid in job["stageIds"]:
                try:
                    st = self._read(self._store.lastStageAttempt(sid))
                except Py4JJavaError:
                    continue
                if st["status"] != "SKIPPED":
                    self.stages.append(st)
        misses = 0
        while misses < 8:  # execution ids can skip a few numbers
            opt = self._sql.execution(self.next_execution + misses)
            if opt.isEmpty():
                misses += 1
                continue
            self.next_execution += misses + 1
            misses = 0
            self.executions.append(self._execution(opt.get()))

    def _execution(self, ui) -> dict:
        eid = ui.executionId()
        graph = self._read(self._sql.planGraph(eid))
        values = self._read(self._sql.executionMetrics(eid))
        nodes: dict[int, dict] = {}

        def walk(items):
            for n in items:
                nodes[n["id"]] = n
                walk(n.get("nodes", []))

        walk(graph["nodes"])
        children: dict[int, list[int]] = {}
        for e in graph["edges"]:
            children.setdefault(e["toId"], []).append(e["fromId"])

        def metric(node, name) -> float | None:
            for m in node["metrics"]:
                if m["name"] == name:
                    v = values.get(str(m["accumulatorId"]))
                    return parse_metric(v) if v is not None else None
            return None

        def rows_into(nid) -> float:
            total = 0.0
            for cid in children.get(nid, []):
                child = nodes.get(cid)
                if child is None:
                    continue
                rows = metric(child, "number of output rows")
                if rows is None:
                    rows = metric(child, "records read")
                total += rows if rows is not None else rows_into(cid)
            return total

        seen: set[int] = set()
        python_rows = state_rows = commit_s = files_read = 0.0
        for nid, node in nodes.items():
            accs = tuple(m["accumulatorId"] for m in node["metrics"])
            if not accs or accs[0] in seen:
                continue  # a subtree repeated in the graph reports one set of metrics
            seen.add(accs[0])
            if _PYTHON_NODE.search(node["name"]):
                python_rows += rows_into(nid)
            if _STATEFUL_NODE.search(node["name"]):
                state_rows += metric(node, "number of updated state rows") or 0.0
                commit_s += metric(node, "time to commit changes") or 0.0
            files_read += metric(node, "number of files read") or 0.0
        desc = ui.description() or ""
        batch = _BATCH_DESC.search(desc)
        return {
            "submission": ui.submissionTime(),
            "batch": batch.groups() if batch else None,
            "python_rows": python_rows,
            "state_rows": state_rows,
            "state_commit_s": commit_s,
            "files_read": files_read,
        }

    def within(self, span: Span) -> dict:
        """Counters of everything submitted inside ``span``'s window."""
        jobs = [j for j in self.jobs if span.contains(j["submissionTime"])]
        stages = [s for s in self.stages if span.contains(s.get("submissionTime"))]
        execs = [e for e in self.executions if span.contains(e["submission"])]
        busy = _covered(
            [(s["submissionTime"] / 1000.0, (s.get("completionTime") or s["submissionTime"]) / 1000.0) for s in stages],
            span.start,
            span.end,
        )
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s["numTasks"] for s in stages),
            "failed_tasks": sum(s["numFailedTasks"] for s in stages),
            "task_run_s": sum(s["executorRunTime"] for s in stages) / 1000.0,
            "task_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "scan_mb": sum(s["inputBytes"] for s in stages) / MB,
            "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / MB,
            "spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages) / MB,
            "driver_s": span.duration - busy,
            "python_rows": sum(e["python_rows"] for e in execs),
            "state_rows": sum(e["state_rows"] for e in execs),
            "state_commit_s": sum(e["state_commit_s"] for e in execs),
            "files_read": sum(e["files_read"] for e in execs),
            "batches": len({e["batch"] for e in execs if e["batch"]}),
        }

    def storage(self) -> tuple[int, float]:
        """(persisted RDDs, MB they hold in memory and on disk)."""
        infos = self._sc.getRDDStorageInfo()
        cached = sum(i.memSize() + i.diskSize() for i in infos)
        return self._sc.getPersistentRDDs().size(), cached / MB


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


class Tracer:
    """In-memory spans plus the wrappers that record them."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time(), parent=parent)
        if parent is not None:
            parent.children.append(s)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def patch(self, owner, attr: str, new) -> None:
        """Replace ``owner.attr`` until :meth:`restore`."""
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Record a span named ``name`` around every call of ``owner.attr``
        (a module function or a plain method)."""
        target = getattr(owner, attr)

        @functools.wraps(target)
        def traced(*args, **kwargs):
            with self.span(name):
                return target(*args, **kwargs)

        self.patch(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def named(self, name: str, within: Span | None = None) -> list[Span]:
        spans = self.spans if within is None else _descendants(within)
        return [s for s in spans if s.name == name]

    def dump(self, path: str) -> None:
        """Write the spans out (JSON lines: name, start, end, parent index)."""
        index = {id(s): i for i, s in enumerate(self.spans)}
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                parent = index.get(id(s.parent)) if s.parent is not None else None
                f.write(json.dumps({"name": s.name, "start": s.start, "end": s.end, "parent": parent}) + "\n")


def _descendants(span: Span) -> list[Span]:
    out = []
    for c in span.children:
        out.append(c)
        out.extend(_descendants(c))
    return out


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this process plus its JVM child, from /proc."""
    me = os.getpid()
    total = _hwm_kb(me)
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat", encoding="utf-8") as f:
                stat = f.read()
        except OSError:
            continue
        comm_end = stat.rfind(")")
        fields = stat[comm_end + 2:].split()
        if int(fields[1]) == me and "java" in stat[stat.find("(") + 1:comm_end]:
            total += _hwm_kb(int(pid))
    return total / 1024.0


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="utf-8") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0
