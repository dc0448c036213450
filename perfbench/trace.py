"""Tracing for the benchmark's traced run: in-memory spans, the Spark
event log and the streaming checkpoint logs, all read with stdlib
``json``.

Spans are recorded only from the benchmark's own files, around the
calls it makes into each engine layer; nothing inside the engine is
instrumented.  The event log (``spark.eventLog.enabled``, uncompressed
because ``zstandard`` is not installed) supplies the executed side:
jobs, stages, tasks and their metrics, and the SQL plans they ran.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Iterator

# Physical operators that move rows through Arrow-Python workers.
PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "MapInPandas",
    "MapInArrow",
    "AggregateInPandas",
    "WindowInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInArrow",
    "ArrowWindowPython",
    "ArrowAggregatePython",
)


class Tracer:
    """Spans kept in memory and written once when the run ends.  A
    disabled tracer records nothing, so untraced runs pay one branch
    per span."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        if not self.enabled:
            return
        with self._lock:
            self.spans.append({"id": len(self.spans), "name": name,
                               "start": start, "end": end, **attrs})

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[None]:
        start = time.time()
        try:
            yield
        finally:
            self.add(name, start, time.time(), **attrs)

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# --- Spark event log ---------------------------------------------------------


def _int(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def _walk(plan: dict) -> Iterator[dict]:
    yield plan
    for child in plan.get("children", ()):
        yield from _walk(child)


class EventLog:
    """The parts of one application's event log the per-layer metrics
    need, indexed by job, stage and SQL execution."""

    def __init__(self) -> None:
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = defaultdict(_new_stage)
        self.plans: dict[int, dict] = {}  # execution id -> latest plan
        self.python_rows_ids: set[int] = set()

    @classmethod
    def read(cls, path: str) -> "EventLog":
        log = cls()
        with open(path) as fh:
            for line in fh:
                log._add(json.loads(line))
        return log

    def _add(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            self.jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "execution": _int(props.get("spark.sql.execution.id", -1)),
                "submit_ms": ev["Submission Time"],
                "end_ms": None,
                "stage_ids": list(ev.get("Stage IDs", ())),
            }
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(ev["Job ID"])
            if job is not None:
                job["end_ms"] = ev["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            self.stages[ev["Stage Info"]["Stage ID"]]["ran"] = True
        elif kind == "SparkListenerTaskEnd":
            self._add_task(ev)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            plan = ev["sparkPlanInfo"]
            self.plans[ev["executionId"]] = plan
            for node in _walk(plan):
                if node.get("nodeName", "").startswith(PYTHON_NODES):
                    for m in node.get("metrics", ()):
                        if m.get("name") == "number of output rows":
                            self.python_rows_ids.add(m["accumulatorId"])

    def _add_task(self, ev: dict) -> None:
        st = self.stages[ev["Stage ID"]]
        st["ran"] = True
        st["tasks"] += 1
        tm = ev.get("Task Metrics") or {}
        st["run_ms"] += _int(tm.get("Executor Run Time"))
        st["cpu_ms"] += _int(tm.get("Executor CPU Time")) / 1e6
        st["gc_ms"] += _int(tm.get("JVM GC Time"))
        st["spill_bytes"] += _int(tm.get("Memory Bytes Spilled")) + _int(
            tm.get("Disk Bytes Spilled")
        )
        sr = tm.get("Shuffle Read Metrics") or {}
        st["shuffle_read_bytes"] += _int(sr.get("Remote Bytes Read")) + _int(
            sr.get("Local Bytes Read")
        )
        st["fetch_wait_ms"] += _int(sr.get("Fetch Wait Time"))
        sw = tm.get("Shuffle Write Metrics") or {}
        st["shuffle_write_bytes"] += _int(sw.get("Shuffle Bytes Written"))
        st["shuffle_records"] += _int(sw.get("Shuffle Records Written"))
        inp = tm.get("Input Metrics") or {}
        st["input_bytes"] += _int(inp.get("Bytes Read"))
        st["input_rows"] += _int(inp.get("Records Read"))
        for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
            if acc.get("Name") == "data sent to Python workers":
                st["udf_bytes"] += _int(acc.get("Update"))
            elif acc.get("ID") in self.python_rows_ids:
                st["udf_rows"] += _int(acc.get("Update"))

    def jobs_where(self, pred) -> list[dict]:
        return [j for j in self.jobs.values() if pred(j)]

    def layers(self, jobs: list[dict]) -> dict:
        """Executed-side counters summed over ``jobs``."""
        out = dict.fromkeys(STAGE_FIELDS, 0)
        out.update(stages=0, skipped_stages=0)
        seen: set[int] = set()
        for job in jobs:
            for sid in job["stage_ids"]:
                if sid in seen:
                    continue
                seen.add(sid)
                st = self.stages.get(sid)
                if st is None or not st["ran"]:
                    out["skipped_stages"] += 1
                    continue
                out["stages"] += 1
                for k in STAGE_FIELDS:
                    out[k] += st[k]
        out["rescans"] = self.rescans(
            {j["execution"] for j in jobs if j["execution"] >= 0}
        )
        return out

    def rescans(self, executions: set[int]) -> int:
        """File scans beyond the first of each relation across the
        final plans of ``executions``: the same table read twice."""
        seen: dict[str, int] = defaultdict(int)
        for eid in executions:
            plan = self.plans.get(eid)
            if plan is None:
                continue
            for node in _walk(plan):
                if node.get("nodeName", "").startswith("Scan "):
                    meta = node.get("metadata") or {}
                    seen[meta.get("Location", node.get("simpleString", ""))] += 1
        return sum(n - 1 for n in seen.values())


STAGE_FIELDS = (
    "tasks",
    "run_ms",
    "cpu_ms",
    "gc_ms",
    "spill_bytes",
    "shuffle_read_bytes",
    "fetch_wait_ms",
    "shuffle_write_bytes",
    "shuffle_records",
    "input_bytes",
    "input_rows",
    "udf_bytes",
    "udf_rows",
)


def _new_stage() -> dict:
    return {"ran": False, **dict.fromkeys(STAGE_FIELDS, 0)}


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def job_span_s(job: dict) -> tuple[float, float]:
    end = job["end_ms"] if job["end_ms"] is not None else job["submit_ms"]
    return job["submit_ms"] / 1000.0, end / 1000.0


def find_event_log(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {names}")
    return os.path.join(log_dir, names[0])


# --- streaming checkpoint logs -----------------------------------------------


def read_log_entries(log_dir: str) -> list[dict]:
    """Entries of a compactible metadata log (file-source
    ``sources/0`` or file-sink ``_spark_metadata``).  Every tenth batch
    rewrites all earlier entries into ``N.compact`` and later readers
    see only the newest compact file plus the plain files after it, so
    the batch of an entry must come from the entry's own ``batchId``,
    never from the name of the file that holds it."""
    files = []
    for name in os.listdir(log_dir):
        stem = name.removesuffix(".compact")
        if stem.isdigit():
            files.append((int(stem), name))
    files.sort()
    compacts = [n for n in files if n[1].endswith(".compact")]
    if compacts:
        files = [f for f in files if f[0] >= compacts[-1][0]]
    entries: list[dict] = []
    for batch, name in files:
        with open(os.path.join(log_dir, name)) as fh:
            lines = fh.read().splitlines()
        for line in lines[1:]:  # line 0 is the version marker ("v1")
            if line.strip():
                entry = json.loads(line)
                entry.setdefault("batchId", batch)
                entries.append(entry)
    return entries


def batch_file_times(ckpt_dir: str, kind: str) -> dict[int, float]:
    """mtime of each ``offsets/N`` (batch planned) or ``commits/N``
    (batch committed) file in a query checkpoint, by batch id."""
    out = {}
    d = os.path.join(ckpt_dir, kind)
    for name in os.listdir(d):
        if name.isdigit():
            out[int(name)] = os.stat(os.path.join(d, name)).st_mtime
    return out


def source_files_by_batch(ckpt_dir: str) -> dict[str, int]:
    """Source file name (basename) -> micro-batch id that read it."""
    return {
        os.path.basename(e["path"]): e["batchId"]
        for e in read_log_entries(os.path.join(ckpt_dir, "sources", "0"))
    }
