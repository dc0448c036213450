"""Per-layer metrics of a traced run, named after the engine's layers.

``batch`` (market and curation ids): each timed operation runs under
its own Spark job group, so the event log splits cleanly by id and
pass.  A metric is the sum over the workload's ids of that id's
median across passes: the cost of one pass.

``ingest``: jobs submitted inside the measured window (both queries)
divided by the table query's micro-batches in that window: the cost of
one micro-batch.  Streaming-only layers come from the query progress,
the checkpoint logs and the spooler (``ingest.py``).  A layer a
workload does not touch is absent here and reads 0.

Which end-to-end metric each layer should move is written down in
README.md.
"""

from __future__ import annotations

import os
import statistics
from collections import defaultdict

from perfbench.trace import EventLog, covered_s, find_event_log, job_span_s

# event-log counter -> per-layer metric name
EXEC_NAMES = {
    "stages": "exec.stages",
    "skipped_stages": "exec.skipped_stages",
    "tasks": "exec.tasks",
    "run_ms": "exec.run_ms",
    "cpu_ms": "exec.cpu_ms",
    "gc_ms": "exec.gc_ms",
    "shuffle_write_bytes": "shuffle.write_bytes",
    "shuffle_read_bytes": "shuffle.read_bytes",
    "shuffle_records": "shuffle.records",
    "fetch_wait_ms": "shuffle.fetch_wait_ms",
    "spill_bytes": "spill.bytes",
    "input_bytes": "scan.input_bytes",
    "input_rows": "scan.input_rows",
    "rescans": "scan.rescans",
    "udf_bytes": "udf.bytes_to_python",
    "udf_rows": "udf.rows_from_python",
}


def id_record(log: EventLog, rec: dict) -> dict:
    """One timed operation's layers: builder, driver planning, executed
    work."""
    jobs = log.jobs_where(lambda j: j["group"] == rec["group"])
    (b0, b1), (e0, e1) = rec["build"], rec["execute"]
    build_jobs = [j for j in jobs if j["submit_ms"] / 1000.0 < b1]
    exec_jobs = [j for j in jobs if j["submit_ms"] / 1000.0 >= b1]
    out = {
        "build_s": b1 - b0,
        "build.jobs": len(build_jobs),
        "plan.jobs": len(exec_jobs),
        "plan.driver_s": (e1 - e0) - covered_s(
            [job_span_s(j) for j in exec_jobs], e0, e1
        ),
        "persist.cached_bytes": rec.get("cached_bytes", 0),
    }
    for k, v in log.layers(jobs).items():
        out[EXEC_NAMES[k]] = v
    return out


def _batch_layers(log: EventLog, res: dict) -> tuple[dict, list[dict]]:
    per_id: dict[str, list[dict]] = defaultdict(list)
    records = []
    for rec in res["records"]:
        r = id_record(log, rec)
        records.append({"id": rec["id"], "pass": rec["pass"], "op_s": rec["op_s"], **r})
        per_id[rec["id"]].append(r)
    out: dict[str, float] = defaultdict(float)
    for runs in per_id.values():
        for k in runs[0]:
            out[k] += statistics.median(r[k] for r in runs)
    return dict(out), records


def _ingest_layers(log: EventLog, res: dict) -> dict:
    w0, w1 = res["window"]
    jobs = log.jobs_where(lambda j: w0 <= j["submit_ms"] / 1000.0 <= w1)
    batches = res["stream_batches"]
    n = max(1, sum(1 for b in batches if b["query"] == "table"))
    by_group: dict[str, list] = defaultdict(list)
    for j in jobs:
        by_group[j["group"]].append(job_span_s(j))
    driver = sum(
        (b["end"] - b["start"]) - covered_s(by_group[b["run_id"]], b["start"], b["end"])
        for b in batches
    )
    out = {k: v / n for k, v in
           ((EXEC_NAMES[k], v) for k, v in log.layers(jobs).items())}
    out.update({"plan.jobs": len(jobs) / n, "plan.driver_s": driver / n})
    out.update(res["layers"])
    return out


def per_layer(workload: str, res: dict, run_dir: str) -> tuple[dict, list[dict]]:
    """Per-layer metric values for the run and, for batch workloads,
    one record per timed operation."""
    log = EventLog.read(find_event_log(os.path.join(run_dir, "eventlog")))
    if workload == "ingest":
        out, records = _ingest_layers(log, res), []
    else:
        out, records = _batch_layers(log, res)
    stages = out["exec.stages"] + out["exec.skipped_stages"]
    out["exec.reuse_ratio"] = out["exec.skipped_stages"] / stages if stages else 0.0
    return out, records
