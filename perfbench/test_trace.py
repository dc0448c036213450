"""Self-test of the benchmark's parsers, on recorded fixtures.

    python3 -m pytest perfbench/test_trace.py -q     (from the repo root)

``fixtures/eventlog.jsonl`` is a Spark 4.1 event log of four tagged job
groups (a shuffle aggregate, a self-join that scans one table twice, an
Arrow pandas UDF over 1000 rows, and an RDD shuffle reused by a second
job), trimmed to the events the parser reads.  ``fixtures/checkpoint``
is the file-source log of twelve one-file micro-batches, compacted at
batch 9.
"""

from __future__ import annotations

import json
import os

from perfbench import gen
from perfbench.ingest import _minute_files
from perfbench.layers import id_record
from perfbench.trace import (
    EventLog,
    covered_s,
    job_span_s,
    read_log_entries,
    source_files_by_batch,
)

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


def _log() -> EventLog:
    return EventLog.read(os.path.join(FIXTURES, "eventlog.jsonl"))


def _group(log: EventLog, group: str) -> tuple[list[dict], dict]:
    jobs = log.jobs_where(lambda j: j["group"] == group)
    return jobs, log.layers(jobs)


def test_eventlog_counts_per_job_group():
    log = _log()
    jobs, agg = _group(log, "agg")
    assert len(jobs) == 2
    assert (agg["stages"], agg["skipped_stages"], agg["tasks"]) == (2, 1, 3)
    assert (agg["input_rows"], agg["shuffle_records"]) == (1000, 14)
    assert agg["shuffle_write_bytes"] == agg["shuffle_read_bytes"] > 0
    assert agg["udf_rows"] == agg["rescans"] == 0

    _, join = _group(log, "selfjoin")
    assert join["rescans"] == 1  # t.parquet read on both join sides
    assert (join["input_rows"], join["shuffle_records"]) == (2000, 2000)

    _, udf = _group(log, "udf")
    assert udf["udf_rows"] == 1000 and udf["udf_bytes"] > 0
    assert udf["shuffle_write_bytes"] == 0

    jobs, skip = _group(log, "skip")
    assert len(jobs) == 2
    assert (skip["stages"], skip["skipped_stages"]) == (3, 1)


def test_id_record_splits_build_from_execute():
    log = _log()
    jobs, _ = _group(log, "agg")
    spans = sorted(job_span_s(j) for j in jobs)
    # pretend the first job ran eagerly inside the builder
    rec = {"group": "agg", "build": (spans[0][0] - 0.5, spans[0][1]),
           "execute": (spans[0][1], spans[1][1] + 0.25)}
    r = id_record(log, rec)
    assert (r["build.jobs"], r["plan.jobs"]) == (1, 1)
    e0, e1 = rec["execute"]
    assert abs(r["plan.driver_s"] - ((e1 - e0) - (spans[1][1] - spans[1][0]))) < 1e-9
    assert r["exec.stages"] == 2 and r["scan.input_rows"] == 1000


def test_covered_s_merges_and_clips():
    assert covered_s([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered_s([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    assert covered_s([(4, 3)], 0, 10) == 0
    assert covered_s([], 0, 1) == 0


def test_compacted_source_log_maps_files_by_batch_id():
    log_dir = os.path.join(FIXTURES, "checkpoint", "sources", "0")
    entries = read_log_entries(log_dir)
    assert sorted(e["batchId"] for e in entries) == list(range(12))
    by_file = source_files_by_batch(os.path.join(FIXTURES, "checkpoint"))
    assert sorted(by_file.values()) == list(range(12))
    # the compact file holds batches 0-9; its name would claim all of them
    with open(os.path.join(log_dir, "9.compact")) as fh:
        compacted = [json.loads(x) for x in fh.read().splitlines()[1:]]
    assert sorted(e["batchId"] for e in compacted) == list(range(10))
    for e in compacted:
        assert by_file[os.path.basename(e["path"])] == e["batchId"]


def _msg(trade_id: int, t_ms: int) -> str:
    return json.dumps({"e": "trade", "s": "BTCUSDT", "t": trade_id, "p": "1.0",
                       "q": "1.00000000", "T": t_ms, "m": False})


def test_minute_files_follow_the_spooler_rotation():
    m0 = gen.EVENT0_MS
    msgs = [_msg(1, m0), _msg(2, m0 + 59_000), _msg(3, m0 + 60_000),
            _msg(4, m0 + 30_000),  # out of order: joins the open minute-1 file
            _msg(5, m0 + 125_000)]
    first = m0 // 1000
    assert _minute_files(msgs) == {
        f"{first}.tsv": 1, f"{first + 60}.tsv": 3, f"{first + 120}.tsv": 4,
    }


def test_trade_stream_is_seeded_and_late_trades_do_not_share_a_window():
    def take(seed, n):
        it = gen.trade_messages(seed)
        return [next(it) for _ in range(n)]

    n = int(gen.LATE_FROM_S * gen.RATE) + 5 * gen.LATE_STRIDE
    a, b = take(3, n), take(3, n)
    assert a == b and a != take(4, n)
    late_minutes = [json.loads(t)["T"] // 60_000 for k, t in a if k == "late"]
    assert len(late_minutes) == 5
    assert len(set(late_minutes)) == len(late_minutes)
    kinds = {k for k, _ in a}
    assert kinds == {"trade", "ooo", "late", "dup"}
