"""The ``ingest`` workload: the reference's own chain, live, as an open
loop.

    gen.py (own process, one WebSocket connection, fixed schedule)
      -> websocket.spool_trades   (thread here: decode, minute .tsv files)
      -> read_tick_stream -> canonical_stream -> table_append_sink
      -> read_tick_stream -> canonical_stream -> ohlcv_stream (candles)

Set-up ends ``WARM_S`` after both queries have committed a micro-batch
and the table query has drained the backlog that built up during its
first (JIT-bound) batch; the measured window is the next ``seconds``.  One
operation is one closed event-minute: its freshness runs from the due
time of the minute's last trade to the commit of the table micro-batch
that read its file, so a stall counts against every minute it delays.
Files are mapped to batches by each source-log entry's ``batchId``
(the log compacts every ten batches) and batches to commit times by
``commits/N`` in the checkpoint.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import threading
import time
from collections import Counter
from datetime import datetime

from perfbench import gen, rss
from perfbench.trace import batch_file_times, source_files_by_batch

HERE = os.path.dirname(os.path.abspath(__file__))
# scheduled traffic after the catch-up and before the window: batch
# times still fell from about 0.95 s to 0.5 s over the first ten
# seconds after it, as the JIT kept compiling, and the first seconds of
# a window that opened then still read 0.6-0.8 s
WARM_S = 15.0
# longest wait for each step of set-up (first batches, backlog drain),
# so that a run which cannot start still ends within three minutes
SETUP_TIMEOUT_S = 60.0
PHASES = ("triggerExecution", "latestOffset", "getBatch", "queryPlanning",
          "addBatch", "walCommit", "commitOffsets")


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class _Spooler(threading.Thread):
    """``spool_trades`` on its own thread, recording each rotation."""

    def __init__(self, conn, spool_dir: str) -> None:
        super().__init__(name="spooler", daemon=True)
        self.conn, self.spool_dir = conn, spool_dir
        self.renamed: dict[str, float] = {}
        self.stats = None
        self.cpu_s = 0.0
        self.error: Exception | None = None

    def _rotated(self, path: str) -> None:
        self.renamed[os.path.basename(path)] = time.time()

    def run(self) -> None:
        from binancedatapipelineinaws_spark.streaming import websocket as ws

        c0 = time.thread_time()
        try:
            self.stats = ws.spool_trades(self.conn, self.spool_dir,
                                         on_rotate=self._rotated)
        except Exception as e:  # noqa: BLE001 — re-raised by the caller
            self.error = e
        finally:
            self.cpu_s = time.thread_time() - c0


def _minute_files(messages: list[str]) -> dict[str, int]:
    """Spool file name -> index of the last trade written to it, by
    the spooler's own rule (rotate on the first trade of a later
    event-minute; earlier trades join the open file)."""
    from binancedatapipelineinaws_spark.streaming.websocket import (
        trade_json_to_wire,
    )

    last: dict[str, int] = {}
    active = None
    for i, text in enumerate(messages):
        minute = int(trade_json_to_wire(text).rsplit("\t", 2)[1]) // 60_000
        if active is None or minute > active:
            active = minute
        last[f"{active * 60}.tsv"] = i
    return last


def run(spark, run_dir: str, seed: int, seconds: float, tracer,
        t0: float) -> dict:
    from binancedatapipelineinaws_spark.streaming import websocket as ws
    from binancedatapipelineinaws_spark.streaming.pipeline import (
        canonical_stream,
        ohlcv_stream,
        read_tick_stream,
        table_append_sink,
    )

    # keep every batch's checkpoint files and progress for the bookkeeping
    spark.conf.set("spark.sql.streaming.minBatchesToRetain", "100000")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    d = {k: os.path.join(run_dir, k) for k in
         ("spool", "table", "candles", "ckpt_table", "ckpt_candles")}
    os.makedirs(d["spool"])

    canon = canonical_stream(read_tick_stream(spark, d["spool"]))
    q_table = table_append_sink(canon, d["table"], d["ckpt_table"],
                                trigger_available_now=False)
    q_candles = (
        ohlcv_stream(canon).writeStream.format("parquet")
        .option("checkpointLocation", d["ckpt_candles"])
        .option("path", d["candles"]).outputMode("append").start()
    )

    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(seed)],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    try:
        port = json.loads(proc.stdout.readline())["port"]
        # the socket timeout also bounds each read, and nothing is sent
        # between the prime and the start of the schedule
        spooler = _Spooler(ws.connect("127.0.0.1", port, timeout=SETUP_TIMEOUT_S),
                           d["spool"])
        spooler.start()
        json.loads(proc.stdout.readline())  # primed
        _wait_first_batches(q_table, q_candles)
        proc.stdin.write("go\n")
        proc.stdin.flush()
        t_start = json.loads(proc.stdout.readline())["t_start"]

        caught_up = _wait_caught_up(q_table, q_candles, d["ckpt_table"], spooler)
        time.sleep(max(0.0, caught_up + WARM_S - time.time()))
        _raise_if_failed((q_table, q_candles))
        w0 = time.time()
        setup_s = w0 - t0
        rss.reset(spark)
        time.sleep(max(0.0, w0 + seconds - time.time()))
        w1 = time.time()
        peak_rss_mb = rss.peak_mb(spark)
        out, _ = proc.communicate("stop\n", timeout=60)
        gen_stats = json.loads(out.splitlines()[-1])
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    spooler.join(timeout=60)
    spooler.conn.close()
    if spooler.error is not None:
        raise spooler.error
    for q in (q_table, q_candles):
        q.processAllAvailable()
        q.stop()

    sent = gen_stats["sent"]
    stream = gen.trade_messages(seed)
    kinds, messages = zip(*(next(stream) for _ in range(sent)))
    due_last = {f: gen.due_at(t_start, i)
                for f, i in _minute_files(list(messages)).items()}
    file_batch = source_files_by_batch(d["ckpt_table"])
    commits = batch_file_times(d["ckpt_table"], "commits")
    fresh = {f: commits[file_batch[f]] - due for f, due in due_last.items()
             if file_batch.get(f) in commits}
    window = [f for f, due in due_last.items() if w0 <= due <= w1]
    progress_t = [p for p in q_table.recentProgress if p["numInputRows"] > 0]
    in_window = [p for p in progress_t
                 if w0 <= commits.get(p["batchId"], 0.0) <= w1]
    # capacity: closed minutes a table micro-batch commits per second it
    # runs (Spark's processedRowsPerSecond, counted in minute files),
    # the median over the window's batches; a faster write path raises
    # it at the same offered rate
    files_per_batch = Counter(file_batch.values())
    capacity = [files_per_batch[p["batchId"]]
                / (p["durationMs"]["triggerExecution"] / 1000.0)
                for p in in_window]

    fresh_window = [fresh[f] for f in window if f in fresh]
    failures, failed, n_candles = _verify(spark, d, messages, kinds, q_candles)
    res = {
        "setup_s": setup_s,
        "op_s": fresh_window,
        "ops_per_s": _median(capacity),
        "peak_rss_mb": peak_rss_mb,
        "attempted": sent,
        "failed": min(failed, sent),
        "failures": failures,
        "counters": {
            "minutes": len(window),
            "fresh_minutes": len(fresh_window),
            # trades committed per wall second of the window: below the
            # offered RATE, a backlog grew
            "committed_tps": sum(p["numInputRows"] for p in in_window) / (w1 - w0),
            "batches": len(progress_t),
            "trades": sent,
            "late": kinds.count("late"),
            "dups": kinds.count("dup"),
            "closed_candles": n_candles,
            "gen_late_s": gen_stats["late_s"],
        },
    }
    if tracer.enabled:
        queries = {"table": q_table, "candles": q_candles}
        res["layers"] = _stream_layers(
            d, spooler, gen_stats, due_last, file_batch, window, in_window,
            q_candles,
        )
        res["window"] = (w0, w1)
        res["stream_batches"] = [
            b for b in _batches(queries) if w0 <= b["start"] <= w1
        ]
        _spans(tracer, t_start, due_last, spooler.renamed, file_batch, queries)
    return res


def _batches(queries: dict) -> list[dict]:
    out = []
    for name, q in queries.items():
        for p in q.recentProgress:
            start = _epoch(p["timestamp"])
            out.append({
                "query": name, "run_id": str(q.runId), "batchId": p["batchId"],
                "start": start,
                "end": start + p["durationMs"]["triggerExecution"] / 1000.0,
                "durationMs": dict(p["durationMs"]),
            })
    return out


def _raise_if_failed(queries) -> None:
    for q in queries:
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")


def _wait_first_batches(q_table, q_candles, timeout: float = SETUP_TIMEOUT_S) -> None:
    """Block until both queries have committed a batch with rows."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        _raise_if_failed((q_table, q_candles))
        if all(any(p["numInputRows"] > 0 for p in q.recentProgress)
               for q in (q_table, q_candles)):
            return
        time.sleep(0.02)
    raise RuntimeError("no micro-batch committed during set-up")


def _wait_caught_up(q_table, q_candles, ckpt: str, spooler,
                    timeout: float = SETUP_TIMEOUT_S) -> float:
    """Time at which the table query has committed a scheduled batch
    that read every file renamed before the batch was planned: no
    backlog is left from set-up."""
    deadline = time.time() + timeout
    first = max(p["batchId"] for p in q_table.recentProgress
                if p["numInputRows"] > 0)
    while time.time() < deadline:
        _raise_if_failed((q_table, q_candles))
        if not spooler.is_alive():
            raise RuntimeError(f"spooler stopped during set-up: {spooler.error}")
        # an idle query reports progress too, under the next batch id
        # and with no rows: it never ran, so it has no offsets file
        last = q_table.lastProgress
        if last["batchId"] > first and last["numInputRows"] > 0:
            planned = batch_file_times(ckpt, "offsets")[last["batchId"]]
            done = source_files_by_batch(ckpt)
            renamed = dict(spooler.renamed)
            if all(f in done for f, t in renamed.items() if t < planned):
                return time.time()
        time.sleep(0.02)
    raise RuntimeError("ingest pipeline did not catch up during set-up")


def _fingerprint(df) -> tuple:
    """Row count, distinct trade ids and an order-free sum of row
    hashes: equal multisets of rows give equal fingerprints."""
    from pyspark.sql import functions as F

    r = df.select(
        F.count("*"), F.count_distinct("bid"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")),
    ).first()
    return tuple(r)


def _verify(spark, d: dict, messages, kinds, q_candles) -> tuple[dict, int, int]:
    """The four ingest checks; returns failures, the number of
    mismatching rows and the number of closed candles compared."""
    import pandas as pd
    from pyspark.sql import functions as F

    from binancedatapipelineinaws_spark.canonical import canonicalize_btcusdt
    from binancedatapipelineinaws_spark.streaming.pipeline import (
        TICKS_WIRE_SCHEMA,
        ohlcv_stream,
    )
    from binancedatapipelineinaws_spark.streaming.websocket import (
        trade_json_to_wire,
    )

    cols = [f.name for f in TICKS_WIRE_SCHEMA.fields]
    wire = pd.DataFrame(
        [trade_json_to_wire(t).split("\t") for t in messages], columns=cols
    )
    wire = wire.astype({"trade_id": "int64", "trade_time_ms": "int64"})
    wire["is_buyer_maker"] = wire["is_buyer_maker"] == "true"
    ticks = spark.createDataFrame(wire, TICKS_WIRE_SCHEMA)
    table = spark.read.parquet(d["table"])
    expected = canonicalize_btcusdt(ticks)

    def rows(df) -> Counter:
        return Counter(df.toPandas().itertuples(index=False, name=None))

    def diff(a: Counter, b: Counter) -> int:
        return sum(((a - b) + (b - a)).values())

    failures: dict[str, str] = {}
    bad = 0
    got_fp = _fingerprint(table)
    if got_fp != _fingerprint(expected):
        bad = diff(rows(table), rows(expected))
        failures["table"] = f"{bad} rows differ from the batch canonicalization"
    sent_ids = (len(wire), wire["trade_id"].nunique())
    if got_fp[:2] != sent_ids:
        failures["exactly_once"] = (
            f"(rows, trade ids) landed {got_fp[:2]}, sent {sent_ids}"
        )
        bad += abs(got_fp[0] - sent_ids[0])

    late_ids = wire["trade_id"][[k == "late" for k in kinds]].tolist()
    on_time = ticks.where(~F.col("trade_id").isin(late_ids))
    watermark = q_candles.lastProgress["eventTime"]["watermark"]
    want = ohlcv_stream(canonicalize_btcusdt(on_time)).where(
        (F.col("minute_start") + F.expr("INTERVAL 1 MINUTE"))
        <= F.to_timestamp(F.lit(watermark))
    )
    got = rows(spark.read.parquet(d["candles"]))
    candles = diff(got, rows(want))
    if candles:
        failures["candles"] = f"{candles} closed candles differ from batch candles"
    bad += candles

    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q_candles.recentProgress for op in p["stateOperators"]
    )
    if dropped != len(late_ids):
        failures["watermark"] = (
            f"dropped {dropped} rows, generator sent {len(late_ids)} late"
        )
    bad += abs(dropped - len(late_ids))
    return failures, bad, sum(got.values())


def _phase_ms(progress: list[dict], key: str) -> float:
    vals = [p["durationMs"].get(key, 0) for p in progress]
    return statistics.median(vals) if vals else 0.0


def _stream_layers(d, spooler, gen_stats, due_last, file_batch, window,
                   in_window, q_candles) -> dict:
    offsets = batch_file_times(d["ckpt_table"], "offsets")
    renamed = spooler.renamed
    batches = sorted({p["batchId"] for p in in_window})
    files_per_batch = Counter(file_batch.values())
    backlog = [
        sum(1 for f, t in renamed.items()
            if t <= offsets[b] and file_batch.get(f, b) >= b)
        for b in batches if b in offsets
    ]
    stats = spooler.stats
    out = {
        "ws.messages": stats.messages,
        "ws.files_closed": stats.files_closed,
        "ws.decode_tps": stats.messages / spooler.cpu_s if spooler.cpu_s else 0.0,
        "ws.spool_lag_s": _median([renamed[f] - due_last[f]
                                   for f in window if f in renamed]),
        "gen.late_s": gen_stats["late_s"]["p99"],
        "source.list_wait_s": _median([
            offsets[file_batch[f]] - renamed[f] for f in window
            if f in renamed and file_batch.get(f) in offsets
        ]),
        "source.backlog_files": max(backlog, default=0),
        "batch.files": _median([files_per_batch.get(b, 0) for b in batches]),
        "batch.rows": _median([p["numInputRows"] for p in in_window]),
        "batch.trigger_ms": _phase_ms(in_window, "triggerExecution"),
    }
    for phase in PHASES[1:]:
        out[f"batch.{phase}_ms"] = _phase_ms(in_window, phase)
    ops = [op for p in q_candles.recentProgress for op in p["stateOperators"]]
    out["state.rows_total"] = ops[-1]["numRowsTotal"] if ops else 0
    out["state.memory_bytes"] = max((op["memoryUsedBytes"] for op in ops), default=0)
    out["state.rows_dropped_by_watermark"] = sum(
        op.get("numRowsDroppedByWatermark", 0) for op in ops
    )
    return out


def _median(vals: list[float]) -> float:
    return statistics.median(vals) if vals else 0.0


def _spans(tracer, t_start, due_last, renamed, file_batch, queries) -> None:
    """Generator minutes and spool rotations carry the micro-batch that
    read their file, which links them to that batch's span."""
    first = t_start
    for f, due in sorted(due_last.items(), key=lambda kv: kv[1]):
        batch = file_batch.get(f)
        tracer.add("generator.minute", first, due, file=f, batchId=batch)
        first = due
        if f in renamed:
            tracer.add("spool.rotate", renamed[f], renamed[f], file=f,
                       batchId=batch)
    for b in _batches(queries):
        tracer.add("stream.batch", b["start"], b["end"], query=b["query"],
                   batchId=b["batchId"], durationMs=b["durationMs"])


def summarize(res: dict) -> dict:
    """End-to-end metrics.  The latency is the median freshness of the
    window's closed minutes: about one per second of the window, too
    few for an upper percentile with ten samples beyond it."""
    if not res["op_s"]:
        raise RuntimeError("no closed minute was committed in the window")
    return {
        "setup_s": res["setup_s"],
        "latency_s": statistics.median(res["op_s"]),
        "ops_per_s": res["ops_per_s"],
    }
