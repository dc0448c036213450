"""Load generator for the ``ingest`` workload: a one-connection RFC 6455
server that sends Binance-shaped trade messages on a fixed schedule.

    python3 perfbench/gen.py --seed 7

It prints ``{"port": N}`` once listening.  When the client has
upgraded it sends the first ``PRIME`` trades at once (one event-minute
and the in-order trade that closes it, so the pipeline can run its first,
JIT-bound micro-batch) and prints ``{"primed": PRIME}``.  The first
line on stdin starts the schedule and it prints ``{"t_start": T}``:
trade ``i`` is due at ``due_at(T, i)`` (wall clock, epoch seconds) and
is sent at or after that time whether or not the client keeps up (an
open loop).  The next line on stdin (or EOF) stops it: it sends a
close frame and prints ``{"sent": n, "late_s": {...}}``, how late its
sends ran behind the schedule.

The stream is a pure function of the seed (``trade_messages``), so the
benchmark rebuilds exactly what was sent from ``sent`` alone.  Event
time runs on a compressed clock, ``SPEEDUP`` event-seconds per wall
second, starting at ``EVENT0_MS``.  Mixed into the in-order trades:

- 1% out of order, 1-50 event-seconds old: always inside the candle
  query's 2-minute watermark, so never dropped;
- every ``LATE_STRIDE``-th trade from wall offset ``LATE_FROM_S`` on is
  late, 90 event-minutes old: dropped by the watermark while the
  pipeline lags less than about 88 s.  The stride is more than one
  event-minute of trades, so each late trade is alone in its window and
  ``numRowsDroppedByWatermark`` (which counts rows after partial
  aggregation) equals their number;
- 0.05% exact re-sends of one of the previous 200 in-order trades
  (duplicate trade ids).
"""

from __future__ import annotations

import base64
import hashlib
import json
import random
import select
import socket
import statistics
import struct
import sys
import time
from typing import Iterator

# 2500 trades per event-minute, about 42 per event-second: inside the
# 20-100 BTCUSDT trades/s the reference's minute files were sized for
# (BASELINE.md), one minute file per wall second
RATE = 2_500  # trades per wall-second
SPEEDUP = 60  # event-seconds per wall-second
EVENT0_MS = 1_700_000_040_000  # a minute boundary
LATE_FROM_S = 2.0
LATE_STRIDE = 3_000  # > 60 * RATE / SPEEDUP = 2500 trades per event-minute
LATE_MS = 90 * 60_000
PRIME = 60 * RATE // SPEEDUP + 1
TICK_S = 0.002  # send granularity: one send carries every trade due by then

_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"


def trade_messages(seed: int) -> Iterator[tuple[str, str]]:
    """Endless ``(kind, json_text)`` stream; kind is ``trade``,
    ``ooo`` (out of order), ``late`` or ``dup``."""
    rng = random.Random(seed)
    price = 30_000.0
    trade_id = 1_000_000
    recent: list[str] = []
    late_from = int(LATE_FROM_S * RATE)
    i = 0
    while True:
        event_ms = EVENT0_MS + i * SPEEDUP * 1000 // RATE
        kind = "trade"
        # the last primed trade must be in order: it closes the first
        # minute file, which the pipeline's first batches wait for
        closes_prime = i == PRIME - 1
        if i >= late_from and (i - late_from) % LATE_STRIDE == 0:
            kind = "late"
            event_ms -= LATE_MS
        elif recent and rng.random() < 0.0005 and not closes_prime:
            yield "dup", rng.choice(recent)
            i += 1
            continue
        elif rng.random() < 0.01 and not closes_prime:
            kind = "ooo"
            event_ms -= rng.randint(1_000, 50_000)
        price = max(1_000.0, price + rng.gauss(0.0, 2.0))
        trade_id += 1
        text = json.dumps({
            "e": "trade", "E": event_ms, "s": "BTCUSDT", "t": trade_id,
            "p": f"{price:.8f}", "q": f"{rng.uniform(0.00001, 2.0):.8f}",
            "T": event_ms, "m": rng.random() < 0.5,
        })
        if kind == "trade":
            recent.append(text)
            if len(recent) > 200:
                recent.pop(0)
        yield kind, text
        i += 1


def _frame(payload: bytes) -> bytes:
    n = len(payload)
    if n < 126:
        return bytes([0x81, n]) + payload
    return bytes([0x81, 126]) + struct.pack(">H", n) + payload


def _handshake(conn: socket.socket) -> None:
    req = b""
    while b"\r\n\r\n" not in req:
        chunk = conn.recv(4096)
        if not chunk:
            raise ConnectionError("client closed during handshake")
        req += chunk
    key = ""
    for line in req.decode("latin-1").split("\r\n")[1:]:
        name, _, value = line.partition(":")
        if name.strip().lower() == "sec-websocket-key":
            key = value.strip()
    accept = base64.b64encode(hashlib.sha1((key + _GUID).encode()).digest())
    conn.sendall(
        b"HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\n"
        b"Connection: Upgrade\r\nSec-WebSocket-Accept: " + accept + b"\r\n\r\n"
    )


def _emit(obj: dict) -> None:
    print(json.dumps(obj), flush=True)


def serve(seed: int) -> None:
    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.bind(("127.0.0.1", 0))
    server.listen(1)
    _emit({"port": server.getsockname()[1]})
    conn, _ = server.accept()
    server.close()
    _handshake(conn)
    stream = trade_messages(seed)
    # prime: the first event-minute and the trade that closes it, sent
    # at once so the pipeline's first (JIT-bound) batch runs before the
    # schedule starts
    conn.sendall(b"".join(_frame(next(stream)[1].encode()) for _ in range(PRIME)))
    _emit({"primed": PRIME})
    sys.stdin.readline()  # "go"
    t_start = time.time()
    _emit({"t_start": t_start})
    sent, late = PRIME, []
    while True:
        now = time.time()
        due = PRIME + int((now - t_start) * RATE) + 1  # trades due by now
        if due > sent:
            late.append(now - due_at(t_start, sent))
            conn.sendall(b"".join(
                _frame(next(stream)[1].encode()) for _ in range(sent, due)
            ))
            sent = due
        wait = due_at(t_start, sent) - time.time()
        ready, _, _ = select.select([sys.stdin], [], [], max(wait, TICK_S))
        if ready:
            break
    conn.sendall(bytes([0x88, 2]) + struct.pack(">H", 1000))
    conn.shutdown(socket.SHUT_WR)
    conn.close()
    late.sort()
    _emit({"sent": sent, "late_s": {
        "p50": statistics.median(late),
        "p99": late[int(0.99 * (len(late) - 1))],
        "max": late[-1],
    }})


def due_at(t_start: float, i: int) -> float:
    """Wall time trade ``i`` is due; primed trades count as due at
    ``t_start``."""
    return t_start + max(0, i - PRIME) / RATE


if __name__ == "__main__":
    import argparse

    p = argparse.ArgumentParser(description="ingest load generator")
    p.add_argument("--seed", type=int, required=True)
    serve(p.parse_args().seed)
