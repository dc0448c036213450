"""Stop every process a run starts, and wait until each has ended.

A run starts the Spark JVM (pyspark's gateway), the Arrow-Python
worker daemon the JVM forks for pandas UDFs, and on ``ingest`` the
trade generator.  ``spark.stop()`` stops the SparkContext but leaves
the JVM alive until it sees end-of-file on its stdin, which happens
only when this process has exited; a JVM still alive after the run
could serve the next one.

``mark`` tags this process's environment before anything is started,
so every descendant inherits the tag, even one reparented to init when
its parent dies.  ``stop_all`` closes the JVM's stdin and waits for it,
then terminates and waits for whatever else carries the tag.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time

ENV = "PERFBENCH_RUN"


def mark() -> str:
    token = f"{os.getpid()}-{time.time_ns()}"
    os.environ[ENV] = token
    return token


def _stop_jvm(timeout: float) -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    try:
        gw.close()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    # the gateway exits on end-of-file on its stdin
    try:
        proc.stdin.close()
    except OSError:
        pass
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _tagged(token: str) -> list[int]:
    want = f"{ENV}={token}".encode()
    me = os.getpid()
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == me:
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as fh:
                env = fh.read().split(b"\0")
            with open(f"/proc/{name}/stat", "rb") as fh:
                # the state follows the parenthesised command name
                state = fh.read().rsplit(b")", 1)[1].split()[0]
        except OSError:  # ended meanwhile, or another user's
            continue
        if want in env and state not in (b"Z", b"X"):
            pids.append(int(name))
    return pids


def stop_all(token: str, timeout: float = 30.0) -> None:
    """Stop the JVM, then every other process carrying ``token``:
    SIGTERM, and SIGKILL for any still alive after ``timeout``
    seconds.  Returns once none is left, or gives up 10 s after the
    SIGKILL."""
    _stop_jvm(timeout)
    deadline = time.time() + timeout
    sig = signal.SIGTERM
    while True:
        pids = _tagged(token)
        if not pids:
            return
        if time.time() > deadline:
            sig = signal.SIGKILL
        if time.time() > deadline + 10.0:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        time.sleep(0.1)
