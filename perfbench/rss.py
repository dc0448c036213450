"""Peak resident memory of the engine over a timed region: this Python
driver plus its JVM child, from ``/proc`` (``psutil`` is not
installed).

``reset`` clears both processes' high-water marks (``VmHWM``) when a
timed region (a batch pass, the ingest window) starts, so the warm-up
before it and the output checks after it do not count; ``peak_mb``
reads them when it ends.
"""

from __future__ import annotations

import gc
import os


def _pids(spark) -> tuple[int, int]:
    return os.getpid(), spark.sparkContext._gateway.proc.pid


def reset(spark) -> None:
    """Collect both heaps, then clear the high-water marks: the timed
    region starts from live data only, not from whatever garbage the
    warm-up left."""
    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()
    for pid in _pids(spark):
        with open(f"/proc/{pid}/clear_refs", "w") as fh:
            fh.write("5")


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_mb(spark) -> float:
    return sum(_vm_hwm_mb(pid) for pid in _pids(spark))
