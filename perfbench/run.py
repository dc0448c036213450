"""Repo benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 --trace 0

Workloads (see README.md for why each exists):
  batch     closed loop over the market (candle / indicator / TPC-H) and
            curation (LLM-pipeline) query ids
  ingest    open-loop live chain: WebSocket generator -> spool -> file
            stream -> canonicalize -> table sink, next to candles

``--trace 0`` prints the end-to-end metrics named in BENCHMARK.json;
``--trace 1`` turns the Spark event log on and prints the per-layer
metrics instead.  Outputs are checked in both modes; the last stdout
line is ``{"correct", "attempted", "failed", "metrics"}``.  Run from
the repository root.  Scratch files go to ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("batch", "ingest")


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _env(run_dir: str, trace: bool) -> None:
    """Process environment for the engine, set before pyspark starts
    the JVM: every core of this host, and every file the run writes
    kept inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = tmp
    # Arrow-Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    submit = [
        f'--driver-java-options "-Djava.io.tmpdir={tmp}"',
        "--conf spark.ui.showConsoleProgress=false",
    ]
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        submit += [
            "--conf spark.eventLog.enabled=true",
            # Spark 4 compresses with zstd by default; zstandard is not
            # installed for the stdlib-json parser, so write plain text
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
            f"--conf spark.eventLog.dir=file://{log_dir}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])


def _terminated(signum, frame):
    # unwind through the finally blocks, which stop every process
    sys.exit(128 + signum)


def main(argv=None) -> int:
    args = _args(argv)
    spec = _spec()
    sys.path.insert(0, ROOT)
    try:
        import binancedatapipelineinaws_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine package not found: {e}", file=sys.stderr)
        return 2

    from perfbench import procs

    signal.signal(signal.SIGTERM, _terminated)
    token = procs.mark()
    run_dir = os.path.join(
        WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    try:
        result = _run(args, spec, run_dir)
    finally:
        # a second SIGTERM must not cut the stopping short
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        procs.stop_all(token)
        shutil.rmtree(run_dir, ignore_errors=True)
    # last, so that nothing a stopping process writes follows it
    print(json.dumps(result))
    return 0


def _run(args, spec, run_dir: str) -> dict:
    os.makedirs(run_dir, exist_ok=True)
    _env(run_dir, bool(args.trace))

    from perfbench import data
    from perfbench.trace import Tracer

    if args.workload != "ingest":
        sf_dir = data.ensure_tables(os.path.join(WORK, "data"))
    tracer = Tracer(bool(args.trace))

    # setup_s starts here: engine import, session, registry, warm-up
    t0 = time.time()
    from binancedatapipelineinaws_spark.session import get_spark

    with tracer.span("get_spark"):
        spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.time() - t0
    try:
        if args.workload == "ingest":
            from perfbench import ingest

            res = ingest.run(spark, run_dir, args.seed, args.seconds, tracer, t0)
            summary = ingest.summarize(res)
        else:
            from perfbench import batch

            res = batch.run(spark, batch.BATCH, sf_dir, args.seed, args.seconds,
                            tracer, t0)
            summary = batch.summarize(res)
        summary["peak_rss_mb"] = res["peak_rss_mb"]
        master = spark.sparkContext.master
    finally:
        spark.stop()

    from bench import _calibrate

    host = {"nproc": _nproc(), "master": master, "calib_s": _calibrate()}
    records: list[dict] = []
    if args.trace:
        from perfbench import layers

        values, records = layers.per_layer(args.workload, res, run_dir)
        values.update({"session.start_s": session_s, "host.nproc": host["nproc"],
                       "host.calib_s": host["calib_s"]})
        # traced end-to-end numbers: minus an untraced run's, the
        # tracing overhead
        values.update({f"traced.{k}": v for k, v in summary.items()})
        wanted = spec["per_layer"]
    else:
        values = summary
        wanted = spec["end_to_end"]
    # a layer the workload does not touch (streaming on a batch
    # workload, builders on ingest) reads 0
    metrics = {m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]}
               for m in wanted}

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host,
        "counters": res["counters"],
        "failures": res["failures"],
        "metrics": metrics,
        "records": records,
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    out = os.path.join(
        WORK, "results", f"{args.workload}-s{args.seed}-t{args.trace}.json"
    )
    with open(out, "w") as fh:
        json.dump(record, fh, indent=1)
    tracer.write(out.replace(".json", ".spans.json"))

    print(json.dumps({k: record[k] for k in ("host", "counters", "failures")}),
          file=sys.stderr)
    return {
        "correct": not res["failures"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }


if __name__ == "__main__":
    sys.exit(main())
