"""The closed-loop ``batch`` workload: the market ids and the curation
ids in one loop.

One analyst runs the workload's query ids one at a time.  Each
operation builds the id's DataFrame through ``registry.queries()`` and
writes it to the ``noop`` sink under ``persist_scope``, so every
output column is materialised and persisted intermediates are released
when the id ends.  The workload seed shuffles the order of ids in each
pass; the tables are the same for every seed (``data.py``).

The untimed first pass collects every id and is both the warm-up (JIT,
codegen, parquet footers) and the output check: after the timed loop
the collected rows are compared with the id's DuckDB oracle by the
compare functions of ``tools/check_oracle.py``.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import rss

# Why these ids: they cover the families the reference handed to MySQL
# (candles, as-of joins, window indicators, market microstructure,
# TPC-H-style joins).  Their time is query build, Catalyst planning and
# the fixed cost per job and stage; they shuffle little and run no
# Python.  A whole run must fit in about a minute on a 4-core host
# (session start ~9 s, a warm-up pass, three timed passes), so each
# family keeps one representative.
MARKET = (
    "q_agg_ohlcv_1min",
    "q_join_asof",
    "q_ext_macd",
    "q_ext_flow_imbalance",
    "q_ext_tpch_q5",
)

# Why these ids: the LLM-curation pipeline, where time goes to shuffle
# volume, persisted intermediates and Arrow-Python
# (``q_ext_embed_neardup`` computes its LSH band signatures in
# ``similarity``'s pandas UDF; ``q_ext_tfidf`` persists its corpus
# statistics and runs nine jobs).  Driver planning is a small share.
# ``q_ext_pagerank`` (iterative rounds) is left out: at 3.5 s it took a
# third of a pass, and three passes must fit in a run.
CURATION = (
    "q_ext_embed_neardup",
    "q_ext_tfidf",
)

# One workload, not two: on a shared 4-core host the wall time of a
# whole run swings by tens of percent between runs a minute apart, so a
# run needs a long timed loop to be steady, and the benchmark's time
# budget (22 runs per workload within an hour) holds two long-loop
# workloads, not three.  Per-id records still separate the families.
BATCH = MARKET + CURATION


def _cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


def run(spark, ids, sf_dir: str, seed: int, seconds: float, tracer,
        t0: float) -> dict:
    from binancedatapipelineinaws_spark.registry import oracle_sql, queries
    from binancedatapipelineinaws_spark.session import persist_scope

    qs = queries()
    sc = spark.sparkContext
    rng = random.Random(seed)

    # -- warm-up + collect pass (untimed; inside setup_s) --
    def collect(name: str) -> tuple[list, list] | str:
        sc.setJobGroup(f"{name}#warm", name)  # per thread
        with tracer.span("warmup", id=name), persist_scope():
            try:
                sdf = qs[name](spark, sf_dir)
                return sdf.columns, [tuple(r) for r in sdf.collect()]
            except Exception as e:  # noqa: BLE001 — counted as failed
                return f"{type(e).__name__}: {str(e)[:300]}"

    # The ids warm up concurrently: most of a first run is single-threaded
    # driver work (JIT, planning, codegen compiles) that overlaps well.
    order = rng.sample(ids, len(ids))
    with ThreadPoolExecutor(max_workers=os.cpu_count()) as pool:
        collected = dict(zip(order, pool.map(collect, order)))
    setup_s = time.time() - t0

    # -- timed closed loop: whole passes until the time is used, and at
    # least three: the first still runs 15-30% slow (JIT), so every id
    # has a best of two warm passes (see below) --
    records: list[dict] = []
    loop_start = time.time()
    deadline = loop_start + seconds
    n_pass = 0
    pass_s: list[float] = []
    # peak memory per pass, each from a collected heap; the median of
    # the passes, since one pass's peak moves with when the JVM happened
    # to grow its heap
    peaks: list[float] = []
    while n_pass < 3 or time.time() < deadline:
        rss.reset(spark)
        p0 = time.time()
        for name in rng.sample(ids, len(ids)):
            group = f"{name}#{n_pass}"
            sc.setJobGroup(group, name)
            rec = {"id": name, "pass": n_pass, "group": group, "ok": True}
            with persist_scope():
                b0 = b1 = time.time()
                try:
                    df = qs[name](spark, sf_dir)
                    b1 = time.time()
                    df.write.format("noop").mode("overwrite").save()
                except Exception as e:  # noqa: BLE001 — counted as failed
                    rec["ok"] = False
                    rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
                e1 = time.time()
                if tracer.enabled:  # before the scope releases the cache
                    rec["cached_bytes"] = _cached_bytes(spark)
            rec.update(build=(b0, b1), execute=(b1, e1), op_s=e1 - b0)
            tracer.add("build", b0, b1, id=name, group=group)
            tracer.add("execute", b1, e1, id=name, group=group)
            records.append(rec)
        n_pass += 1
        pass_s.append(time.time() - p0)
        peaks.append(rss.peak_mb(spark))
    peak_rss_mb = statistics.median(peaks)
    sc.setJobGroup("verify", "verify")

    # -- output check against the DuckDB oracles (untimed) --
    failures = _verify(collected, oracle_sql(), sf_dir, tracer)
    for rec in records:
        if "error" in rec:
            failures.setdefault(rec["id"], rec["error"])
        if rec["id"] in failures:
            rec["ok"] = False
    # Each id's latency is its best pass, as bench.py does: on a shared
    # host a co-tenant burst or a late JIT compile can triple one
    # sub-second measurement, and the best of the passes is the steady
    # state.  Every id counts once, and throughput is that of the
    # fastest pass.
    best: dict[str, float] = {}
    for r in records:
        if r["ok"]:
            best[r["id"]] = min(best.get(r["id"], r["op_s"]), r["op_s"])
    return {
        "counters": {**_counters(sc, records, n_pass), "best_op_s": best},
        "setup_s": setup_s,
        "op_s": list(best.values()),
        "ops_per_s": len(ids) / min(pass_s),
        "peak_rss_mb": peak_rss_mb,
        "attempted": len(records),
        "failed": sum(not r["ok"] for r in records),
        "failures": failures,
        "records": records,
    }


def _counters(sc, records: list[dict], passes: int) -> dict:
    """Host-independent work per pass from Spark's status tracker:
    jobs, stages that ran tasks, and tasks."""
    st = sc.statusTracker()
    jobs = stages = tasks = 0
    for rec in records:
        seen: set[int] = set()
        for jid in st.getJobIdsForGroup(rec["group"]):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in set(info.stageIds) - seen:
                seen.add(sid)
                stage = st.getStageInfo(sid)
                if stage is not None and stage.numCompletedTasks > 0:
                    stages += 1
                    tasks += stage.numCompletedTasks
    return {"passes": passes, "jobs_per_pass": jobs / passes,
            "stages_per_pass": stages / passes, "tasks_per_pass": tasks / passes}


def _verify(collected: dict, oracles: dict, sf_dir: str, tracer) -> dict:
    import duckdb

    from binancedatapipelineinaws_spark.tables import TABLE_NAMES
    from tools.check_oracle import normalize

    failures: dict[str, str] = {}
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in TABLE_NAMES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        for name, got in collected.items():
            with tracer.span("verify", id=name):
                if isinstance(got, str):
                    failures[name] = got
                    continue
                scols, srows = got
                res = con.execute(oracles[name])
                ocols = [d[0] for d in res.description]
                orows = res.fetchall()
                if sorted(scols) != sorted(ocols):
                    failures[name] = f"columns {sorted(scols)} != {sorted(ocols)}"
                elif len(srows) != len(orows):
                    failures[name] = f"rows {len(srows)} != {len(orows)}"
                elif normalize(srows, scols) != normalize(orows, ocols):
                    failures[name] = "values differ from the oracle"
    finally:
        con.close()
    return failures


def summarize(res: dict) -> dict:
    """End-to-end metrics.  The latency is the geometric mean of the
    ids' best-pass times, so each id counts equally; a median of a
    handful of unlike ids jumps with whichever id sits in the middle."""
    if not res["op_s"]:
        raise RuntimeError("no operation succeeded")
    return {
        "setup_s": res["setup_s"],
        "latency_s": statistics.geometric_mean(res["op_s"]),
        "ops_per_s": res["ops_per_s"],
    }
