"""Registry coverage-rotation policy tests (no SparkSession needed).

The driver's correctness window caps at ~50 queries/round; `all_specs`
front-loads queries whose LATEST driver record is not clean.  Round 2's
verdict found the original `_verified_names` counted a rows_match-true /
hash_match-false record as verified, which would have rotated the one
failing query out of the window forever — these tests pin the fixed
semantics.
"""

from __future__ import annotations

from binancedatapipelineinaws_spark.registry import _is_clean_record


def _rec(rows=True, schema=True, hash_=True, err=None):
    return {
        "rows_match": rows,
        "schema_match": schema,
        "hash_match": hash_,
        "spark_rows": 1,
        "oracle_rows": 1,
        "err": err,
    }


def test_clean_pass_is_verified():
    assert _is_clean_record(_rec())


def test_hash_fail_is_not_verified():
    # the round-2 bug: rows matched, hash didn't -> must re-enter window
    assert not _is_clean_record(_rec(hash_=False))


def test_rows_fail_is_not_verified():
    assert not _is_clean_record(_rec(rows=False))


def test_schema_fail_is_not_verified():
    assert not _is_clean_record(_rec(schema=False))


def test_error_is_not_verified():
    assert not _is_clean_record(
        _rec(rows=None, schema=None, hash_=None, err="AnalysisException: ...")
    )


def test_rows_only_no_oracle_is_verified():
    assert _is_clean_record(
        _rec(rows=None, schema=None, hash_=None, err="no_oracle")
    )


def test_latest_record_wins(tmp_path):
    """A query green in round N but red in round N+1 must be unverified."""
    import json

    from binancedatapipelineinaws_spark.registry import _verified_names

    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"q_a": _rec(), "q_b": _rec()})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"q_a": _rec(hash_=False)})
    )
    verified = _verified_names(repo_root=str(tmp_path))
    assert "q_b" in verified
    assert "q_a" not in verified  # r02 hash-fail overrides r01 pass


def test_err_then_fixed_pass_is_verified(tmp_path):
    import json

    from binancedatapipelineinaws_spark.registry import _verified_names

    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"q_a": _rec(rows=None, schema=None, hash_=None, err="boom")})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({"q_a": _rec()}))
    assert "q_a" in _verified_names(repo_root=str(tmp_path))


def test_round_work_fits_driver_window():
    """The driver checks ~50 queries per round in all_specs() order:
    every never-verified query must land in the first 50."""
    from binancedatapipelineinaws_spark.registry import (
        _verified_names,
        all_specs,
    )

    order = list(all_specs())
    never_verified = set(order) - _verified_names()
    missing_new = never_verified - set(order[:50])
    assert not missing_new, missing_new


def test_window_budget_not_exceeded():
    """Forward invariant (r6 verdict #8): the queries with no clean
    driver row must fit one ~50-slot driver window.  A burst of new
    registrations past this budget would silently delay verification
    of OTHER unverified queries — fail at registration time instead."""
    from binancedatapipelineinaws_spark.registry import (
        _verified_names,
        all_specs,
    )

    demand = len(set(all_specs()) - _verified_names())
    assert demand <= 50, (
        f"window budget exceeded: {demand} queries need a driver row "
        "this round; register fewer new ids"
    )


def test_window_is_age_optimal_and_staleness_bounded():
    """Forward invariant (r8 verdict #1/#8): the ~50-slot driver window
    must always land on the STALEST verifications, and no row in the
    cumulative driver record may lag further than one full rotation of
    the registry (ceil(N/50) + 2 rounds of slack).  A future round that
    floods new ids or mis-orders the window fails here at registration
    time, before the round burns its slots."""
    import math

    from binancedatapipelineinaws_spark import registry

    order = list(registry.all_specs())
    vrounds = registry._verified_rounds()
    window, tail = order[:50], order[50:]

    # age-optimality: every green row left OUT of the window is at
    # least as fresh as every green row IN the window
    in_ages = [vrounds[n] for n in window if n in vrounds]
    out_ages = [vrounds[n] for n in tail if n in vrounds]
    if in_ages and out_ages:
        assert max(in_ages) <= min(out_ages), (
            "driver window skips a staler green row: "
            f"in-window max vintage r{max(in_ages)} > "
            f"out-of-window min vintage r{min(out_ages)}"
        )

    # staleness bound: the oldest row anywhere lags the newest round by
    # at most one full window rotation (+2 slack)
    cur = max(vrounds.values())
    max_lag = math.ceil(len(order) / 50) + 2
    stalest = min(vrounds, key=vrounds.get)
    assert cur - vrounds[stalest] <= max_lag, (
        f"{stalest} last verified r{vrounds[stalest]}, now r{cur}: "
        f"lag {cur - vrounds[stalest]} > {max_lag} — the window "
        "rotation is falling behind; ship fewer new ids"
    )


def test_absolute_staleness_ratchet():
    """r9 verdict item 8: an ABSOLUTE bound on row age, testable on a
    hypothetical record — any row lagging the newest round by more
    than STALENESS_BOUND_ROUNDS (6) is flagged."""
    from binancedatapipelineinaws_spark import registry

    assert registry.STALENESS_BOUND_ROUNDS == 6
    # hypothetical stale record: lag 7 flagged, lag 6 tolerated
    assert registry.stale_rows({"q_old": 1, "q_new": 8}) == ["q_old"]
    assert registry.stale_rows({"q_old": 2, "q_new": 8}) == []
    # multiple stale rows all reported, sorted
    assert registry.stale_rows({"b": 1, "a": 1, "q_new": 9}) == ["a", "b"]
    # empty record is healthy (fresh repo)
    assert registry.stale_rows({}) == []
    # the REAL cumulative record must satisfy the ratchet
    live = registry.stale_rows()
    assert live == [], (
        f"{len(live)} driver rows older than "
        f"{registry.STALENESS_BOUND_ROUNDS} rounds: {live[:10]} — the "
        "window rotation fell behind; ship fewer new ids this round"
    )


def test_every_oracle_plans_in_duckdb():
    """EXPLAIN every registered oracle against empty views of the ten
    driver tables: catches a typo'd oracle (bad function, wrong
    column, unregistered table) in seconds at pytest time instead of
    minutes into the oracle sweep or — worse — in the driver gate.
    Planning only; nothing executes."""
    import duckdb

    from binancedatapipelineinaws_spark.registry import all_specs

    schemas = {
        "region": "r_regionkey BIGINT, r_name VARCHAR",
        "nation": "n_nationkey BIGINT, n_name VARCHAR, n_regionkey BIGINT",
        "customer": "c_custkey BIGINT, c_name VARCHAR, c_nationkey BIGINT,"
        " c_acctbal DOUBLE, c_mktsegment VARCHAR",
        "supplier": "s_suppkey BIGINT, s_name VARCHAR, s_nationkey BIGINT,"
        " s_acctbal DOUBLE",
        "part": "p_partkey BIGINT, p_name VARCHAR, p_brand VARCHAR,"
        " p_type VARCHAR, p_size INTEGER, p_retailprice DOUBLE",
        "orders": "o_orderkey BIGINT, o_custkey BIGINT,"
        " o_orderstatus VARCHAR, o_totalprice DOUBLE,"
        " o_orderdate TIMESTAMP, o_orderpriority VARCHAR",
        "lineitem": "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT,"
        " l_linenumber INTEGER, l_quantity DOUBLE,"
        " l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE,"
        " l_returnflag VARCHAR, l_linestatus VARCHAR,"
        " l_shipdate TIMESTAMP",
        "events": "event_id BIGINT, ts TIMESTAMP, user_id BIGINT,"
        " event_type VARCHAR, value DOUBLE, props VARCHAR",
        "documents": "doc_id BIGINT, text VARCHAR, lang VARCHAR,"
        " source VARCHAR, n_chars BIGINT",
        "embeddings": "vec_id BIGINT, embedding FLOAT[], label BIGINT",
    }
    con = duckdb.connect()
    for t, cols in schemas.items():
        con.sql(f"CREATE TABLE {t} ({cols})")
    bad = {}
    for name, spec in all_specs().items():
        if spec.oracle is None:
            continue
        try:
            con.sql("EXPLAIN " + spec.oracle)
        except Exception as e:  # noqa: BLE001 - collect all failures
            bad[name] = str(e).splitlines()[0]
    assert not bad, bad


def test_bench_headline_names_are_registered():
    """bench.py is executed by the DRIVER; a renamed or typo'd
    headline entry would fail the round's bench run, not a local
    test — pin every name against the registry here."""
    import bench

    from binancedatapipelineinaws_spark.registry import all_specs

    specs = all_specs()
    missing = [n for n in bench.HEADLINE if n not in specs]
    assert not missing, missing
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)  # no dupes


def test_bench_json_line_fits_driver_capture_window():
    """The driver stores only the LAST 2000 chars of bench.py stdout
    and parses the JSON from that window; BENCH_r10.json recorded
    `parsed: null` because the full-name queries dict outgrew it.
    Pin the r11 contract: with worst-case 3-digit timings for every
    headline id, the compact stripped-key line stays under 1950 on
    the deepest degrade rung (1dp) and a REALISTIC worst case (every
    query at 99.99 s) already fits the 2dp rung; the stripped ids
    are collision-free."""
    import json as _json

    import bench

    def _short(name: str) -> str:
        for prefix in ("q_ext_", "q_"):
            if name.startswith(prefix):
                return name[len(prefix):]
        return name

    shorts = {_short(n) for n in bench.HEADLINE}
    assert len(shorts) == len(bench.HEADLINE), "short-id collision"

    def _line(val):
        return _json.dumps(
            {
                "metric": "headline_queries_total",
                "value": 99999.999,
                "unit": "sec",
                "queries": {s: val for s in sorted(shorts)},
                "sf": 0.1,
                "host_calib_sec": 0.437,
                "key_note": "ids lack their q_/q_ext_ prefix",
            },
            separators=(",", ":"),
        )

    assert len(_line(99.99)) < 1950, len(_line(99.99))  # realistic, 2dp
    assert len(_line(999.9)) < 1950, len(_line(999.9))  # 1dp rung


def test_every_registered_query_has_an_oracle():
    """r8 milestone worth pinning: zero rows-only checks remain — a
    new rows-only registration should be a conscious, reviewed
    decision (envelope-pin it instead, see q_ext_hll_union_error)."""
    from binancedatapipelineinaws_spark.registry import all_specs

    no_oracle = [n for n, s in all_specs().items() if s.oracle is None]
    assert no_oracle == [], no_oracle


def test_bench_stdout_line_always_parseable():
    """ADVICE r11 item 1: the stdout formatter must return a parseable
    JSON line under 1950 chars for ANY headline set — the degrade
    ladder for realistic sets, the totals-only fallback for absurd
    ones — never raising past the collision assert."""
    import json as _json

    import bench

    base = {
        "metric": "headline_queries_total",
        "value": 1.0,
        "unit": "sec",
        "queries": {},
        "sf": 0.1,
        "host_calib_sec": 0.5,
        "key_note": "ids lack their q_/q_ext_ prefix",
    }
    # realistic set: per-query detail survives on a degrade rung
    timings = {n: 1.234 for n in bench.HEADLINE}
    line = bench.compact_stdout_line(dict(base), timings)
    parsed = _json.loads(line)
    assert len(line) < 1950 and len(parsed["queries"]) == len(timings)
    # absurd set (300 long ids): totals-only fallback, still parseable
    absurd = {f"q_ext_very_long_query_name_{i:04d}": 9.9 for i in range(300)}
    line = bench.compact_stdout_line(dict(base), absurd)
    parsed = _json.loads(line)
    assert len(line) < 1950
    assert parsed["value"] == 1.0 and parsed["queries"] == {}
    assert "note" in parsed
    # short-id collision (ADVICE r12 item 1): a q_foo/q_ext_foo pair
    # must fall back to FULL names for the colliding ids instead of
    # asserting — an abort here would lose the round's perf record
    colliding = {"q_macd": 1.0, "q_ext_macd": 2.0, "q_ext_rsi": 3.0}
    line = bench.compact_stdout_line(dict(base), colliding)
    parsed = _json.loads(line)
    assert parsed["queries"] == {"q_macd": 1.0, "q_ext_macd": 2.0, "rsi": 3.0}


def test_headline_short_ids_collision_free():
    """The compact stdout line prefers stripped short ids; keep the
    CURRENT headline set collision-free so the full-name fallback
    (which costs line budget) never triggers in practice."""
    import bench

    shorts = [bench._short(n) for n in bench.HEADLINE]
    assert len(set(shorts)) == len(shorts)
