"""Unit tests for the gate's vectorized comparator (tools/check_oracle):
True must imply classic-repr-path equality; anything uncertain must
return None so the classic path stays authoritative.  Also covers the
gate's pandas-level dtype and hash verdicts."""

from __future__ import annotations

from datetime import date

import numpy as np
import pandas as pd

from tools.check_oracle import (
    SAFE_DTYPE_PAIRS,
    Result,
    canon,
    dtype_findings,
    fast_compare,
    frames_equal,
    pandas_verdicts,
)


def test_permutation_invariant():
    a = pd.DataFrame({"x": [1.0, 2.0, float("nan")], "n": [1, 2, 3]})
    b = pd.DataFrame({"x": [2.0, float("nan"), 1.0], "n": [2, 3, 1]})
    assert fast_compare(a, b) is True


def test_one_ulp_mismatch_detected():
    a = pd.DataFrame({"x": [1.0, 2.0]})
    c = pd.DataFrame({"x": [1.0, np.nextafter(2.0, 3)]})
    assert fast_compare(a, c) is False


def test_datetime_resolution_normalized():
    d = pd.DataFrame(
        {"t": pd.to_datetime(["2024-01-01 00:00:01"]).astype("datetime64[ns]")}
    )
    e = pd.DataFrame(
        {"t": pd.to_datetime(["2024-01-01 00:00:01"]).astype("datetime64[us]")}
    )
    assert fast_compare(d, e) is True


def test_unsupported_dtypes_defer_to_classic():
    s = pd.DataFrame({"s": ["a"]})
    assert fast_compare(s, s) is None  # strings
    n = pd.DataFrame({"n": pd.array([1, None], dtype="Int64")})
    assert fast_compare(n, n) is None  # nullable extension ints


def test_int_float_pair_roundtrip_guard():
    # ANY int-vs-float dtype pair defers to classic: the classic repr
    # compare renders 5 vs 5.0 as '5' vs '5.0' and FAILs, so a fast-path
    # OK for a numerically-coinciding mixed pair would mask a
    # Spark/oracle column-type drift the driver gate flags.
    v = 2**53 + 1  # not representable in float64
    i = pd.DataFrame({"n": [v, 1]})
    f = pd.DataFrame({"n": [float(v), 1.0]})
    assert fast_compare(i, f) is None  # classic decides
    i2 = pd.DataFrame({"n": [2**60, 1]})
    f2 = pd.DataFrame({"n": [float(2**60), 1.0]})
    assert fast_compare(i2, f2) is None  # lossless cast exists, still defer


def test_signed_zero_distinct():
    # the classic repr path distinguishes -0.0 from 0.0; so must we
    assert (
        fast_compare(pd.DataFrame({"z": [0.0]}), pd.DataFrame({"z": [-0.0]}))
        is False
    )


def test_nan_payloads_canonicalized():
    weird_nan = np.int64(0x7FF8000000000001).view("float64") * 1  # payload NaN
    a = pd.DataFrame({"x": [float("nan")]})
    b = pd.DataFrame({"x": [weird_nan]})
    assert fast_compare(a, b) is True


def test_mismatch_samples_are_surfaced():
    # a False verdict on a frame too large to re-adjudicate classically
    # must still carry actionable samples (ADVICE r8): the comparator
    # appends up to 3 (column, spark, oracle) raw-value pairs
    a = pd.DataFrame({"x": [1.0, 2.0, 3.0], "k": [1, 2, 3]})
    b = pd.DataFrame({"x": [1.0, 2.5, 3.5], "k": [1, 2, 3]})
    samples: list = []
    assert fast_compare(a, b, samples_out=samples) is False
    assert 1 <= len(samples) <= 3
    assert any("2.5" in s or "3.5" in s for s in samples)
    # equality never populates samples
    samples = []
    assert fast_compare(a, a.copy(), samples_out=samples) is True
    assert samples == []


# --- pandas-level verdicts: dtype_findings + canon/frames_equal -------------


def _verdicts(spark_pdf, duck_pdf):
    """(dtype verdict passes, hash verdict passes) for one frame pair;
    either failing fails the id."""
    res = pandas_verdicts(Result("q", "OK", 1, None), spark_pdf, duck_pdf)
    dtype_ok = all(safe for *_, safe in res.dtypes)
    assert res.hash_ok == frames_equal(canon(spark_pdf), canon(duck_pdf))
    assert res.status == ("OK" if dtype_ok and res.hash_ok else "FAIL")
    return dtype_ok, res.hash_ok


def test_hugeint_float_vs_bigint_fails_both_verdicts():
    # DuckDB sum(int) is HUGEINT -> pandas float64; Spark bigint -> int64
    s = pd.DataFrame({"n": np.array([3, 5], dtype="int64")})
    d = pd.DataFrame({"n": np.array([3.0, 5.0], dtype="float64")})
    assert dtype_findings(s, d) == [("n", "int64", "float64", False)]
    assert _verdicts(s, d) == (False, False)


def test_null_object_vs_nan_fails_hash():
    # an all-NULL column: Spark's object column holds None, DuckDB's
    # lands as float64 NaN
    s = pd.DataFrame({"v": pd.Series([None, None], dtype=object)})
    d = pd.DataFrame({"v": [np.nan, np.nan]})
    assert _verdicts(s, d)[1] is False
    # within object columns canon maps None and NaN to one sentinel
    s = pd.DataFrame({"v": pd.Series(["a", None], dtype=object)})
    d = pd.DataFrame({"v": pd.Series(["a", np.nan], dtype=object)})
    assert _verdicts(s, d) == (True, True)


def test_safe_dtype_pairs_pass():
    ts = pd.to_datetime(["2024-01-01", "2024-01-02"])
    days = pd.Series([date(2024, 1, 1), None], dtype=object)
    pairs = [
        (np.array([1, 2], dtype="int32"), np.array([1, 2], dtype="int64")),
        (np.array([1, 2], dtype="int64"), np.array([1, 2], dtype="int32")),
        (np.array([1, 2], dtype="int8"), np.array([1, 2], dtype="int32")),
        (ts.astype("datetime64[ns]"), ts.astype("datetime64[us]")),
        (days, pd.Series([pd.Timestamp("2024-01-01"), pd.NaT]).astype(
            "datetime64[us]")),
    ]
    for a, b in pairs:
        s, d = pd.DataFrame({"c": a}), pd.DataFrame({"c": b})
        (finding,) = dtype_findings(s, d)
        assert finding[3] is True, finding
        assert _verdicts(s, d) == (True, True), finding
    assert len(SAFE_DTYPE_PAIRS) == 4  # int32/int64 counts both ways


def test_unlisted_dtype_pairs_fail():
    for a, b in [
        (np.array([True, False]), np.array([1, 0], dtype="int64")),
        (np.array([1.5], dtype="float32"), np.array([1.5], dtype="float64")),
    ]:
        s, d = pd.DataFrame({"c": a}), pd.DataFrame({"c": b})
        assert _verdicts(s, d)[0] is False, (a.dtype, b.dtype)


def test_string_object_vs_datetime_is_not_a_safe_pair():
    s = pd.DataFrame({"t": pd.Series(["2024-01-01"], dtype=object)})
    d = pd.DataFrame({"t": pd.to_datetime(["2024-01-01"]).astype("datetime64[us]")})
    assert dtype_findings(s, d) == [("t", "object", "datetime64[us]", False)]
