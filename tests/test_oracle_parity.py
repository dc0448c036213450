"""Replicates the driver's correctness gate: every registered query with
an oracle must match DuckDB on row count, column names, and
order-insensitive values at sf0.01 (the value verdict of
tools/check_oracle.py)."""

from __future__ import annotations

import pytest

from binancedatapipelineinaws_spark.registry import all_specs
from conftest import SF_ORACLE
from tools.check_oracle import run_one

SPECS = all_specs()


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_matches_oracle(name, spark, duck):
    from binancedatapipelineinaws_spark.session import persist_scope

    spec = SPECS[name]
    # persist_scope: release this id's scoped_persist()-ed frames on
    # exit so the 316-id serial replica doesn't accumulate cached
    # blocks across the whole session (ADVICE r12 item 3)
    with persist_scope():
        sdf = spec.fn(spark, SF_ORACLE)
        status, _, msg = run_one(duck, spec, sdf)
    assert status in ("OK", "ROWS_ONLY"), msg
