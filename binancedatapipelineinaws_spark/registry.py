"""Query registry: the single source of truth wiring SURVEY.md §2 query
ids to (a) an idiomatic-Spark callable and (b) the ANSI-SQL oracle that
DuckDB runs over the same parquet for the correctness gate.

Every operator the engine claims is registered here exactly once; the
driver contract file ``__spark_entry__.py`` just re-exports this.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "QuerySpec"] = {}


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: Optional[str]  # DuckDB SQL; None -> rows-only check


def register(name: str, oracle: Optional[str] = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn`` under ``name`` with its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query id {name!r}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle)
        return fn

    return deco


def _load_all() -> None:
    # Import for side effect: each module registers its queries.
    from binancedatapipelineinaws_spark import canonical  # noqa: F401
    from binancedatapipelineinaws_spark.operators import (  # noqa: F401
        aggregations,
        analytics,
        cdc,
        graph,
        indicators,
        joins,
        pipeline_ops,
        scalar_fns,
        scaling,
        sorts_setops,
        stats,
        subqueries,
        timeseries,
        windows,
    )
    from binancedatapipelineinaws_spark.sources import (  # noqa: F401
        jsonl,
        maintenance,
        tsv,
    )
    from binancedatapipelineinaws_spark.functions import (  # noqa: F401
        clustering,
        corpus,
        curation,
        dedup,
        multimodal,
        retrieval,
        sampling,
        similarity,
        text,
        udfs,
    )


def _verified_rounds(repo_root: Optional[str] = None) -> dict[str, int]:
    """Map of query name -> round number of its LATEST clean driver
    row (a value-verified pass with the hash matching, or a completed
    rows-only run).  Rows that errored OR hash-mismatched don't count —
    those need the window again.  A later failure un-verifies an
    earlier pass: the newest driver record for a name wins, so a query
    that regresses (e.g. after a testdata format change) re-enters the
    window even if it was green in a previous round.  The round number
    feeds the freshness rotation in ``all_specs``: with everything
    verified at least once, the ~50-slot driver window refreshes the
    OLDEST rows first (VERDICT r7 item 4 — 35 rows dated to r1 and 12
    to r2 while slots went to already-fresh queries)."""
    import glob
    import json
    import os
    import re

    if repo_root is None:
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest: dict[str, Optional[int]] = {}
    for path in sorted(glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                records = json.load(f)
        except (OSError, ValueError):
            continue
        for name, rec in records.items():
            if not isinstance(rec, dict):
                continue
            latest[name] = rnd if _is_clean_record(rec) else None
    return {name: rnd for name, rnd in latest.items() if rnd is not None}


def _verified_names(repo_root: Optional[str] = None) -> set[str]:
    """Names with a clean latest driver row (see _verified_rounds)."""
    return set(_verified_rounds(repo_root))


# Absolute staleness ratchet (r9 verdict item 8): no row in the
# cumulative driver record may lag the newest round by more than this
# many rounds.  With ~50 slots/round and 295+ ids the age-ordered
# window refreshes everything within ceil(N/50) rounds; 6 adds no
# slack beyond that — registering a flood of new ids that would push
# any row past the bound fails tests/test_registry.py BEFORE the
# round burns its slots.
STALENESS_BOUND_ROUNDS = 6


def stale_rows(
    vrounds: Optional[dict[str, int]] = None,
    bound: int = STALENESS_BOUND_ROUNDS,
) -> list[str]:
    """Names whose latest clean driver row lags the newest round in
    the record by more than ``bound`` rounds.  Empty on a healthy
    record; non-empty means the window rotation has fallen behind
    (ship fewer new ids this round)."""
    if vrounds is None:
        vrounds = _verified_rounds()
    if not vrounds:
        return []
    cur = max(vrounds.values())
    return sorted(n for n, r in vrounds.items() if cur - r > bound)


def _is_clean_record(rec: dict) -> bool:
    """True only for a fully-clean driver row: value-verified with the
    hash matching, or a completed rows-only run (no oracle by design)."""
    if rec.get("err") == "no_oracle":
        return True
    return (
        rec.get("err") is None
        and rec.get("rows_match") is True
        and rec.get("schema_match") is True
        and rec.get("hash_match") is True
    )


def all_specs() -> dict[str, QuerySpec]:
    """Every registered query, in driver-window order.

    The driver's correctness gate checks registrations in iteration
    order and caps a round at ~50 queries (CORRECTNESS_r01.json stopped
    exactly at the 50th registration), so the order is coverage policy:
    never-verified queries first (registration order), then the green
    tail OLDEST latest-clean driver row first.  Each round's window
    thus lands on the least-verified part of the surface and refreshes
    the stalest rows, keeping every row inside the staleness ratchet.
    """
    _load_all()
    vrounds = _verified_rounds()
    pos = {n: i for i, n in enumerate(_REGISTRY)}
    unverified = [n for n in _REGISTRY if n not in vrounds]
    green_by_age = sorted(
        (n for n in _REGISTRY if n in vrounds),
        key=lambda n: (vrounds[n], pos[n]),
    )
    return {n: _REGISTRY[n] for n in unverified + green_by_age}


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in all_specs().items()
        if spec.oracle is not None
    }
