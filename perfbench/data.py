"""Deterministic input tables for the ``batch`` workload.

The engine's queries read ten parquet tables (``tables.TABLE_NAMES``).
The benchmark cannot rely on any dataset outside its checkout, so it
writes its own, shaped like the synthetic sf0.01 test corpus described
in TESTDATA.md: the same schemas and physical types (pandas/pyarrow
parquet, naive ``timestamp[us]``), the same row counts, and the same
kind of independent uniform columns.  Two properties the curation ids depend
on are reproduced on purpose: about 5% of documents are an earlier
document plus the word ``dup`` (near-duplicates for LSH, SemDeDup and
clustering), and embeddings are unit vectors around ten label centres
with a few perturbed copies (near-duplicate pairs above 0.9 cosine).

The tables depend only on ``DATA_SEED``; the workload seed varies the
order of operations, not the data, so every run's oracle is the same.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# the sf0.01 test corpus's row counts
ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
VERSION = 1  # bump when the generated bytes change

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, stop, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(stop, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n).astype("datetime64[D]")).astype(
        "datetime64[us]"
    )


def _tables(rng) -> dict[str, dict]:
    n = ROWS
    i32 = np.int32
    region = {
        "r_regionkey": np.arange(5, dtype=i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }
    nation = {
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32),
    }
    segments = np.array(
        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    )
    customer = {
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": segments[rng.integers(0, 5, n["customer"])],
    }
    supplier = {
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    }
    adjectives = np.array("big blue hot old red small".split())
    nouns = np.array("anvil bolt gear plate ring rod widget nut cog pin spring".split())
    types = np.array("ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split())
    npart = n["part"]
    part = {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": np.char.add(
            np.char.add(adjectives[rng.integers(0, 6, npart)], " "),
            nouns[rng.integers(0, 11, npart)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": types[rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype(i32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1),
    }
    nord = n["orders"]
    orders = {
        "o_orderkey": np.arange(nord, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], nord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, nord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, nord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", nord),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, nord)],
    }
    nli = n["lineitem"]
    lineitem = {
        "l_orderkey": rng.integers(0, nord, nli).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nli).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], nli).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nli).astype(i32),
        "l_quantity": rng.integers(1, 51, nli).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nli),
        "l_discount": np.round(rng.uniform(0.0, 0.1, nli), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, nli), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nli)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nli)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nli),
    }
    nev = n["events"]
    # strictly increasing event times: exponential gaps over ~30 days
    gaps_us = rng.exponential(30 * 86400e6 / nev, nev).astype(np.int64) + 1
    start_us = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    events = {
        "event_id": np.arange(nev, dtype=np.int64),
        "ts": (start_us + np.cumsum(gaps_us)).astype("datetime64[us]"),
        "user_id": rng.integers(0, 150, nev).astype(np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, nev)
        ],
        "value": np.maximum(np.round(rng.exponential(50.0, nev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, nev)],
    }
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": _documents(rng),
        "embeddings": _embeddings(rng),
    }


def _documents(rng) -> dict:
    ndoc = ROWS["documents"]
    texts: list[str] = []
    for k in range(ndoc):
        if k >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, k))] + " dup")
        else:
            words = rng.integers(0, len(_WORDS), int(rng.integers(10, 100)))
            texts.append(" ".join(_WORDS[w] for w in words))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    return {
        "doc_id": np.arange(ndoc, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), ndoc)],
        "source": [f"src{k % 20}" for k in range(ndoc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng) -> dict:
    nvec, dim = ROWS["embeddings"], 64
    centres = rng.standard_normal((10, dim))
    labels = rng.integers(0, 10, nvec)
    vecs = centres[labels] + 1.5 * rng.standard_normal((nvec, dim))
    # ~4% near-duplicates of an earlier vector
    for k in range(10, nvec):
        if rng.random() < 0.04:
            src = int(rng.integers(0, k))
            vecs[k] = vecs[src] + 0.05 * rng.standard_normal(dim)
            labels[k] = labels[src]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return {
        "vec_id": np.arange(nvec, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    }


def ensure_tables(out_dir: str) -> str:
    """Write the tables under ``out_dir`` unless this version is
    already there; return the directory the queries read."""
    sf_dir = os.path.join(out_dir, f"sf0.01-v{VERSION}")
    stamp = os.path.join(sf_dir, "_COMPLETE")
    if os.path.exists(stamp):
        return sf_dir
    os.makedirs(sf_dir, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    for name, cols in _tables(rng).items():
        table = pa.table({c: (v if isinstance(v, pa.Array) else pa.array(v))
                          for c, v in cols.items()})
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
    with open(stamp, "w") as fh:
        json.dump(ROWS, fh)
    return sf_dir
