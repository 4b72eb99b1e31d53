"""Seeded fixture generator for the benchmark.

Writes the engine's ten tables (one parquet file each, one row group,
the schemas of the repository's test fixtures the queries were written
against) into a directory. The same ``(scale, seed)`` always writes the
same rows: every column comes from one ``numpy.random.RandomState``.

Row counts follow the fixture ladder: lineitem has ``6_000_000 *
scale`` rows, documents and embeddings never fewer than 500. The value
distributions are uniform like the fixtures', and 5% of the documents
are near-duplicates of earlier ones so the dedup operators find pairs.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()
LANGS = ["en", "en", "en", "es", "fr", "zh", "de"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
ADJECTIVES = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
EMBED_DIM = 64

_US_PER_DAY = 86_400_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(
        (datetime.datetime(y, m, d) - datetime.datetime(1970, 1, 1))
        / datetime.timedelta(microseconds=1)
    )


def _days(rng, n: int, lo: tuple, hi: tuple) -> pa.Array:
    """Uniform whole-day timestamps in [lo, hi]."""
    lo_us, hi_us = _epoch_us(*lo), _epoch_us(*hi)
    days = rng.randint(0, (hi_us - lo_us) // _US_PER_DAY + 1, size=n)
    return pa.array(lo_us + days * _US_PER_DAY, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _pick(rng, values: list, n: int) -> list:
    return [values[i] for i in rng.randint(0, len(values), size=n)]


def _write(out_dir: str, name: str, cols: dict) -> None:
    table = pa.table(cols)
    pq.write_table(
        table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=len(table) + 1
    )


def _documents(rng, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.rand() < 0.05:
            base = texts[rng.randint(0, i)].split()
            # near-duplicate: a copy, a copy with a marker word, or a
            # copy missing its tail
            kind = rng.randint(0, 3)
            if kind == 1:
                base = base + ["dup"]
            elif kind == 2 and len(base) > 12:
                base = base[: len(base) - rng.randint(1, 4)]
            texts.append(" ".join(base))
        else:
            words = rng.randint(0, len(VOCAB), size=rng.randint(10, 100))
            texts.append(" ".join(VOCAB[w] for w in words))
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n: int) -> dict:
    x = rng.standard_normal((n, EMBED_DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    x = x.astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.randint(0, 10, size=n), pa.int32()),
    }


def write_tables(out_dir: str, scale: float, seed: int) -> str:
    """Write every table for ``scale`` and ``seed`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.RandomState(seed)
    n_cust = max(10, int(150_000 * scale))
    n_supp = max(5, int(10_000 * scale))
    n_part = max(10, int(200_000 * scale))
    n_ord = max(10, int(1_500_000 * scale))
    n_line = max(10, int(6_000_000 * scale))
    n_evt = max(10, int(1_000_000 * scale))
    n_user = max(10, int(15_000 * scale))
    n_doc = max(500, int(50_000 * scale))
    n_vec = max(500, int(20_000 * scale))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.randint(0, 25, size=n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.randint(0, 25, size=n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    names = [f"{a} {b}" for a, b in zip(
        _pick(rng, ADJECTIVES, n_part), _pick(rng, NOUNS, n_part)
    )]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.randint(1, 26, size=n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.randint(1, 51, size=n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.randint(0, n_cust, size=n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, (1995, 1, 1), (2001, 8, 1)),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.randint(0, n_ord, size=n_line), pa.int64()),
        "l_partkey": pa.array(rng.randint(0, n_part, size=n_line), pa.int64()),
        "l_suppkey": pa.array(rng.randint(0, n_supp, size=n_line), pa.int64()),
        "l_linenumber": pa.array(rng.randint(1, 8, size=n_line), pa.int32()),
        "l_quantity": rng.randint(1, 51, size=n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.randint(0, 11, size=n_line) / 100.0,
        "l_tax": rng.randint(0, 9, size=n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, (1995, 1, 2), (2001, 11, 4)),
    })
    start = _epoch_us(2024, 1, 1)
    ts = np.sort(rng.randint(0, 30 * _US_PER_DAY, size=n_evt)) + start
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.randint(0, n_user, size=n_evt), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_evt),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, size=n_evt), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, size=n_evt)],
    })
    _write(out_dir, "documents", _documents(rng, n_doc))
    _write(out_dir, "embeddings", _embeddings(rng, n_vec))
    return out_dir
