"""Seeded generator for the fixture tables the registry queries read.

Writes one parquet file per table in ``scache_spark.catalog.TABLES``
with the schemas and value domains of FIXTURES.md: a TPC-H-like star
schema, an ``events`` table that doubles as the streaming source, and
the ``documents`` / ``embeddings`` corpus tables.  Every column is drawn
independently from a ``numpy`` generator seeded by ``seed``, so the same
``(seed, sf)`` always writes byte-identical tables.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "green", "hot", "cold", "new", "old", "small",
            "large", "shiny", "rusty", "light", "heavy"]
PART_NOUN = ["anvil", "bolt", "ring", "rod", "plate", "gear", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "fr", "de", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
EMBED_DIM = 64

_DAY_US = 86_400_000_000
_EPOCH = np.datetime64("1970-01-01", "D")


def _days_us(first: str, last: str, n: int, rng: np.random.Generator) -> np.ndarray:
    lo = int((np.datetime64(first, "D") - _EPOCH).astype(int))
    hi = int((np.datetime64(last, "D") - _EPOCH).astype(int))
    return rng.integers(lo, hi + 1, n).astype(np.int64) * _DAY_US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def _pick(values: list[str], n: int, rng: np.random.Generator, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(lo: float, hi: float, n: int, rng: np.random.Generator) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Build every fixture table in memory."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(-999.99, 9999.99, n_cust, rng),
        "c_mktsegment": _pick(SEGMENTS, n_cust, rng),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(-999.99, 9999.99, n_supp, rng),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(names, n_part, rng),
        "p_brand": _pick([f"Brand#{i}" for i in range(1, 26)], n_part, rng),
        "p_type": _pick(PART_TYPES, n_part, rng),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(rng.integers(9000, 10000, n_part) / 10.0, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(["F", "O", "P"], n_ord, rng),
        "o_totalprice": _money(1000.0, 500_000.0, n_ord, rng),
        "o_orderdate": _ts(_days_us("1995-01-01", "2001-08-01", n_ord, rng)),
        "o_orderpriority": _pick(PRIORITIES, n_ord, rng),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(900.0, 105_000.0, n_line, rng),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(["A", "N", "R"], n_line, rng),
        "l_linestatus": _pick(["F", "O"], n_line, rng),
        "l_shipdate": _ts(_days_us("1995-01-02", "2001-11-04", n_line, rng)),
    })
    # events: arrivals of a Poisson process over January 2024, in ts order
    span_us = 30 * _DAY_US
    start_us = int((np.datetime64("2024-01-01", "D") - _EPOCH).astype(int)) * _DAY_US
    ts = start_us + np.sort(rng.integers(0, span_us, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, max(15, int(15_000 * sf)), n_ev).astype(np.int64),
        "event_type": _pick(EVENT_TYPES, n_ev, rng),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    # documents: random word streams; 5% are another document's text
    # plus one token, the planted near-duplicates the dedup queries find
    lengths = rng.integers(10, 101, n_doc)
    words = np.asarray(WORDS, dtype=object)
    text = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        text[i] = text[int(rng.integers(0, n_doc))] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": text,
        "lang": _pick(LANGS, n_doc, rng, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_emb, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            np.arange(0, (n_emb + 1) * EMBED_DIM, EMBED_DIM, dtype=np.int32),
            pa.array(vecs.ravel(), pa.float32()),
        ),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return out


def generate(out_dir: str, seed: int, sf: float) -> bool:
    """Write the tables under ``out_dir`` unless a complete earlier write
    is there.  Returns whether the directory was already complete."""
    marker = os.path.join(out_dir, "_GENERATED")
    if os.path.exists(marker):
        return True
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    with open(marker, "w") as f:
        json.dump({"seed": seed, "sf": sf}, f)
    return False
