"""Seeded input generators: the star-schema tables and the wire payloads.

The tables have the schema and value ranges of the project's test data
(TPC-H-shaped facts and dimensions plus ``events``, ``documents`` and
``embeddings``), generated with numpy from a seed so a checkout needs
nothing outside itself. One parquet file per table, one row group.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLE_SEED = 42  # the batch tables are fixed; the run seed orders work

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_THINGS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_AIRPORTS = pa.array(["JFK", "LAX", "ORD", "DFW", "SFO"])


def _pick(rng, values, n, p=None) -> pa.Array:
    return pa.array(values).take(pa.array(rng.choice(len(values), n, p=p)))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.date, span: int, n) -> pa.Array:
    base = np.datetime64(start, "D") + rng.integers(0, span, n)
    return pa.array(base.astype("datetime64[us]"))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def make_tables(sf: float, seed: int = TABLE_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_li, n_ord = int(6_000_000 * sf), int(1_500_000 * sf)
    n_cust, n_part = int(150_000 * sf), int(200_000 * sf)
    n_supp, n_ev = max(10, int(10_000 * sf)), int(1_000_000 * sf)
    n_doc, n_emb = max(100, int(50_000 * sf)), max(500, min(2000, int(20_000 * sf)))
    n_users = max(15, int(15_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    pnames = [f"{c} {w}" for c in _COLORS for w in _THINGS]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, pnames, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, _PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2404, n_ord),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2499, n_li),
    })
    gaps_us = np.maximum(1, rng.exponential(26e6 * 0.1 / sf, n_ev)).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps_us)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(10, 100))]))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, _LANGS, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return t


def ensure_tables(root: str, sf: float) -> str:
    """Write the tables for ``sf`` under ``root`` once; return the dir.

    The directory is named after this file's source, so a changed
    generator writes new tables. A ``.done`` marker is written last, so
    an interrupted write is redone by the next run.
    """
    with open(__file__, "rb") as f:
        key = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(root, f"sf{sf:g}-{key}")
    if os.path.exists(os.path.join(out, ".done")):
        return out
    os.makedirs(out, exist_ok=True)
    for name, table in make_tables(sf).items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    open(os.path.join(out, ".done"), "w").close()
    return out


def flights(rng: np.random.Generator, n: int, first_id: int) -> pa.Table:
    """Flights-shaped payload (the reference demo's DataGenerator shape)
    with seed-shuffled ids ``first_id .. first_id + n - 1``."""
    ids = pa.array(rng.permutation(n).astype(np.int64) + first_id)
    return pa.table({
        "flight_id": ids,
        "flight_number": pc.binary_join_element_wise("Flight-", pc.cast(ids, pa.string()), ""),
        "origin": _AIRPORTS.take(pa.array(rng.integers(0, 5, n))),
        "destination": _AIRPORTS.take(pa.array(rng.integers(0, 5, n))),
        "passengers": pa.array(rng.integers(50, 250, n), pa.int32()),
    })
