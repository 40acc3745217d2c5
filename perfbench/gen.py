"""Seeded input generator: the ten engine tables with the fixture schemas.

Every table is drawn from one ``numpy`` generator seeded by the workload
seed and written as a single-row-group Snappy Parquet file, so the same
seed gives byte-identical files and a different seed gives different
content. Column types follow FIXTURES.md, timestamp units included:
``o_orderdate`` and ``l_shipdate`` are ``timestamp[ms]``, ``events.ts``
is ``timestamp[ns]`` (the source layer's nanos-as-long path). Keys stay
unique and every foreign key resolves:

- ``orders.o_custkey`` -> ``customer``; ``lineitem`` -> ``orders``,
  ``part`` and ``supplier``; ``(l_orderkey, l_linenumber)`` is unique.
- ``documents`` carries planted near-duplicate groups: 5% of the
  documents are an earlier document's text plus the token ``dup``, and
  1% are exact copies of an earlier document.
- ``embeddings`` are unit-length 64-dim float vectors around ``label``
  cluster centres, with 1% planted near-duplicate vectors (a jittered
  copy of an earlier vector).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# The fixture's closed vocabularies.
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_COLOURS = ("blue", "red", "green", "black", "white", "small", "large", "steel")
_THINGS = ("anvil", "widget", "gadget", "bolt", "gear", "spring", "valve", "lever")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "purchase", "error", "signup", "view")
_LANGS = ("en", "fr", "es", "zh", "de")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
_WORDS = (
    "scan column window order sort part agg value line key join merge group "
    "query a vector hash slow stream filter fast the batch spark table small "
    "data big customer row"
).split()
_DIM = 64

_EPOCH = dt.datetime(1970, 1, 1)
_ORDER_START = (dt.datetime(1995, 1, 1) - _EPOCH).days
_ORDER_DAYS = (dt.datetime(2001, 8, 1) - dt.datetime(1995, 1, 1)).days
_EVENTS_START_NS = int((dt.datetime(2024, 1, 1) - _EPOCH).total_seconds()) * 1_000_000_000


# Row counts of the sf0.001 fixture: 150 customers, 1,500 orders (~6,000
# lines), 1,000 events, 500 documents and 500 embedding vectors.
ROWS = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "events": 1000,
    "users": 15,
    "documents": 500,
    "embeddings": 500,
}


def _days_to_ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("int64") * 86_400_000, pa.timestamp("ms"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(seed: int) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables, drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(_REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    n_cust = ROWS["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust).tolist(),
    })

    n_supp = ROWS["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })

    n_part = ROWS["part"]
    retail = np.round(900.0 + (np.arange(n_part) % 200) * 0.1 + rng.integers(0, 3, n_part) * 0.01, 2)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_COLOURS, n_part), rng.choice(_THINGS, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    })

    n_ord = ROWS["orders"]
    odate = _ORDER_START + rng.integers(0, _ORDER_DAYS + 1, n_ord)
    n_lines = rng.integers(1, 8, n_ord)
    l_ord = np.repeat(np.arange(n_ord), n_lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in n_lines])
    n_li = len(l_ord)
    l_part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype("float64")
    ext = np.round(qty * retail[l_part], 2)
    disc = rng.integers(0, 11, n_li) / 100.0
    tax = rng.integers(0, 9, n_li) / 100.0
    ship = odate[l_ord] + rng.integers(1, 122, n_li)
    total = np.round(np.bincount(l_ord, weights=ext * (1 + tax) * (1 - disc), minlength=n_ord), 2)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord).tolist(),
        "o_totalprice": total,
        "o_orderdate": _days_to_ts(odate),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord).tolist(),
    })
    # Shuffle line order so scans see no orderkey clustering, as in the
    # fixture.
    perm = rng.permutation(n_li)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_ord[perm], pa.int64()),
        "l_partkey": pa.array(l_part[perm], pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_num[perm], pa.int32()),
        "l_quantity": qty[perm],
        "l_extendedprice": ext[perm],
        "l_discount": disc[perm],
        "l_tax": tax[perm],
        "l_returnflag": rng.choice(("A", "N", "R"), n_li).tolist(),
        "l_linestatus": rng.choice(("F", "O"), n_li).tolist(),
        "l_shipdate": _days_to_ts(ship[perm]),
    })

    n_ev = ROWS["events"]
    # whole microseconds, so the source layer's ns -> us truncation and
    # DuckDB's agree
    gaps = (rng.exponential(2_600_000_000, n_ev).astype("int64") + 1) * 1000
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(_EVENTS_START_NS + np.cumsum(gaps), pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, ROWS["users"], n_ev), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, n_ev).tolist(),
        "value": np.round(rng.gamma(2.0, 30.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    out["documents"] = _documents(rng, ROWS["documents"])
    out["embeddings"] = _embeddings(rng, ROWS["embeddings"])
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.array(_WORDS)
    texts: list[str] = []
    kind = rng.random(n)
    for i in range(n):
        if i > 0 and kind[i] < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 0 and kind[i] < 0.06:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(10, 100))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=_LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centres = rng.normal(0.0, 1.0, (10, _DIM))
    x = 0.5 * centres[labels] + rng.normal(0.0, 1.0, (n, _DIM))
    near = np.flatnonzero(rng.random(n) < 0.01)
    near = near[near > 0]
    src = rng.integers(0, near, len(near)) if len(near) else near
    x[near] = x[src] + rng.normal(0.0, 0.01, (len(near), _DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype("float32").ravel(), pa.float32())
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * _DIM + 1, _DIM), pa.int32()), flat,
        type=pa.list_(pa.field("element", pa.float32())),
    )
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb,
        "label": pa.array(labels, pa.int32()),
    })


def write(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One single-row-group Snappy file per table, as the fixtures are."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"),
            compression="snappy", row_group_size=max(table.num_rows, 1),
        )
