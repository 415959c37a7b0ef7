"""Seeded input generator for the benchmark.

Writes the ten engine tables (region nation customer supplier part orders
lineitem events documents embeddings) with the exact parquet column names
and types of the engine's sf fixtures, sized by a scale factor relative to
sf0.1 (``scale=1.0`` gives sf0.1 row counts, ``scale=0.01`` sf0.001).

Every random choice comes from one ``numpy.random.Generator`` seeded with
the workload seed, so the same (seed, scale, slices) writes byte-identical
files. Keys are sampled WITHOUT replacement from a key space twice the
table size, and every foreign key is drawn from the sampled parent keys, so
lineitem -> orders/part/supplier and orders -> customer stay closed.

``events`` can be written as ``slices`` event-time slices: a directory
``events.parquet/`` of part files with increasing mtimes, so a file-source
replay with one file per trigger runs one micro-batch per slice. A flat
single-file copy of every table goes to ``<out>/oracle`` for DuckDB.
"""

from __future__ import annotations

import hashlib
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

SCHEMAS = {
    "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "nation": pa.schema(
        [("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]
    ),
    "customer": pa.schema(
        [
            ("c_custkey", pa.int64()),
            ("c_name", pa.string()),
            ("c_nationkey", pa.int32()),
            ("c_acctbal", pa.float64()),
            ("c_mktsegment", pa.string()),
        ]
    ),
    "supplier": pa.schema(
        [
            ("s_suppkey", pa.int64()),
            ("s_name", pa.string()),
            ("s_nationkey", pa.int32()),
            ("s_acctbal", pa.float64()),
        ]
    ),
    "part": pa.schema(
        [
            ("p_partkey", pa.int64()),
            ("p_name", pa.string()),
            ("p_brand", pa.string()),
            ("p_type", pa.string()),
            ("p_size", pa.int32()),
            ("p_retailprice", pa.float64()),
        ]
    ),
    "orders": pa.schema(
        [
            ("o_orderkey", pa.int64()),
            ("o_custkey", pa.int64()),
            ("o_orderstatus", pa.string()),
            ("o_totalprice", pa.float64()),
            ("o_orderdate", pa.timestamp("us")),
            ("o_orderpriority", pa.string()),
        ]
    ),
    "lineitem": pa.schema(
        [
            ("l_orderkey", pa.int64()),
            ("l_partkey", pa.int64()),
            ("l_suppkey", pa.int64()),
            ("l_linenumber", pa.int32()),
            ("l_quantity", pa.float64()),
            ("l_extendedprice", pa.float64()),
            ("l_discount", pa.float64()),
            ("l_tax", pa.float64()),
            ("l_returnflag", pa.string()),
            ("l_linestatus", pa.string()),
            ("l_shipdate", pa.timestamp("us")),
        ]
    ),
    "events": pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    ),
    "documents": pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]
    ),
    "embeddings": pa.schema(
        [
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]
    ),
}

# Row counts at sf0.1 (scale=1.0); documents/embeddings keep the fixtures'
# floor of 500 rows at small scales.
BASE_ROWS = {
    "customer": 15000,
    "supplier": 1000,
    "part": 20000,
    "orders": 150000,
    "lineitem": 600000,
    "events": 100000,
    "documents": 5000,
    "embeddings": 2000,
}
MIN_ROWS = {"supplier": 10, "documents": 500, "embeddings": 500}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EMBED_DIM = 64

DAY_US = 86_400_000_000
ORDER_EPOCH_US = 788_918_400_000_000  # 1995-01-01
EVENT_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01


def _rows(name: str, scale: float) -> int:
    return max(MIN_ROWS.get(name, 1), int(round(BASE_ROWS[name] * scale)))


def _keys(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct keys sampled without replacement from [0, 2n), sorted."""
    return np.sort(rng.choice(2 * n, size=n, replace=False)).astype(np.int64)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> list[str]:
    return [values[i] for i in rng.choice(len(values), size=n, p=p)]


def build_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables (events un-sliced)."""
    rng = np.random.default_rng(seed)
    out: dict[str, dict] = {}
    out["region"] = {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    out["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }

    n = _rows("customer", scale)
    cust = _keys(rng, n)
    out["customer"] = {
        "c_custkey": cust,
        "c_name": [f"Customer#{k:09d}" for k in cust],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, SEGMENTS, n),
    }

    n = _rows("supplier", scale)
    supp = _keys(rng, n)
    out["supplier"] = {
        "s_suppkey": supp,
        "s_name": [f"Supplier#{k:09d}" for k in supp],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    }

    n = _rows("part", scale)
    part = _keys(rng, n)
    adj = rng.integers(0, len(ADJECTIVES), n)
    noun = rng.integers(0, len(NOUNS), n)
    out["part"] = {
        "p_partkey": part,
        "p_name": [f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": _pick(rng, PART_TYPES, n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (part % 1000) * 0.1, 1),
    }

    n = _rows("orders", scale)
    orders = _keys(rng, n)
    out["orders"] = {
        "o_orderkey": orders,
        "o_custkey": rng.choice(cust, n),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": ORDER_EPOCH_US + rng.integers(0, 2405, n) * DAY_US,
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    }

    n = _rows("lineitem", scale)
    out["lineitem"] = {
        "l_orderkey": rng.choice(orders, n),
        "l_partkey": rng.choice(part, n),
        "l_suppkey": rng.choice(supp, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": ORDER_EPOCH_US + DAY_US + rng.integers(0, 2499, n) * DAY_US,
    }

    n = _rows("events", scale)
    users = max(10, int(round(1500 * scale)))
    out["events"] = {
        "event_id": _keys(rng, n),
        "ts": np.sort(EVENT_EPOCH_US + rng.integers(0, 30 * DAY_US, n)),
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }

    n = _rows("documents", scale)
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 0 and roll < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and roll < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), k)))
    out["documents"] = {
        "doc_id": _keys(rng, n),
        "text": texts,
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }

    n = _rows("embeddings", scale)
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = 0.6 * centers[labels] + rng.normal(0.0, 1.0, (n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = {
        "vec_id": _keys(rng, n),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    }

    tables = {}
    for name in TABLES:
        schema = SCHEMAS[name]
        cols = out[name]
        tables[name] = pa.table(
            [pa.array(cols[f.name], type=f.type) if not isinstance(cols[f.name], pa.Array)
             else cols[f.name] for f in schema],
            schema=schema,
        )
    return tables


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def generate(out_dir: str, seed: int, scale: float, slices: int = 1) -> dict:
    """Write the tables under ``out_dir`` and return a manifest:
    ``sf_dir`` (what the program reads), ``oracle_dir`` (flat files for
    DuckDB), ``rows`` per table and ``sha256`` per written file."""
    tables = build_tables(seed, scale)
    sf_dir = os.path.join(out_dir, "sf")
    oracle_dir = os.path.join(out_dir, "oracle")
    os.makedirs(sf_dir)
    os.makedirs(oracle_dir)
    hashes: dict[str, str] = {}
    for name, table in tables.items():
        flat = os.path.join(oracle_dir, f"{name}.parquet")
        pq.write_table(table, flat)
        target = os.path.join(sf_dir, f"{name}.parquet")
        if name == "events" and slices > 1:
            os.makedirs(target)
            ts = table.column("ts").to_numpy().astype("datetime64[us]").astype(np.int64)
            edges = np.linspace(ts.min(), ts.max() + 1, slices + 1)
            bounds = np.searchsorted(ts, edges)
            # mtimes in event-time order, all in the past: a file source
            # replays the slices oldest first, before any file it adds later
            base = time.time() - 10 * slices
            for i in range(slices):
                part = os.path.join(target, f"part-{i:05d}.parquet")
                pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), part)
                os.utime(part, (base + i, base + i))
                hashes[f"{name}/part-{i:05d}"] = _sha256(part)
        else:
            os.link(flat, target)
            hashes[name] = _sha256(flat)
    return {
        "sf_dir": sf_dir,
        "oracle_dir": oracle_dir,
        "rows": {name: t.num_rows for name, t in tables.items()},
        "sha256": hashes,
    }
