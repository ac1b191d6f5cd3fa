"""Seeded input generator for the benchmark.

Writes the ten catalog tables (FIXTURES.md schemas, one parquet file per
table) at a given scale factor, drawn from one seed, so a run never
depends on data outside its checkout. Row counts follow the fixture
ladder (lineitem = 6M x sf, documents = max(500, 50k x sf), ...); the
value distributions mirror the fixtures closely enough that every
workload key runs and matches its DuckDB twin.

`next_night` makes the backup drill's "next night" copy: the seed picks
one of the drill's tables and perturbs a seeded sample of its rows, so
the incremental snapshot must rewrite exactly that table.
"""

from __future__ import annotations

import os
import shutil

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

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["small", "red", "blue", "hot", "cold", "old", "new", "large"]
_NOUN = ["ring", "widget", "bolt", "gear", "anvil", "rod", "plate", "gizmo"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "es", "zh", "de", "fr"]
_LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()

# one string (or int) column per table: the next-night perturbation
# appends to it, which always changes the row and never the schema
_MUTATE_COL = {
    "region": "r_name",
    "nation": "n_name",
    "customer": "c_name",
    "supplier": "s_name",
    "part": "p_name",
    "orders": "o_orderpriority",
    "lineitem": "l_returnflag",
    "events": "event_type",
    "documents": "source",
    "embeddings": "label",
}

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    # parquet TIMESTAMP(MICROS) without a zone, as the fixtures store it
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    for _ in range(n):
        k = int(rng.integers(10, 101))
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    # ~5% near-duplicates (an earlier text plus a marker word) and a few
    # exact copies, so the dedup stages have real work
    for i in rng.choice(np.arange(1, n), size=max(1, n // 20), replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(1, n), size=max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P).tolist(),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, dim))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": labels,
        }
    )


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor `sf`, drawn from `seed`."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_line = max(10, int(6_000_000 * sf))
    n_evt = max(10, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    n_users = max(10, n_cust // 10)

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust).tolist(),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PTYPES, n_part).tolist(),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2405, n_ord) * _US_PER_DAY),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord).tolist(),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, n_line) * _US_PER_DAY),
        }
    )
    evt_us = np.sort(rng.integers(0, 30 * _US_PER_DAY, n_evt))
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_evt, dtype=np.int64),
            "ts": _ts(_EPOCH_2024 + evt_us),
            "user_id": rng.integers(0, n_users, n_evt).astype(np.int64),
            "event_type": rng.choice(_EVENT_TYPES, n_evt).tolist(),
            "value": np.round(rng.exponential(50.0, n_evt) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    out["documents"] = _documents(rng, n_docs)
    out["embeddings"] = _embeddings(rng, n_emb)
    return out


def write_database(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write every table to `out_dir/<table>.parquet`; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
        counts[name] = table.num_rows
    return counts


def next_night(seed: int, src_dir: str, out_dir: str, tables: tuple[str, ...]) -> set[str]:
    """Copy `tables` of `src_dir` to `out_dir`, perturbing a seeded sample
    of rows in one seeded table; return the name of the changed table as
    a set."""
    rng = np.random.default_rng([seed, 1])
    changed = {str(rng.choice(tables))}
    os.makedirs(out_dir, exist_ok=True)
    for name in tables:
        src = os.path.join(src_dir, f"{name}.parquet")
        dst = os.path.join(out_dir, f"{name}.parquet")
        if name not in changed:
            shutil.copyfile(src, dst)
            continue
        table = pq.read_table(src)
        col = _MUTATE_COL[name]
        n = table.num_rows
        hit = np.zeros(n, dtype=bool)
        hit[rng.choice(n, max(1, n // 100), replace=False)] = True
        values = table.column(col).to_numpy(zero_copy_only=False)
        if values.dtype.kind in "iu":
            new = np.where(hit, values + 1, values).astype(values.dtype)
        else:
            new = np.where(hit, values.astype(object) + "~", values).tolist()
        idx = table.schema.get_field_index(col)
        table = table.set_column(idx, table.schema.field(idx), pa.array(new, type=table.schema.field(idx).type))
        pq.write_table(table, dst, compression="snappy")
    return changed
