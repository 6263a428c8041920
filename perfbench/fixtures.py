"""Deterministic benchmark inputs, generated once per checkout.

The tables follow the star schema plus the ``events``, ``documents`` and
``embeddings`` extension tables that the package's ``session`` module
registers (FIXTURES.md). Generation uses a fixed internal seed, so every
run of every workload sees the same bytes; the run's ``--seed`` only
reorders operations and draws query parameters.

Layout under ``<work>/data``:

- ``sf0.1/<table>.parquet``  -- the connector workload's scale;
- ``sf0.01/<table>.parquet`` -- the pipeline workload's scale;
- ``warehouse.duckdb``       -- the warehouse stub's database, loaded
  with ``orders`` and ``lineitem`` from ``sf0.1``.

A ``READY`` marker is written last, so an interrupted generation is
redone on the next run instead of being read half-written.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
SCALES = ("0.1", "0.01")
WAREHOUSE_TABLES = ("orders", "lineitem")
# several row groups per file, so Spark splits the larger scans into
# several partitions and a write fans out over more than one task
ROW_GROUP_ROWS = 50_000

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
ADJECTIVES = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_WEIGHTS = (0.4, 0.15, 0.15, 0.15, 0.15)
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _days(rng: np.random.Generator, start: dt.date, end: dt.date, n: int) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start, "us")
    days = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(base + days.astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ids(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.asarray(WORDS, dtype=object)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    # 5% near-duplicates: another document's text plus one marker word,
    # which gives the MinHash and connected-component stages real work
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table(
        {
            "doc_id": _ids(n),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, p=LANG_WEIGHTS),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, dim))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": _ids(n),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def generate_tables(sf: float, seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` (sf 1 = 6M lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_orders, n_events = int(1_500_000 * sf), int(1_000_000 * sf)
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    lines_per_order = rng.poisson(4, n_orders)
    n_lines = int(lines_per_order.sum())
    line_order = np.repeat(np.arange(n_orders, dtype=np.int64), lines_per_order)
    first_line = np.repeat(np.cumsum(lines_per_order) - lines_per_order, lines_per_order)
    line_number = (np.arange(n_lines) - first_line) % 7 + 1

    event_start = np.datetime64("2024-01-01T00:00:00", "us")
    event_offsets = rng.integers(0, 30 * 86_400_000_000, n_events).astype("timedelta64[us]")

    return {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": _ids(n_cust),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": _ids(n_supp),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": _ids(n_part),
                "p_name": pa.array(
                    [
                        f"{ADJECTIVES[a]} {NOUNS[b]}"
                        for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                    ]
                ),
                "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
                "p_retailprice": np.round(rng.uniform(900.0, 999.9, n_part), 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": _ids(n_orders),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_orders)),
                "o_orderstatus": _pick(rng, ("F", "O", "P"), n_orders),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
                "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_orders),
                "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(line_order),
                "l_partkey": pa.array(rng.integers(0, n_part, n_lines)),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines)),
                "l_linenumber": pa.array(line_number.astype(np.int32)),
                "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n_lines),
                "l_discount": np.round(rng.uniform(0.0, 0.1, n_lines), 2),
                "l_tax": np.round(rng.uniform(0.0, 0.08, n_lines), 2),
                "l_returnflag": _pick(rng, ("A", "N", "R"), n_lines),
                "l_linestatus": _pick(rng, ("F", "O"), n_lines),
                "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_lines),
            }
        ),
        "events": pa.table(
            {
                "event_id": _ids(n_events),
                "ts": pa.array(event_start + event_offsets, pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, max(n_cust // 10, 1), n_events)),
                "event_type": _pick(rng, EVENT_TYPES, n_events),
                "value": np.round(rng.exponential(60.0, n_events), 2),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
            }
        ),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vecs),
    }


def ensure(work_dir: str) -> str:
    """Generate the inputs under ``work_dir/data`` unless already there;
    returns that directory."""
    data_dir = os.path.join(work_dir, "data")
    if os.path.exists(os.path.join(data_dir, "READY")):
        return data_dir
    shutil.rmtree(data_dir, ignore_errors=True)
    os.makedirs(data_dir)
    for sf in SCALES:
        out = os.path.join(data_dir, f"sf{sf}")
        os.makedirs(out)
        for name, table in generate_tables(float(sf)).items():
            pq.write_table(table, os.path.join(out, f"{name}.parquet"), row_group_size=ROW_GROUP_ROWS)
    _build_warehouse(data_dir)
    with open(os.path.join(data_dir, "READY"), "w") as f:
        f.write("ok\n")
    return data_dir


def _build_warehouse(data_dir: str) -> None:
    import duckdb

    con = duckdb.connect(os.path.join(data_dir, "warehouse.duckdb"))
    try:
        for name in WAREHOUSE_TABLES:
            path = os.path.join(data_dir, f"sf{SCALES[0]}", f"{name}.parquet")
            con.execute(f"CREATE TABLE {name} AS SELECT * FROM read_parquet('{path}')")
    finally:
        con.close()
