"""Seeded input generator for the benchmark.

``generate(seed, factor, cache_root, sizes)`` returns a directory of
parquet tables (``region nation customer supplier part orders lineitem
events``) with the schemas of the repo's TPC-H-ish test data. The
seed draws a base dataset with NumPy, ``BASE_ROWS`` rows per table
unless ``sizes`` says otherwise; the base is then scaled
``factor`` times by ``scripts/gen_scale_data.py``'s key-remapped
replication (imported, not copied), and every keyed table is written
back in a seed-drawn row order. The same (seed, factor, sizes) always gives
byte-identical tables.

Results are cached per (seed, factor, sizes) under ``cache_root``. A build
happens in a temporary directory that is renamed into place only once
complete, so a half-written cache is never reused.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import uuid

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from scripts.gen_scale_data import KEYED, replicate_tabular  # noqa: E402

# base-table row counts; the shapes of sf0.001 of the repo's test data
BASE_ROWS = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1_500,
    "lineitem": 6_000,
    "events": 1_000,
}
N_USERS = 15

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["red", "blue", "green", "small", "large", "steel", "brass", "matte"]
PART_NOUN = ["widget", "ring", "gear", "bolt", "panel", "valve", "spring", "cable"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

DUCKDB_ROW_GROUP = 122_880  # rows per row group of DuckDB's COPY

US_PER_DAY = 86_400_000_000
ORDER_EPOCH = np.datetime64("1995-01-01", "us")
EVENT_EPOCH = np.datetime64("2024-01-01", "us")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def write_base(seed: int, out: str, rows: dict[str, int]) -> None:
    """Draw the base tables for ``seed`` into ``out``, ``rows[t]`` rows
    in table ``t``."""
    rng = np.random.default_rng(seed)
    n_customer, n_supplier, n_part, n_orders, n_lineitem, n_events = (
        rows[t] for t in ("customer", "supplier", "part", "orders", "lineitem", "events")
    )
    os.makedirs(out, exist_ok=True)
    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    _write(f"{out}/customer.parquet", {
        "c_custkey": np.arange(n_customer, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_customer)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_customer), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_customer),
        "c_mktsegment": rng.choice(SEGMENTS, n_customer),
    })
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": np.arange(n_supplier, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supplier)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supplier), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supplier),
    })
    price = np.round(900 + rng.integers(0, 1000, n_part) / 10, 2)
    _write(f"{out}/part.parquet", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": price,
    })
    order_days = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    _write(f"{out}/orders.parquet", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_customer, n_orders),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": ORDER_EPOCH + order_days * US_PER_DAY,
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    })
    l_order = rng.integers(0, n_orders, n_lineitem)
    l_part = rng.integers(0, n_part, n_lineitem)
    qty = rng.integers(1, 51, n_lineitem).astype(np.float64)
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": l_order,
        "l_partkey": l_part,
        "l_suppkey": rng.integers(0, n_supplier, n_lineitem),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lineitem), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[l_part], 2),
        "l_discount": rng.integers(0, 11, n_lineitem) / 100,
        "l_tax": rng.integers(0, 9, n_lineitem) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_lineitem),
        "l_linestatus": rng.choice(["F", "O"], n_lineitem),
        "l_shipdate": ORDER_EPOCH + (order_days[l_order] + rng.integers(1, 122, n_lineitem))
        * US_PER_DAY,
    })
    # events: ids follow time order, as in the test data
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n_events))
    _write(f"{out}/events.parquet", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": EVENT_EPOCH + ts,
        "user_id": rng.integers(0, N_USERS, n_events),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": _money(rng, 0.01, 500.0, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })


def shuffle_rows(seed: int, data: str) -> None:
    """Rewrite each keyed table in a row order drawn from ``seed``. The
    replication leaves rows in an order that depends on DuckDB's
    threads, so each table is sorted on all columns first. Row groups
    keep the size DuckDB wrote, so Spark splits a big table's scan
    across cores as it does the replication's own output."""
    rng = np.random.default_rng([seed, 1])
    for name in KEYED:
        path = f"{data}/{name}.parquet"
        t = pq.read_table(path)
        t = t.sort_by([(c, "ascending") for c in t.column_names])
        pq.write_table(t.take(rng.permutation(t.num_rows)), path,
                       row_group_size=DUCKDB_ROW_GROUP)


def generate(seed: int, factor: int, cache_root: str,
             sizes: tuple[tuple[str, int], ...] = ()) -> str:
    """Directory of the (seed, factor, sizes) dataset, built on first
    use. ``sizes`` overrides ``BASE_ROWS`` for some tables."""
    rows = {**BASE_ROWS, **dict(sizes)}
    name = f"seed{seed}-x{factor}" + "".join(f"-{t}{n}" for t, n in sorted(sizes))
    final = os.path.join(cache_root, name)
    if os.path.isdir(final):
        return final
    os.makedirs(cache_root, exist_ok=True)
    tmp = os.path.join(cache_root, f".build-{uuid.uuid4().hex}")
    try:
        base, data = f"{tmp}/base", f"{tmp}/data"
        write_base(seed, base, rows)
        os.makedirs(data)
        # replicate_tabular reports progress on stdout, which belongs to
        # the benchmark's result line
        with contextlib.redirect_stdout(sys.stderr):
            con = duckdb.connect()
            try:
                replicate_tabular(con, base, data, factor)
            finally:
                con.close()
        shuffle_rows(seed, data)
        try:
            os.rename(data, final)
        except OSError:
            # another builder published first; its copy is identical
            if not os.path.isdir(final):
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final
