"""Generate a larger scale-factor dataset by replicating the driver's
synthetic tables with key remapping.

The container has no network, so DuckDB's ``tpch`` extension cannot be
installed; instead we scale the existing driver-generated tables
(``/root/testdata/sf0.1``) by an integer factor ``R``:

- **Fact tables** (``lineitem``, ``orders``, ``customer``, ``part``,
  ``supplier``, ``events``): each replica ``r`` shifts every key column
  by ``r * cardinality(table)`` (keys are dense ``0..N-1``), so foreign
  keys stay consistent *within* a replica and distinct-key counts scale
  linearly — exactly how TPC-H scales facts. Dimension tables
  (``region``, ``nation``) stay fixed, as TPC-H does.
- **documents**: replica 0 is the original; replicas ``r>0`` rewrite
  ~60% of each document's tokens with draws from the corpus vocabulary
  (seeded per replica+doc). This keeps the length/source/lang
  distributions while ensuring replicas are NOT near-duplicates of
  their originals — naive replication would create R-way duplicate
  clusters and O(R^2) candidate pairs in every similarity query, a
  scaling artifact the real generator would not have.
- **embeddings**: replicas mix the original unit vector with fresh
  Gaussian noise (``normalize(0.5*v + g)``, cosine ~0.45 to the
  original) so near-dup/ANN candidate structure also scales linearly.

Usage: python scripts/gen_scale_data.py [--factor 10] \
    [--src <testdata>/sf0.1] [--dst <checkout>/.scratch/sf1]
"""

from __future__ import annotations

import argparse
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# key column -> cardinality at the source scale (dense 0..N-1); filled
# at runtime from the actual tables so the script works for any src sf.
KEYED = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"],
}
# which table owns each key's cardinality
KEY_OWNER = {
    "c_custkey": ("customer", "c_custkey"),
    "o_orderkey": ("orders", "o_orderkey"),
    "o_custkey": ("customer", "c_custkey"),
    "l_orderkey": ("orders", "o_orderkey"),
    "l_partkey": ("part", "p_partkey"),
    "l_suppkey": ("supplier", "s_suppkey"),
    "p_partkey": ("part", "p_partkey"),
    "s_suppkey": ("supplier", "s_suppkey"),
    "event_id": ("events", "event_id"),
    "user_id": ("events", "user_id"),
}
DIMS = ["region", "nation"]


def replicate_tabular(con, src: str, dst: str, factor: int) -> None:
    card: dict[str, int] = {}
    for key, (tbl, col) in KEY_OWNER.items():
        if key not in card:
            card[key] = (
                con.execute(
                    f"SELECT max({col}) + 1 FROM '{src}/{tbl}.parquet'"
                ).fetchone()[0]
            )
    for tbl, keys in KEYED.items():
        cols = [
            r[0]
            for r in con.execute(
                f"DESCRIBE SELECT * FROM '{src}/{tbl}.parquet'"
            ).fetchall()
        ]
        sel = ", ".join(
            f"({c} + r.r * {card[c]})::BIGINT AS {c}" if c in keys else c
            for c in cols
        )
        # part names must not replicate verbatim: fuzzy-match queries
        # (levenshtein pairs, golden records) would see every part
        # gain R-1 exact twins — an O(R^2) duplicate-cluster artifact
        # of the replication, not a property of bigger data. Replica
        # r>0 swaps the word at position (key+r) mod n_words for a
        # deterministic draw from the corpus word list.
        joins = ""
        if tbl == "part" and "p_name" in cols:
            con.execute(
                "CREATE OR REPLACE TEMP TABLE part_words AS "
                "SELECT ROW_NUMBER() OVER (ORDER BY w) - 1 AS wi, w "
                f"FROM (SELECT DISTINCT unnest(string_split(p_name, ' ')) AS w "
                f"      FROM '{src}/part.parquet')"
            )
            n_words = con.execute(
                "SELECT COUNT(*) FROM part_words"
            ).fetchone()[0]
            sel = sel.replace(
                "p_name",
                "CASE WHEN r.r = 0 THEN p_name ELSE "
                "list_aggregate(list_transform(string_split(p_name, ' '), "
                "(x, i) -> CASE WHEN i - 1 = "
                "(p_partkey + r.r) % len(string_split(p_name, ' ')) "
                "THEN pw.w ELSE x END), 'string_agg', ' ') END AS p_name",
            )
            joins = (
                " JOIN part_words pw ON pw.wi = "
                f"(p_partkey * 31 + r.r * 7) % {n_words}"
            )
        con.execute(
            f"COPY (SELECT {sel} FROM '{src}/{tbl}.parquet', "
            f"range({factor}) r(r){joins} ORDER BY r.r) "
            f"TO '{dst}/{tbl}.parquet' (FORMAT PARQUET)"
        )
        print(f"  {tbl}: x{factor}")
    for tbl in DIMS:
        con.execute(
            f"COPY (SELECT * FROM '{src}/{tbl}.parquet') "
            f"TO '{dst}/{tbl}.parquet' (FORMAT PARQUET)"
        )
        print(f"  {tbl}: copied")


def replicate_documents(src: str, dst: str, factor: int) -> None:
    t = pq.read_table(f"{src}/documents.parquet")
    df = t.to_pandas()
    n = len(df)
    vocab = sorted({w for s in df["text"] for w in s.split(" ")})
    vocab_arr = np.array(vocab)
    out = [df]
    for rep in range(1, factor):
        rng = np.random.default_rng(42_000 + rep)
        d = df.copy()
        d["doc_id"] = d["doc_id"] + rep * n
        texts = []
        for text in df["text"]:
            toks = np.array(text.split(" "))
            mask = rng.random(len(toks)) < 0.6
            toks[mask] = vocab_arr[
                rng.integers(0, len(vocab_arr), int(mask.sum()))
            ]
            texts.append(" ".join(toks))
        d["text"] = texts
        d["n_chars"] = d["text"].str.len().astype("int64")
        out.append(d)
    res = pd.concat(out, ignore_index=True)
    pq.write_table(
        pa.Table.from_pandas(res, schema=t.schema, preserve_index=False),
        f"{dst}/documents.parquet",
    )
    print(f"  documents: x{factor} (token-rewritten replicas)")


def replicate_embeddings(src: str, dst: str, factor: int) -> None:
    t = pq.read_table(f"{src}/embeddings.parquet")
    df = t.to_pandas()
    n = len(df)
    base = np.stack(df["embedding"].to_numpy())  # (n, dim) float32
    dim = base.shape[1]
    out = [df]
    for rep in range(1, factor):
        rng = np.random.default_rng(43_000 + rep)
        noise = rng.normal(0.0, 1.0 / np.sqrt(dim), size=(n, dim))
        mixed = 0.5 * base + noise
        mixed = mixed / np.linalg.norm(mixed, axis=1, keepdims=True)
        d = df.copy()
        d["vec_id"] = d["vec_id"] + rep * n
        d["embedding"] = list(mixed.astype(np.float32))
        out.append(d)
    res = pd.concat(out, ignore_index=True)
    pq.write_table(
        pa.Table.from_pandas(res, schema=t.schema, preserve_index=False),
        f"{dst}/embeddings.parquet",
    )
    print(f"  embeddings: x{factor} (noise-mixed replicas)")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--dst", default=os.path.join(REPO, ".scratch/sf1"))
    args = ap.parse_args()
    os.makedirs(args.dst, exist_ok=True)
    con = duckdb.connect()
    print(f"scaling {args.src} x{args.factor} -> {args.dst}")
    replicate_tabular(con, args.src, args.dst, args.factor)
    replicate_documents(args.src, args.dst, args.factor)
    replicate_embeddings(args.src, args.dst, args.factor)
    print("done")


if __name__ == "__main__":
    main()
