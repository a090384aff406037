"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB at the given sf dir, compares row count, sorted-column schema,
and order-insensitive values. Exact comparison (no float tolerance) —
the engine's determinism rules are supposed to make results
bit-identical.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
    [--shuffle-partitions N]

``--shuffle-partitions`` sets the session's
``spark.sql.shuffle.partitions``; a query whose output depends on it
fails the oracle at some setting (run at 1 and 64 to check).
"""

from __future__ import annotations

import argparse
import math
import sys
import time

import duckdb

sys.path.insert(0, ".")

from node_etl_spark.plans import QUERIES  # noqa: E402
from node_etl_spark.session import clear_blocks, get_spark  # noqa: E402
from node_etl_spark.tables import TABLES  # noqa: E402


def normalize(rows: list[tuple], colnames: list[str]) -> list[tuple]:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])

    def norm_val(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return v
        return v

    out = [tuple(norm_val(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


def main() -> int:
    # the option may stand anywhere; what is left is [sf_dir] [query ...]
    ap = argparse.ArgumentParser(
        usage="check_oracle.py [sf_dir] [query ...] [--shuffle-partitions N]"
    )
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    opts, sys.argv[1:] = ap.parse_known_args()
    # a piped sweep cut by a timeout keeps every line printed so far
    sys.stdout.reconfigure(line_buffering=True)
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("check-oracle", shuffle_partitions=opts.shuffle_partitions)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = []
    n_run = 0
    for name, q in QUERIES.items():
        if only and name not in only:
            continue
        n_run += 1
        t0 = time.time()
        try:
            sdf = q.fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        finally:
            clear_blocks(spark)
        t_spark = time.time() - t0
        t0 = time.time()
        try:
            res = con.execute(q.oracle)
            ocols = [d[0] for d in res.description]
            orows = [tuple(r) for r in res.fetchall()]
            # Driver-parity type gate: the driver hashes Arrow-level
            # results, where DuckDB HUGEINT becomes decimal128(38,0) and
            # diverges from Spark's BIGINT even when the values match
            # (the q330 round-11 failure). Any 128-bit integer column in
            # an oracle is a portability bug — fail it here.
            otypes = con.execute(f"DESCRIBE {q.oracle}").fetchall()
            wide = [
                (c, t)
                for c, t, *_ in otypes
                if t.upper() in ("HUGEINT", "UHUGEINT", "INT128", "UINT128")
            ]
            if wide:
                print(
                    f"FAIL {name}: oracle emits 128-bit columns {wide} — "
                    "CAST to BIGINT (driver hash canonicalization diverges)"
                )
                failures.append(name)
                continue
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        ok = True
        if sorted(scols) != sorted(ocols):
            print(f"FAIL {name}: columns {sorted(scols)} != {sorted(ocols)}")
            ok = False
        elif len(srows) != len(orows):
            print(f"FAIL {name}: rowcount {len(srows)} != {len(orows)}")
            ok = False
        else:
            sn, on = normalize(srows, scols), normalize(orows, ocols)
            if sn != on:
                bad = [(a, b) for a, b in zip(sn, on) if a != b][:3]
                print(f"FAIL {name}: value mismatch, first diffs: {bad}")
                ok = False
        if ok:
            print(
                f"OK   {name}: {len(srows)} rows "
                f"({t_spark:.1f}s spark, {time.time()-t0:.1f}s duckdb)"
            )
        else:
            failures.append(name)
    print(f"\n{n_run - len(failures)}/{n_run} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
