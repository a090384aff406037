"""The benchmark's workloads: what one pass runs and what it must return.

A workload is a fixed sequence of requests, each a ``Request`` naming
the input tables it reads; a pass runs the sequence once. ``expected_digests`` computes every request's correct
output on the generated data with DuckDB; the worker digests what the
program returned after each pass, outside the timed region, and the
orchestrator compares the two. Digests follow
``scripts/check_oracle.py``'s comparison: columns in name order, rows
in an order-insensitive sort, values exact.

* ``dwh`` — ``examples/dwh_quarterly.json`` through
  ``spec.from_spec(...).run``: parquet source, filter, mapper, vocab
  joiner, decimal reducer, sorter, parquet sink, on 1.5 M orders.
  Expected output: a DuckDB rewrite of the spec.
* ``graph_stream`` — two registry queries through ``queries()``,
  collected to the driver: ``q141_part_communities`` (label
  propagation, eager per-round actions in ``fn()``) and
  ``q149_stream_dedup`` (availableNow stream replay with a memory
  sink). Expected output: each query's ``oracle_sql()`` entry.

Each workload also has a control, plain Spark SQL of the same shape
that calls none of the program's code; the worker runs it after every
pass, and pass times are reported relative to it (see the README).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from scripts.check_oracle import normalize  # noqa: E402

DWH_SPEC = os.path.join(ROOT, "examples", "dwh_quarterly.json")

DWH_SQL = """
SELECT concat(year(o.o_orderdate), '-Q', quarter(o.o_orderdate)) AS order_quarter,
       c.c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
GROUP BY 1, 2
"""


@dataclass(frozen=True)
class Request:
    key: str
    tables: tuple[str, ...]


# the first passes of a session are not measured: pass times keep
# falling for tens of seconds while the JVM compiles
WARMUP_PASSES = 2


@dataclass(frozen=True)
class Workload:
    """A pass runs every request once, in order, on the dataset
    ``gen.generate(seed, factor, ..., sizes)``. ``control`` is plain
    Spark SQL over the same tables (``control_tables``) with the shape
    of a pass: the same scans and aggregates for ``dwh``, as many small
    shuffling jobs for ``graph_stream``. It calls none of the program's
    code; see ``Runner.control``."""

    requests: tuple[Request, ...]
    factor: int
    control: tuple[str, ...]
    control_tables: tuple[str, ...]
    # the control's median seconds on the host the benchmark was
    # calibrated on (a shared 4-core VM, seeds 101-110); ``setup_s`` is
    # scaled to a host where the control takes this long
    control_ref_s: float
    sizes: tuple[tuple[str, int], ...] = ()


# SQL settings the control runs with, whatever the session's are
CONTROL_CONF = {
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
}

WORKLOADS: dict[str, Workload] = {
    # the tables dwh reads at the shapes of sf0.1 (15,000 customers,
    # 150,000 orders), replicated x10
    "dwh": Workload(
        (Request("dwh_quarterly", ("orders", "customer")),),
        factor=10,
        # the spec's query in Spark SQL, sorted as the spec's sorter does
        control=(DWH_SQL + "ORDER BY 1, 2",),
        control_tables=("orders", "customer"),
        control_ref_s=2.0,
        sizes=(("customer", 15_000), ("orders", 150_000)),
    ),
    "graph_stream": Workload(
        (
            Request("q141_part_communities", ("lineitem",)),
            Request("q149_stream_dedup", ("events",)),
        ),
        factor=5,
        control=tuple(
            f"SELECT l_partkey % 97 AS k, COUNT(*) AS n FROM lineitem "
            f"WHERE l_orderkey % 8 = {i} GROUP BY 1"
            for i in range(8)
        ),
        control_tables=("lineitem",),
        control_ref_s=1.7,
    ),
}


def digest(rows: list[tuple], cols: list[str]) -> str:
    """Order-insensitive digest of a result, as check_oracle compares."""
    body = repr((sorted(cols), normalize(rows, cols)))
    return hashlib.sha256(body.encode()).hexdigest()


def table_rows(data: str, tables: tuple[str, ...]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f"{data}/{t}.parquet").metadata.num_rows for t in tables)


def expected_digests(workload: str, data: str) -> dict[str, str]:
    """Correct output digest of every request of ``workload``."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in ("customer", "orders", "lineitem", "events"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        out = {}
        for req in WORKLOADS[workload].requests:
            sql = DWH_SQL if req.key == "dwh_quarterly" else _oracle(req.key)
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            out[req.key] = digest([tuple(r) for r in res.fetchall()], cols)
        return out
    finally:
        con.close()


def _oracle(query: str) -> str:
    from __spark_entry__ import oracle_sql

    return oracle_sql()[query]


class Runner:
    """Runs the requests of one workload in a live session.

    ``run(req, tracer)`` executes one request, marking the calls into
    each layer with ``tracer.span``, and returns a function that reads
    the output back as (rows, columns) outside the timed region.
    """

    def __init__(self, spark, data: str, out: str) -> None:
        from __spark_entry__ import queries

        self.spark = spark
        self.data = data
        self.out = out
        self.queries = queries()
        with open(DWH_SPEC, encoding="utf-8") as fh:
            self.dwh_spec = json.load(fh)

    def control(self, workload: Workload) -> None:
        """Run the workload's control statements. Its tables are read
        with Spark's own parquet reader, not the program's sources, and
        the SQL settings it depends on are pinned while it runs, so a
        change to ``get_spark``'s settings does not move it."""
        conf = self.spark.conf
        saved = {k: conf.get(k, None) for k in CONTROL_CONF}
        for k, v in CONTROL_CONF.items():
            conf.set(k, v)
        try:
            for t in workload.control_tables:
                self.spark.read.parquet(f"{self.data}/{t}.parquet").createOrReplaceTempView(t)
            for sql in workload.control:
                self.spark.sql(sql).collect()
        finally:
            for k, v in saved.items():
                if v is None:
                    conf.unset(k)
                else:
                    conf.set(k, v)

    def run(self, req: Request, tracer):
        if req.key == "dwh_quarterly":
            return self._dwh(tracer)
        return self._query(req.key, tracer)

    def _dwh(self, tracer):
        from node_etl_spark.pipeline import Catalog
        from node_etl_spark.sources import ParquetSource
        from node_etl_spark.spec import from_spec

        with tracer.span("lower.from_spec"):
            cat = Catalog()
            cat.save(ParquetSource("$DATA/customer.parquet", name="customer-vocab"))
            pipe = from_spec(self.dwh_spec, catalog=cat)
        with tracer.span("pipeline.run"):
            pipe.run(self.spark, config={"DATA": self.data, "OUT": self.out})

        def output():
            import pyarrow.parquet as pq

            t = pq.read_table(f"{self.out}/quarterly_revenue")
            cols = ["order_quarter", "segment", "n_orders", "revenue"]
            return list(zip(*(t.column(c).to_pylist() for c in cols))), cols

        return output

    def _query(self, name: str, tracer):
        with tracer.span("lower.fn"):
            df = self.queries[name](self.spark, self.data)
        with tracer.span("sink.collect"):
            rows = df.collect()
        return lambda: ([tuple(r) for r in rows], df.columns)
