"""Test-table access for the driver-generated TPC-H-ish parquet data.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings, one parquet per table under an
sf directory.

``read_parquet`` is nanos-safe: Spark cannot read parquet
TIMESTAMP(NANOS) columns (PARQUET_TYPE_ILLEGAL) — e.g. pandas-written
``timestamp[ns]``. We detect ns columns from the parquet footer, read
them as raw long via ``spark.sql.legacy.parquet.nanosAsLong``, and
convert to microsecond timestamps (``ts div 1000`` — exact integer
truncation, matching how DuckDB/Arrow truncate ns->us).
"""

from __future__ import annotations

import glob as _glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


def _nanos_columns(path: str) -> list[str]:
    """Column names with timestamp[ns] type, from the parquet footer."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover
        return []
    probe = path
    if os.path.isdir(path):
        files = _glob.glob(os.path.join(path, "*.parquet")) or _glob.glob(
            os.path.join(path, "**", "*.parquet"), recursive=True
        )
        if not files:
            return []
        probe = files[0]
    elif any(ch in path for ch in "*?["):
        files = _glob.glob(path)
        if not files:
            return []
        probe = files[0]
    try:
        schema = pq.read_schema(probe)
    except Exception:  # noqa: BLE001 - non-local or unreadable footer
        return []
    return [
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    ns_cols = _nanos_columns(path)
    if not ns_cols:
        return spark.read.parquet(path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")
