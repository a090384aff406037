"""Test-table access for the driver-generated TPC-H-ish parquet data.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings, one parquet per table under an
sf directory.

``read_parquet`` is nanos-safe: Spark cannot read parquet
TIMESTAMP(NANOS) columns (PARQUET_TYPE_ILLEGAL) — e.g. pandas-written
``timestamp[ns]``. We detect ns columns from the parquet footer, read
them as raw long via ``spark.sql.legacy.parquet.nanosAsLong``, and
convert to microsecond timestamps (``ts div 1000`` — exact integer
truncation, matching how DuckDB/Arrow truncate ns->us). The streaming
replay (``plans.queries._replay_events``) reads the same files and
shares the detection and the conversion (``nanos_as_long``,
``nanos_to_micros``).

``read_parquet`` infers each local path's schema once per process.
Spark runs a job to infer a parquet schema from the footers every time
a path is read without one; the inferred ``StructType`` is remembered
and later reads pass it to ``spark.read.schema(...)``, which starts no
job. The memo key is the path, the (name, size, ``st_mtime_ns``,
inode) of every file under it, and the session's settings that change
what inference returns (``_INFERENCE_CONF``), so a rewritten file or a
changed setting infers again. A path that cannot be stat'ed locally
(a URI, a glob) is never memoised and is read as before. The memo
keeps the last key per path and at most ``_SCHEMA_MEMO_MAX`` paths.
"""

from __future__ import annotations

import glob as _glob
import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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

_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
# session settings that change the schema Spark infers from the same files
_INFERENCE_CONF = (
    _NANOS_AS_LONG,
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)
_SCHEMA_MEMO_MAX = 512
_schemas: dict[str, tuple[tuple, StructType]] = {}
_schemas_lock = threading.Lock()


def parquet_files(path: str) -> list[str]:
    """The parquet files a local ``path`` names: the file itself, the
    ``*.parquet`` files of a directory (searched recursively when the
    top level has none), or a glob's matches; sorted."""
    if os.path.isdir(path):
        files = _glob.glob(os.path.join(path, "*.parquet")) or _glob.glob(
            os.path.join(path, "**", "*.parquet"), recursive=True
        )
        return sorted(f for f in files if not os.path.basename(f).startswith("_"))
    if any(ch in path for ch in "*?["):
        return sorted(_glob.glob(path))
    return [path]


def _nanos_columns(path: str) -> list[str]:
    """Column names with timestamp[ns] type, from the parquet footer."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover
        return []
    files = parquet_files(path)
    if not files:
        return []
    try:
        schema = pq.read_schema(files[0])
    except Exception:  # noqa: BLE001 - non-local or unreadable footer
        return []
    return [
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def nanos_as_long(spark: SparkSession, path: str) -> list[str]:
    """The timestamp[ns] columns of ``path``; when there are any, the
    session is switched to read them as raw long (nanosAsLong)."""
    ns_cols = _nanos_columns(path)
    if ns_cols:
        spark.conf.set(_NANOS_AS_LONG, "true")
    return ns_cols


def nanos_to_micros(df: DataFrame, ns_cols: list[str]) -> DataFrame:
    """Turn ns columns read as long into microsecond timestamps."""
    if not ns_cols:
        return df
    return df.withColumns(
        {c: F.timestamp_micros(F.expr(f"`{c}` div 1000")) for c in ns_cols}
    )


def _files_key(path: str) -> tuple | None:
    """(name, size, mtime_ns, inode) of every file under a local path,
    or None when the path cannot be stat'ed locally."""
    try:
        if os.path.isfile(path):
            st = os.stat(path)
            return (("", st.st_size, st.st_mtime_ns, st.st_ino),)
        if not os.path.isdir(path):
            return None
        out = []
        for root, dirs, files in os.walk(path):
            dirs.sort()
            for name in sorted(files):
                full = os.path.join(root, name)
                st = os.stat(full)
                out.append(
                    (os.path.relpath(full, path), st.st_size, st.st_mtime_ns, st.st_ino)
                )
        return tuple(out)
    except OSError:
        return None


def _scan(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema memoised (module
    docstring). The files are stat'ed before inference, so a file
    rewritten during it leaves a key that no later read matches."""
    files = _files_key(path)
    if files is None:
        return spark.read.parquet(path)
    key = (files, tuple(spark.conf.get(k, None) for k in _INFERENCE_CONF))
    with _schemas_lock:
        hit = _schemas.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    with _schemas_lock:
        _schemas.pop(path, None)
        _schemas[path] = (key, df.schema)
        while len(_schemas) > _SCHEMA_MEMO_MAX:
            del _schemas[next(iter(_schemas))]
    return df


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    ns_cols = nanos_as_long(spark, path)
    return nanos_to_micros(_scan(spark, path), ns_cols)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")
