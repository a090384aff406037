"""Bucketed tables: co-located, shuffle-free joins and aggregations.

At 100 TB the dominant cost of fact-fact joins is the shuffle. Spark
bucketing pre-partitions a table on disk by ``hash(bucket_cols) %
n_buckets`` (optionally sorted within buckets); two tables bucketed
the same way join bucket-to-bucket with NO exchange on either side,
and groupBy on the bucket key skips its shuffle too. The reference has
no analogue (single process, no partitioning — SURVEY §4.2); this is
pure scale infrastructure.

Usage pattern: land big fact tables once via ``write_bucketed`` (e.g.
lineitem and orders bucketed by orderkey), then every subsequent join
between them is exchange-free — the classic "pay the shuffle once at
ingest" trade. Verified by plan assertion in tests/test_bucketed.py.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

from ..util import dir_bytes


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: Sequence[str],
    n_buckets: int,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Persist ``df`` as a bucketed managed table. ``n_buckets`` should
    be sized so one bucket of the largest co-bucketed table fits an
    executor's memory at target scale (buckets are the join-task unit).
    """
    writer = df.write.mode(mode).format(fmt).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def read_bucketed(spark: SparkSession, table_name: str) -> DataFrame:
    """Read a bucketed table (bucket metadata comes from the catalog,
    so joins/aggs on the bucket key skip their exchange)."""
    return spark.table(table_name)


def compact(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 256,
    fmt: str = "parquet",
) -> int:
    """Small-file compaction: rewrite a dataset into ~target-sized
    files. Streaming sinks and incremental ingestion produce file
    counts that eventually dominate scan planning time (one task +
    one open per file); periodic compaction is standard table
    maintenance at scale. Returns the output file count.

    Rewrites in place via a temp sibling directory (the operation is
    a full rewrite either way; object stores rename per-file).
    """
    import math
    import shutil

    df = spark.read.format(fmt).load(path)
    # local-FS sizing; on an object store, list via the Hadoop FS API
    total_bytes = dir_bytes(path)
    n_files = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    tmp = path.rstrip("/") + ".__compact_tmp"
    df.repartition(n_files).write.mode("overwrite").format(fmt).save(tmp)
    shutil.rmtree(path)
    shutil.move(tmp, path)
    return n_files

