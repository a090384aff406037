"""SparkSession factory.

Defaults are chosen for the 100 TB design target while remaining sane
on local[N]:

* AQE on — runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic broadcast decisions replace any hand tuning.
* Arrow on — every Pandas UDF / mapInPandas crossing is batched.
* ``spark.sql.shuffle.partitions`` defaults to a small number locally
  (AQE coalesces anyway); on a real cluster this should be ~2-3x total
  cores — callers override via ``shuffle_partitions``.
* Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle and are reproducible across clusters.
* PySpark's DataFrame call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled``). With it on, every
  Column method and ``F.col`` call makes about five extra JVM round
  trips to record the calling Python line, which is most of the py4j
  traffic of a query's lowering. The cost: analysis errors no longer
  carry the Python "DataFrame" call-site context. PySpark reads the
  flag once per process, at the first Column call, so it can only be
  set when the session is built: pass
  ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``
  to the first ``get_spark`` call of the process to turn it back on.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "node-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # NOTE on AQE coalescing: it targets shuffle BYTES, a poor
        # proxy for downstream CPU — a kilobyte-scale shuffle feeding
        # millions of levenshtein evaluations would be coalesced to
        # one task. Compute-heavy stages over small shuffles therefore
        # use explicit repartition()/util.spread() at the operator
        # level (AQE never coalesces user-specified partitioning)
        # rather than a global minPartitionSize floor, which measured
        # as pure task-overhead for the many tiny stages of iterative
        # operators.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE re-optimize (and byte-coalesce) the stages that
        # MATERIALIZE persisted plans. Off by default only because a
        # consumer relying on the cached output partitioning may then
        # see an extra shuffle; profiling (guide §2.2) showed the
        # opposite regime here: operators that persist small
        # intermediate frames (per-doc tf tables, shingle streams)
        # were materializing with the full session partition count,
        # fanning every downstream stage into cores-many near-empty
        # tasks. Byte-targeted, so a no-op on big cached frames —
        # measured q218 3.52->2.25s, q219 2.81->1.68s at 32 cores.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def clear_blocks(spark: SparkSession) -> None:
    """Unpersist every cached table and RDD in the session.

    Operators persist or ``localCheckpoint`` their state (the
    iterative graph loops cut one per round, the hierarchy one per
    level), and those blocks are only reclaimed when the JVM GCs the
    RDD handles. Left alone they pile up across queries until storage
    eviction kicks in, and an evicted ``localCheckpoint`` block is
    unrecoverable (its lineage was cut). A runner that executes many
    queries in one session (``bench.py``, ``scripts/check_oracle.py``)
    calls this once a query's output has been consumed."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(False)
