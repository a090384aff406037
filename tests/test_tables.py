"""Parquet table access: the per-process schema memo of
``tables.read_parquet`` and the session defaults it relies on."""

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from node_etl_spark import tables


def _last_job_id(spark) -> int:
    """Highest job id in Spark's status store, once every posted event
    has reached it."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)


def test_schema_memo_second_read_starts_no_job(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}), path)
    before = _last_job_id(spark)
    first = tables.read_parquet(spark, path)
    inferred = _last_job_id(spark)
    assert inferred > before, "the first read infers with a Spark job"
    second = tables.read_parquet(spark, path)
    assert _last_job_id(spark) == inferred, "the memoised read ran a job"
    assert second.schema == first.schema
    assert sorted(map(tuple, second.collect())) == [(1, "x"), (2, "y"), (3, "z")]


def test_schema_memo_reinfers_after_rewrite(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert tables.read_parquet(spark, path).columns == ["a"]
    # same path, new schema
    pq.write_table(pa.table({"a": ["p", "q"], "c": [1.5, 2.5]}), path)
    df = tables.read_parquet(spark, path)
    assert df.schema.simpleString() == "struct<a:string,c:double>"
    assert sorted(map(tuple, df.collect())) == [("p", 1.5), ("q", 2.5)]


def test_schema_memo_reinfers_after_file_added_to_directory(spark, tmp_path):
    d = tmp_path / "t.parquet"
    d.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(d / "part-0.parquet"))
    assert tables.read_parquet(spark, str(d)).count() == 1
    pq.write_table(pa.table({"a": [2]}), str(d / "part-1.parquet"))
    assert sorted(r.a for r in tables.read_parquet(spark, str(d)).collect()) == [1, 2]


def test_schema_memo_keyed_on_inference_settings(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"b": pa.array([b"ab"], pa.binary())}), path)
    conf = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(conf)
    assert tables.read_parquet(spark, path).schema.simpleString() == "struct<b:binary>"
    spark.conf.set(conf, "true")
    try:
        df = tables.read_parquet(spark, path)
        assert df.schema.simpleString() == "struct<b:string>"
        assert df.collect()[0].b == "ab"
    finally:
        spark.conf.set(conf, before)


def test_schema_memo_skips_paths_it_cannot_stat(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [7]}), str(path))
    uri = path.as_uri()  # file:///...: Spark reads it, os.stat cannot
    assert tables.read_parquet(spark, uri).collect()[0].a == 7
    assert uri not in tables._schemas


def test_read_parquet_converts_nanos_through_the_memo(spark, tmp_path):
    path = str(tmp_path / "ns.parquet")
    ts = pd.to_datetime(["2024-01-01 00:00:00.123456789"])
    pq.write_table(pa.table({"ts": pa.array(ts, pa.timestamp("ns"))}), path)
    assert tables._nanos_columns(path) == ["ts"]
    for _ in range(2):  # inferred, then memoised
        df = tables.read_parquet(spark, path)
        assert df.schema.simpleString() == "struct<ts:timestamp>"
        got = df.selectExpr("unix_micros(ts) AS us").collect()[0].us
        assert got == 1704067200123456  # truncated, as DuckDB/Arrow do


def test_get_spark_turns_off_dataframe_call_site_capture(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
