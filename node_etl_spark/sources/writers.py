"""Sink operators (reference jobs/writers).

* WriterJSONS -> NdjsonSink   (job-writer-jsons.js:30-35)
* WriterJSON  -> JsonArraySink (job-writer-json.js:19-45 — a single
  JSON array document; inherently single-file, so it collects on the
  driver: correct for the reference's dimension-sized outputs, guarded
  by ``max_rows`` so it can never be misused on the data plane)
* net-new: ParquetSink / CsvSink / XmlSink — the scale sinks.
* WriterJSONTree -> TreeSink (job-writer-tree.js) lives in
  operators/tree.py (build_document / build_json_column).

Destinations (utils.js:38-57 getWriteStreamByUrl): ``file:`` is the
path sinks; ``http(s):`` posts through the same injectable transport
as the readers — JsonArraySink routes http destinations itself (the
reference WriterJSON case: ONE array document, dimension-sized), and
HttpNdjsonSink is the scale variant (per-partition executor-side
NDJSON POSTs). ``mongodb:`` maps to MongoSink (driver dependency
import-gated; collection = last path segment, utils.js:52-57).
"""

from __future__ import annotations

import json
import os
from typing import TYPE_CHECKING, Mapping

from pyspark.sql import DataFrame

from ..operators.base import Sink

if TYPE_CHECKING:
    from ..context import Context


class _PathSink(Sink):
    def __init__(
        self,
        path: str,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
        options: Mapping[str, str] | None = None,
        name: str | None = None,
    ) -> None:
        super().__init__(name)
        self.path = path
        self.mode = mode
        self.partition_by = partition_by or []
        self.options = dict(options or {})

    def _writer(self, df: DataFrame):
        w = df.write.mode(self.mode).options(**self.options)
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        return w


class NdjsonSink(_PathSink):
    """One JSON object per line (reference WriterJSONS). Distributed —
    one file per partition, like every scale-path sink."""

    def write(self, df: DataFrame, ctx: "Context") -> None:
        self._writer(df).json(ctx.resolve_url(self.path))


class ParquetSink(_PathSink):
    def write(self, df: DataFrame, ctx: "Context") -> None:
        self._writer(df).parquet(ctx.resolve_url(self.path))


class OrcSink(_PathSink):
    def write(self, df: DataFrame, ctx: "Context") -> None:
        self._writer(df).orc(ctx.resolve_url(self.path))


class CsvSink(_PathSink):
    def write(self, df: DataFrame, ctx: "Context") -> None:
        self._writer(df).option("header", "true").csv(ctx.resolve_url(self.path))


class XmlSink(_PathSink):
    def __init__(self, path: str, row_tag: str = "item", **kwargs) -> None:
        super().__init__(path, **kwargs)
        self.row_tag = row_tag

    def write(self, df: DataFrame, ctx: "Context") -> None:
        self._writer(df).format("xml").option("rowTag", self.row_tag).save(
            ctx.resolve_url(self.path)
        )


def _default_post(url: str, data: bytes, req_options: dict | None = None) -> bytes:
    """Upload bytes to an http(s) destination (reference utils.js:38-51:
    the write side accepts post/get/put and DEFAULTS to POST). reqOptions
    resolve exactly like the read seam (auth -> Basic header)."""
    import urllib.request

    from .paged import resolve_req_options

    headers, method, _ = resolve_req_options(req_options)
    if not (req_options or {}).get("method"):
        method = "POST"
    headers.setdefault("Content-Type", "application/json")
    req = urllib.request.Request(url, data=data, headers=headers, method=method)
    with urllib.request.urlopen(req, timeout=30) as resp:  # nosec - caller URL
        return resp.read()


def _has_float(dtype) -> bool:
    from pyspark.sql import types as T

    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return True
    if isinstance(dtype, T.StructType):
        return any(_has_float(f.dataType) for f in dtype.fields)
    if isinstance(dtype, T.ArrayType):
        return _has_float(dtype.elementType)
    if isinstance(dtype, T.MapType):
        return _has_float(dtype.valueType)
    return False


def _finite_or_null(col, dtype):
    """``col`` with every NaN/±Infinity float or double, at any depth
    of structs, arrays and map values, replaced by null — what the
    reference's ``JSON.stringify`` writes for them. Columns without a
    floating-point leaf pass through unchanged."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if not _has_float(dtype):
        return col
    if isinstance(dtype, T.StructType):
        # F.when without otherwise keeps a null struct null
        return F.when(
            col.isNotNull(),
            F.struct(*[
                _finite_or_null(col.getField(f.name), f.dataType).alias(f.name)
                for f in dtype.fields
            ]),
        )
    if isinstance(dtype, T.ArrayType):
        return F.transform(col, lambda x: _finite_or_null(x, dtype.elementType))
    if isinstance(dtype, T.MapType):
        return F.transform_values(
            col, lambda _, v: _finite_or_null(v, dtype.valueType)
        )
    # float or double leaf: NaN and ±Infinity fail the test, null stays null
    return F.when(~F.isnan(col) & (F.abs(col) != F.lit(float("inf"))), col)


class JsonArraySink(Sink):
    """Single JSON-array document (reference WriterJSON,
    job-writer-json.js:33-41). Driver-side by construction; refuses
    more than ``max_rows`` rows — use NdjsonSink/ParquetSink for data.

    Destination may be a filesystem path or an ``http(s):`` URL —
    the latter POSTs the array document through the injectable
    ``transport`` (reference WriterJSON + getWriteStreamByUrl http
    case), with ``req_options`` carrying headers/auth/method.
    """

    def __init__(
        self,
        path: str,
        max_rows: int = 1_000_000,
        req_options: dict | None = None,
        transport=None,
        name: str | None = None,
    ) -> None:
        super().__init__(name)
        self.path = path
        self.max_rows = max_rows
        self.req_options = req_options
        self.transport = transport

    def write(self, df: DataFrame, ctx: "Context") -> None:
        from pyspark.sql import functions as F

        # Rows are serialized to JSON inside the JVM (codegen to_json)
        # and the driver only concatenates strings: the previous
        # pickled-Row collect + per-row asDict(recursive) + python
        # json.dump was the dominant cost of the sink at the 150k-row
        # gate leg (guide §4 — keep per-row work out of Python).
        # ignoreNullFields=false keeps explicit "k": null entries,
        # matching both the old python path and the reference's
        # JSON.stringify; dates/timestamps now emit ISO-8601 (Jackson),
        # which is JSON.stringify's format too. Non-finite floats and
        # doubles emit as null, as JSON.stringify does (Jackson alone
        # would quote them as "NaN"/"Infinity" strings).
        # to_json emits every struct field, so duplicate column names
        # would produce duplicate JSON keys (parser-dependent result);
        # the old Row.asDict() collapsed them silently — refuse instead.
        if len(set(df.columns)) != len(df.columns):
            dupes = sorted(
                {c for c in df.columns if df.columns.count(c) > 1}
            )
            raise ValueError(
                f"JsonArraySink: duplicate column names {dupes} would "
                "emit duplicate JSON keys; rename before writing"
            )
        # backtick-quote every column reference so literal names
        # containing dots resolve as-is; bare F.col(c) (and df[c])
        # would parse "a.b" as a nested-field reference
        def _q(c: str):
            return F.col("`" + c.replace("`", "``") + "`")

        capped = (
            df.limit(self.max_rows + 1)
            .select(
                F.to_json(
                    F.struct(*[
                        _finite_or_null(_q(f.name), f.dataType).alias(f.name)
                        for f in df.schema.fields
                    ]),
                    {"ignoreNullFields": "false"},
                ).alias("j")
            )
            .collect()
        )
        if len(capped) > self.max_rows:
            raise ValueError(
                f"JsonArraySink: >{self.max_rows} rows; use NdjsonSink/ParquetSink"
            )
        payload = "[" + ",".join(r["j"] for r in capped) + "]"
        path = ctx.resolve_url(self.path)
        if path.startswith(("http:", "https:")):
            (self.transport or _default_post)(
                path, payload.encode("utf-8"), self.req_options
            )
            return
        if path.startswith("file:"):
            path = path[len("file:") :]
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(payload)


class HttpNdjsonSink(Sink):
    """Executor-side NDJSON upload: each partition serializes its rows
    to newline-delimited JSON and POSTs bodies of up to ``batch_rows``
    rows through the injectable transport.

    The scale twin of JsonArraySink's http case — no driver collect,
    upload throughput scales with the cluster (1000 executors = 1000
    concurrent streams), and ``batch_rows`` bounds body size so a
    skewed partition can't build a gigabyte request. The transport
    callable is serialized into the task closure, so fakes work in
    tests and auth (``req_options``) reaches executors with no extra
    plumbing.
    """

    def __init__(
        self,
        url: str,
        req_options: dict | None = None,
        transport=None,
        batch_rows: int = 10_000,
        name: str | None = None,
    ) -> None:
        super().__init__(name)
        self.url = url
        self.req_options = req_options
        self.transport = transport
        self.batch_rows = batch_rows

    def write(self, df: DataFrame, ctx: "Context") -> None:
        url = ctx.resolve_url(self.url)
        transport = self.transport or _default_post
        req_options = self.req_options
        batch_rows = self.batch_rows

        def send_partition(rows) -> None:
            buf: list[str] = []

            def flush() -> None:
                if buf:
                    body = ("\n".join(buf) + "\n").encode("utf-8")
                    transport(url, body, req_options)
                    buf.clear()

            for row in rows:
                buf.append(
                    json.dumps(
                        row.asDict(recursive=True), ensure_ascii=False, default=str
                    )
                )
                if len(buf) >= batch_rows:
                    flush()
            flush()

        df.foreachPartition(send_partition)


def _split_mongo_url(url: str) -> tuple[str, str]:
    """(client url, collection) from a mongodb destination URL. The
    collection is the last PATH segment only (the reference pops it
    off pathname, utils.js:53-55) — query options like ?replicaSet=
    stay on the client URL and never leak into the collection name."""
    from urllib.parse import urlsplit, urlunsplit

    parts = urlsplit(url)
    segs = parts.path.split("/")
    collection = segs.pop()
    base = urlunsplit(
        (parts.scheme, parts.netloc, "/".join(segs), parts.query, parts.fragment)
    )
    return base, collection


class MongoSink(Sink):
    """``mongodb://host/db/collection`` destination (reference
    utils.js:52-57: collection = last path segment, the rest is the
    db URL). Per-partition ``insert_many`` batches — the same
    executor-parallel shape as HttpNdjsonSink. The pymongo driver is
    not in this container, so availability is checked up front with a
    clear error instead of a mid-job executor stack."""

    def __init__(
        self, url: str, batch_rows: int = 1000, name: str | None = None
    ) -> None:
        super().__init__(name)
        self.url = url
        self.batch_rows = batch_rows

    def write(self, df: DataFrame, ctx: "Context") -> None:
        import importlib.util

        if importlib.util.find_spec("pymongo") is None:
            raise ImportError(
                "MongoSink requires the pymongo driver; install it, or use "
                "NdjsonSink/HttpNdjsonSink and load the files separately"
            )
        base, collection = _split_mongo_url(ctx.resolve_url(self.url))
        df.foreachPartition(
            _mongo_partition_writer(base, collection, self.batch_rows)
        )


def _mongo_partition_writer(base: str, collection: str, batch_rows: int):
    """Per-partition insert_many loop for :class:`MongoSink`, factored
    module-level so the unit test can run it in-process against a fake
    pymongo (the real path runs inside executor workers, where a
    driver-side monkeypatch never lands)."""

    def send_partition(rows) -> None:
        import pymongo

        client = pymongo.MongoClient(base)
        db = client.get_default_database()
        buf: list[dict] = []
        for row in rows:
            buf.append(row.asDict(recursive=True))
            if len(buf) >= batch_rows:
                db[collection].insert_many(buf)
                buf = []
        if buf:
            db[collection].insert_many(buf)
        client.close()

    return send_partition


class NoopSink(Sink):
    """Devnull terminal action (reference Nothing as a sink)."""

    def write(self, df: DataFrame, ctx: "Context") -> None:
        df.write.format("noop").mode("overwrite").save()
