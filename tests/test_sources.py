import json

from node_etl_spark.context import Context
from node_etl_spark.operators import Nothing
from node_etl_spark.sources import (
    CsvSource,
    JsonSource,
    NdjsonSource,
    PagedRestSource,
    ParquetSource,
    folder_source,
)

CTX = Context()


def test_parquet_source_with_template(spark, sf_dir):
    src = ParquetSource("$DATA/region.parquet")
    df = src.load(spark, Context(config={"DATA": sf_dir}))
    assert df.count() == 5


def test_csv_roundtrip(spark, tmp_path):
    p = tmp_path / "data.csv"
    # reference ParserCSV knobs: delimiter/escape/headers; escape
    # applies to quote chars inside quoted fields (fast-csv semantics)
    p.write_text('id;name\n1;alpha\n2;"be;\\"ta"\n')
    df = CsvSource(str(p), delimiter=";", escape="\\", headers=True).load(spark, CTX)
    rows = {(int(r.id), r.name) for r in df.collect()}
    assert rows == {(1, "alpha"), (2, 'be;"ta')}


def test_json_root_node(spark, tmp_path):
    # reference rootNode "data.*" (JSONStream path)
    p = tmp_path / "doc.json"
    p.write_text(json.dumps({"meta": 1, "data": [{"id": 1, "v": "x"}, {"id": 2, "v": "y"}]}))
    df = JsonSource(str(p), root_node="data.*").load(spark, CTX)
    assert {(r.id, r.v) for r in df.collect()} == {(1, "x"), (2, "y")}


def test_ndjson_permissive_skips_bad_lines(spark, tmp_path):
    # reference ReaderJSONS warn-and-skip (job-reader-jsons.js:41-44)
    p = tmp_path / "rows.jsons"
    p.write_text('{"id": 1}\nNOT-JSON\n{"id": 3}\n')
    df = NdjsonSource(str(p), schema="id bigint").load(spark, CTX)
    assert sorted(r.id for r in df.collect() if r.id is not None) == [1, 3]


def test_folder_glob_with_filter(spark, tmp_path):
    # reference ReaderFolder glob + filename predicate
    (tmp_path / "a-keep.jsons").write_text('{"v": 1}\n')
    (tmp_path / "b-keep.jsons").write_text('{"v": 2}\n')
    (tmp_path / "c-skip.txt").write_text('{"v": 99}\n')
    src = folder_source(str(tmp_path), fmt="json", path_filter_glob="*-keep.jsons")
    df = src.load(spark, CTX)
    assert sorted(r.v for r in df.collect()) == [1, 2]


def test_q296_decoys_are_load_bearing(spark, sf_dir, tmp_path, monkeypatch):
    # the q296 gate entry proves ReaderFolder's filename predicate
    # END-TO-END: after the query runs, the decoy files must exist in
    # the fixture folder, and scanning WITHOUT the pathGlobFilter must
    # produce a DIFFERENT aggregate — i.e. the oracle hash can only
    # pass because the predicate excluded them at listing time
    import os

    from pyspark.sql import functions as F

    from node_etl_spark.plans import queries as Q

    monkeypatch.setattr(Q, "_SCRATCH", str(tmp_path))
    filtered = (
        Q.QUERIES["q296_folder_glob_scan"].fn(spark, sf_dir)
        .agg(F.sum("n").alias("rows"))
        .collect()[0]
        .rows
    )
    folder = str(tmp_path / "folder_glob")
    assert os.path.exists(os.path.join(folder, "extra-rows.json"))
    assert os.path.exists(os.path.join(folder, "notes.txt"))
    parts = [f for f in os.listdir(folder) if f.startswith("part-")]
    assert len(parts) >= 3, "glob must fan over multiple part files"
    raw = spark.read.schema(
        "o_orderkey bigint, o_orderstatus string, o_totalprice double"
    ).json(folder)
    # without the filter BOTH decoys leak: the valid json row, plus a
    # PERMISSIVE all-null row parsed out of notes.txt
    assert raw.count() == filtered + 2
    assert raw.filter("o_orderkey IS NOT NULL").count() == filtered + 1


def test_paged_rest_source(spark):
    # reference ReaderPaged state machine: offset/limit pages, stop on
    # empty page, totalRows short-circuit
    pages = {
        0: {"total": 5, "data": [{"id": i} for i in range(3)]},
        3: {"total": 5, "data": [{"id": i} for i in range(3, 5)]},
        5: {"total": 5, "data": []},
    }
    calls = []

    def fake_fetch(url, req_options=None):
        offset = int(url.split("offset=")[1].split("&")[0])
        calls.append(offset)
        return json.dumps(pages.get(offset, {"total": 5, "data": []})).encode()

    src = PagedRestSource(
        "http://api/x?offset={%offset%}&limit={%limit%}",
        rows_path="data",
        total_path="total",
        fetch=fake_fetch,
        retry_wait_s=0.0,
        name="paged",
    )

    def url_gen(template, state):
        from node_etl_spark.context import render_template

        state.setdefault("limit", 3)
        return render_template(
            template, {"offset": state["page"] * 3, "limit": 3}
        )

    src.url_gen = url_gen
    ctx = Context()
    df = src.load(spark, ctx)
    assert sorted(r.id for r in df.collect()) == [0, 1, 2, 3, 4]
    assert ctx.state["paged"]["total_rows_processed"] == 5
    assert calls == [0, 3]  # stopped via totalRows, no extra page fetch


def test_noop_drain(spark):
    Nothing.drain(spark.range(10).toDF("v"))


def test_xml_roundtrip(spark, tmp_path):
    # reference ParserXML xmlNode == rowTag (job-parser-xml.js:15-17)
    from node_etl_spark.sources import XmlSink, XmlSource

    df = spark.createDataFrame([(1, "alpha"), (2, "beta")], "id bigint, name string")
    dest = str(tmp_path / "xml_out")
    XmlSink(dest, row_tag="item").write(df, CTX)
    back = XmlSource(dest, row_tag="item").load(spark, CTX)
    assert {(r.id, r.name) for r in back.collect()} == {(1, "alpha"), (2, "beta")}


def test_parallel_paged_rest_datasource(spark, tmp_path):
    # partition-parallel paged scan: page files behind file:// URLs,
    # 7 pages of 4 rows (last short) split into 3-page task ranges
    import json as _json

    from node_etl_spark.sources.paged import (
        PagedRestReader,
        register_paged_rest,
    )

    total, size = 26, 4
    rows = [{"id": i, "name": f"r{i}"} for i in range(total)]
    for p in range(7):
        (tmp_path / f"page_{p}.json").write_text(
            _json.dumps({"data": rows[p * size : (p + 1) * size]})
        )
    register_paged_rest(spark)
    df = (
        spark.read.format("paged_rest")
        .schema("id long, name string")
        .option("url_template", f"file://{tmp_path}/page_{{%page%}}.json")
        .option("total_rows", total)
        .option("page_size", size)
        .option("pages_per_partition", 3)
        .load()
    )
    got = sorted((r.id, r.name) for r in df.collect())
    assert got == [(i, f"r{i}") for i in range(total)]
    # the page space really is split into parallel ranges
    reader = PagedRestReader(
        df.schema,
        {
            "url_template": "x",
            "total_rows": str(total),
            "page_size": str(size),
            "pages_per_partition": "3",
        },
    )
    parts = reader.partitions()
    assert [(p.start_page, p.end_page) for p in parts] == [(0, 3), (3, 6), (6, 7)]


def test_fetch_details_enrichment(spark, tmp_path):
    # API-case JoinDetail: per-row URL fetch executor-side, NULL on
    # fetch error (reference pass-through-on-error), payload parsed
    # downstream with from_json
    import json as _json

    from pyspark.sql import functions as F

    from node_etl_spark.sources.paged import fetch_details

    for key in (1, 2):  # row 3 has no file -> fetch error -> NULL
        (tmp_path / f"detail_{key}.json").write_text(
            _json.dumps({"score": key * 10})
        )
    df = spark.createDataFrame([(1,), (2,), (3,)], "id int").withColumn(
        "url", F.concat(F.lit(f"file://{tmp_path}/detail_"), "id", F.lit(".json"))
    )
    out = fetch_details(df, "url", max_per_second=1000).withColumn(
        "score", F.from_json("payload", "score INT").getField("score")
    )
    got = {r.id: r.score for r in out.collect()}
    assert got == {1: 10, 2: 20, 3: None}


# ------------------------------------------------- reqOptions / transports


def test_resolve_req_options_basic_auth():
    # reference job-reader.js:10-13: auth -> Basic base64(user:password)
    # header, auth consumed, method defaults to GET
    import base64

    from node_etl_spark.sources.paged import resolve_req_options

    headers, method, body = resolve_req_options(
        {"auth": {"user": "u", "password": "p"}, "headers": {"X-Trace": "1"}}
    )
    expected = base64.b64encode(b"u:p").decode()
    assert headers == {"X-Trace": "1", "Authorization": f"Basic {expected}"}
    assert method == "GET" and body is None
    headers2, method2, body2 = resolve_req_options(
        {"method": "post", "body": "x=1"}
    )
    assert method2 == "POST" and body2 == b"x=1" and headers2 == {}


def test_default_fetch_applies_req_options(monkeypatch):
    # the urllib seam must carry resolved headers/method/body
    import io
    import urllib.request

    from node_etl_spark.sources import paged

    seen = {}

    def fake_urlopen(req, timeout=None):
        seen["url"] = req.full_url
        seen["method"] = req.get_method()
        seen["auth"] = req.get_header("Authorization")
        seen["body"] = req.data
        return io.BytesIO(b"ok")

    monkeypatch.setattr(urllib.request, "urlopen", fake_urlopen)
    out = paged._default_fetch(
        "http://api.example.org/x",
        {"auth": {"user": "u", "password": "p"}, "method": "POST", "body": "b"},
    )
    assert out == b"ok" and seen["method"] == "POST" and seen["body"] == b"b"
    assert seen["auth"] and seen["auth"].startswith("Basic ")


def test_default_fetch_ftp_passthrough(monkeypatch):
    # ftp: URLs (reference utils.js:101-122) ride the same seam via
    # urllib's native ftp handler — a bare urlopen, no Request wrapper
    import io
    import urllib.request

    from node_etl_spark.sources import paged

    seen = {}

    def fake_urlopen(url, timeout=None):
        assert isinstance(url, str)  # not a Request object
        seen["url"] = url
        return io.BytesIO(b"ftp-bytes")

    monkeypatch.setattr(urllib.request, "urlopen", fake_urlopen)
    assert paged._default_fetch("ftp://user:pw@host/pub/f.csv") == b"ftp-bytes"
    assert seen["url"] == "ftp://user:pw@host/pub/f.csv"


def test_paged_rest_source_propagates_req_options(spark):
    seen = []

    def fake_fetch(url, req_options=None):
        seen.append(req_options)
        page = int(url.split("offset=")[1]) // 100
        data = [{"id": 1}] if page == 0 else []
        return json.dumps({"data": data, "total": 1}).encode()

    opts = {"auth": {"user": "u", "password": "p"}}
    src = PagedRestSource(
        "http://api.example.org/x?offset={%offset%}",
        rows_path="data",
        total_path="total",
        fetch=fake_fetch,
        req_options=opts,
        retry_wait_s=0.0,
        name="p",
    )
    df = src.load(spark, Context())
    assert df.count() == 1
    assert seen and all(o is opts for o in seen)


def test_json_array_sink_posts_http_destination(spark):
    # reference WriterJSON with an http destination: ONE array document
    # through the injectable transport, reqOptions carried along
    from node_etl_spark.sources import JsonArraySink

    calls = []
    opts = {"auth": {"user": "u", "password": "p"}}
    sink = JsonArraySink(
        "http://collector.example.org/ingest",
        req_options=opts,
        transport=lambda url, data, ro: calls.append((url, data, ro)),
    )
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, name string")
    sink.write(df, Context())
    (url, data, ro), = calls
    assert url == "http://collector.example.org/ingest" and ro is opts
    assert sorted(json.loads(data), key=lambda r: r["id"]) == [
        {"id": 1, "name": "a"},
        {"id": 2, "name": "b"},
    ]


def test_http_ndjson_sink_uploads_all_partitions(spark, tmp_path):
    # executor-side per-partition POSTs: fake transport lands each body
    # in a unique file; every row arrives exactly once, bodies respect
    # batch_rows
    import uuid

    from node_etl_spark.sources import HttpNdjsonSink

    outdir = str(tmp_path / "bodies")
    import os

    os.makedirs(outdir)

    def fake_transport(url, data, req_options):
        with open(f"{outdir}/{uuid.uuid4().hex}", "wb") as fh:
            fh.write(data)

    df = spark.range(0, 20, 1, 4).toDF("id")
    HttpNdjsonSink(
        "http://collector.example.org/rows",
        transport=fake_transport,
        batch_rows=3,
    ).write(df, Context())
    rows = []
    for f in os.listdir(outdir):
        with open(f"{outdir}/{f}", "rb") as fh:
            body = fh.read().decode()
        lines = body.strip().split("\n")
        assert len(lines) <= 3  # batch_rows honored
        rows += [json.loads(l)["id"] for l in lines]
    assert sorted(rows) == list(range(20))


def test_mongo_sink_requires_driver(spark):
    import pytest

    from node_etl_spark.sources import MongoSink

    df = spark.range(3).toDF("id")
    with pytest.raises(ImportError, match="pymongo"):
        MongoSink("mongodb://db.example.org/etl/out").write(df, Context())


def test_mongo_url_split_keeps_query_options():
    from node_etl_spark.sources.writers import _split_mongo_url

    base, coll = _split_mongo_url(
        "mongodb://host:27017/etl/out?replicaSet=rs0&authSource=admin"
    )
    assert coll == "out"
    assert base == "mongodb://host:27017/etl?replicaSet=rs0&authSource=admin"
    base2, coll2 = _split_mongo_url("mongodb://host/etl/out")
    assert (base2, coll2) == ("mongodb://host/etl", "out")


def test_orc_roundtrip_preserves_types_and_values(spark, tmp_path):
    from node_etl_spark.sources import OrcSink, OrcSource

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -2.25), (3, None, 0.0)],
        "id long, tag string, v double",
    )
    path = str(tmp_path / "orc_out")
    OrcSink(path).write(df, CTX)
    back = OrcSource(path).load(spark, CTX)
    assert back.schema == df.schema
    assert sorted(back.collect()) == sorted(df.collect())


def test_mongo_sink_write_roundtrip(spark, monkeypatch):
    # VERDICT r3 ask #4: exercise the write path, not just the
    # ImportError guard. A fake pymongo module records every
    # insert_many; foreachPartition is redirected in-process (the
    # real one runs in executor workers where a driver monkeypatch
    # never lands). Verifies reference utils.js:52-57 URL parity
    # (db = URL default database, collection = last path segment)
    # and insert_many batch boundaries at batch_rows.
    import importlib.machinery
    import sys
    import types

    from node_etl_spark.sources import MongoSink

    calls: list[tuple[str, str, int]] = []
    closed: list[bool] = []

    class FakeCollection:
        def __init__(self, db_name, name):
            self.db_name, self.name = db_name, name

        def insert_many(self, docs):
            assert all(isinstance(d, dict) for d in docs)
            calls.append((self.db_name, self.name, len(docs)))

    class FakeDb:
        def __init__(self, name):
            self.name = name

        def __getitem__(self, coll):
            return FakeCollection(self.name, coll)

    class FakeClient:
        def __init__(self, url):
            # collection must NOT leak into the client URL
            assert url == "mongodb://db.example.org:27017/etl?replicaSet=rs0"
            self.url = url

        def get_default_database(self):
            return FakeDb("etl")

        def close(self):
            closed.append(True)

    fake = types.ModuleType("pymongo")
    fake.MongoClient = FakeClient
    fake.__spec__ = importlib.machinery.ModuleSpec("pymongo", None)
    monkeypatch.setitem(sys.modules, "pymongo", fake)
    df = spark.range(25).toDF("id")
    # patch the concrete (classic) DataFrame class — pyspark 4's
    # abstract base is not in the instance's MRO ahead of it
    monkeypatch.setattr(
        type(df),
        "foreachPartition",
        lambda self, f: f(iter(self.collect())),
    )
    MongoSink(
        "mongodb://db.example.org:27017/etl/out?replicaSet=rs0",
        batch_rows=10,
    ).write(df, Context())

    assert calls == [("etl", "out", 10), ("etl", "out", 10), ("etl", "out", 5)]
    assert closed == [True]


def test_compressed_ndjson_source_mixed_codecs_and_error_policy(
    spark, tmp_path
):
    # r10 CompressedNdjsonSource: .jsonl.zst / .jsonl.gz / plain mixed
    # in one folder; malformed JSON lines drop PERMISSIVE-style;
    # corrupt files contribute zero rows instead of failing the scan
    from node_etl_spark.functions.multimodal import compress_bytes
    from node_etl_spark.pipeline import Pipeline
    from node_etl_spark.sources import CompressedNdjsonSource
    from node_etl_spark.spec import op_from_spec

    lines = b'{"k": 1, "v": "a"}\nnot json at all\n{"k": 2, "v": "b"}\n'
    (tmp_path / "s0.jsonl.zst").write_bytes(compress_bytes(lines, "zstd"))
    (tmp_path / "s1.jsonl.gz").write_bytes(compress_bytes(lines, "gzip"))
    (tmp_path / "s2.jsonl").write_bytes(lines)
    corrupt = bytearray(compress_bytes(lines, "zstd"))
    corrupt[-1] ^= 0xFF  # breaks the frame checksum
    (tmp_path / "s3.jsonl.zst").write_bytes(bytes(corrupt))
    (tmp_path / "ignore.txt").write_text("excluded by glob")

    src = CompressedNdjsonSource(
        str(tmp_path), schema="k bigint, v string", glob="s*.jsonl*"
    )
    rows = sorted(
        (r.k, r.v) for r in Pipeline([src]).run(spark).collect()
    )
    # 3 readable shards x 2 valid lines; the bad line and the corrupt
    # shard contribute nothing
    assert rows == [(1, "a"), (1, "a"), (1, "a"), (2, "b"), (2, "b"), (2, "b")]

    # a corrupt-but-sniffable shard must contribute ZERO rows even
    # when its raw bytes happen to contain a parseable JSON line
    # (ADVICE r10: the old raw-cast fallback would leak k=99 here)
    leaky = bytearray(compress_bytes(lines, "gzip"))
    leaky[10] ^= 0xFF  # corrupt the deflate stream, keep the magic
    (tmp_path / "s4.jsonl.gz").write_bytes(
        bytes(leaky) + b'\n{"k": 99, "v": "leak"}\n'
    )
    rows = sorted(
        (r.k, r.v) for r in Pipeline([src]).run(spark).collect()
    )
    assert rows == [(1, "a"), (1, "a"), (1, "a"), (2, "b"), (2, "b"), (2, "b")]

    # schema is mandatory (inference would re-decompress every shard)
    import pytest

    with pytest.raises(ValueError):
        CompressedNdjsonSource(str(tmp_path), schema="")

    # the reserved corrupt-record column may not appear in the schema
    with pytest.raises(ValueError, match="__corrupt"):
        CompressedNdjsonSource(
            str(tmp_path), schema="k bigint, __corrupt string"
        )

    # spec op wiring
    op = op_from_spec(
        {
            "op": "ndjson_z",
            "path": str(tmp_path),
            "glob": "s0.jsonl.zst",
            "schema": "k bigint, v string",
        }
    )
    got = sorted((r.k, r.v) for r in Pipeline([op]).run(spark).collect())
    assert got == [(1, "a"), (2, "b")]


def test_token_shards_roundtrip_commit_and_corruption(spark, tmp_path):
    # r10 packed token shards: write-side atomic publish + manifest-
    # last commit; read-side exact reconstruction incl. empty
    # sequences; corrupt shards skip; vocab/dtype overflow FAILS the
    # export (never wraps silently)
    import json
    import os

    import pytest

    from node_etl_spark.context import Context
    from node_etl_spark.pipeline import Pipeline
    from node_etl_spark.sources import (
        TokenShardSink,
        TokenShardSource,
        write_token_shards,
    )

    df = spark.createDataFrame(
        [(1, [1, 2, 3]), (2, []), (3, [65535, 0]), (4, [7] * 1000)],
        "seq_id bigint, tokens array<int>",
    ).repartition(2)
    out = str(tmp_path / "shards")
    entries = write_token_shards(df, out)
    man = json.load(open(os.path.join(out, "manifest.json")))
    assert man["dtype"] == "uint16"
    assert sum(e["n_seqs"] for e in man["shards"]) == 4
    assert sum(e["n_tokens"] for e in man["shards"]) == 1005
    assert entries == man["shards"]
    assert not [f for f in os.listdir(out) if f.endswith(".tmp")]

    back = TokenShardSource(out).load(spark, Context())
    got = {r.seq_id: list(r.tokens) for r in back.collect()}
    assert got == {1: [1, 2, 3], 2: [], 3: [65535, 0], 4: [7] * 1000}

    # an orphan shard NOT in the manifest (task retry / older export)
    # is excluded by the manifest-restricted scan (ADVICE r10)
    shard = os.path.join(out, man["shards"][0]["shard"])
    (tmp_path / "shards" / "orphan.tokens").write_bytes(
        open(shard, "rb").read()
    )
    assert TokenShardSource(out).load(spark, Context()).count() == 4

    # corrupt shard (crc flip) contributes zero rows on the
    # manifest-less glob path
    os.remove(os.path.join(out, "manifest.json"))
    os.remove(str(tmp_path / "shards" / "orphan.tokens"))
    blob = bytearray(open(shard, "rb").read())
    blob[-1] ^= 0xFF
    (tmp_path / "shards" / "bad.tokens").write_bytes(bytes(blob))
    assert TokenShardSource(out).load(spark, Context()).count() == 4

    # uint16 overflow fails the export
    over = spark.createDataFrame(
        [(1, [70000])], "seq_id bigint, tokens array<int>"
    )
    with pytest.raises(Exception, match="out of range"):
        write_token_shards(over, str(tmp_path / "over"))
    # uint32 dtype accepts it
    write_token_shards(over, str(tmp_path / "wide"), dtype="uint32")
    wide = TokenShardSource(str(tmp_path / "wide")).load(spark, Context())
    assert [list(r.tokens) for r in wide.collect()] == [[70000]]

    # uint32 ids in [2**31, 2**32) survive the round trip exactly —
    # the int32-wrap regression (ADVICE r10); >= 2**32 fails the write
    big = spark.createDataFrame(
        [(9, [2**31, 2**32 - 1])], "seq_id bigint, tokens array<bigint>"
    )
    write_token_shards(big, str(tmp_path / "big"), dtype="uint32")
    got_big = TokenShardSource(str(tmp_path / "big")).load(
        spark, Context()
    )
    assert got_big.schema["tokens"].dataType.simpleString() == (
        "array<bigint>"
    )
    assert [list(r.tokens) for r in got_big.collect()] == [
        [2**31, 2**32 - 1]
    ]
    over32 = spark.createDataFrame(
        [(1, [2**32])], "seq_id bigint, tokens array<bigint>"
    )
    with pytest.raises(Exception, match="out of range"):
        write_token_shards(over32, str(tmp_path / "over32"), dtype="uint32")

    # sink spec op end-to-end through a Pipeline
    from node_etl_spark.spec import op_from_spec

    sink = op_from_spec(
        {"op": "token_shards_sink", "path": str(tmp_path / "spec_out")}
    )
    sink.write(df, Context())
    src = op_from_spec(
        {"op": "token_shards", "path": str(tmp_path / "spec_out")}
    )
    assert Pipeline([src]).run(spark).count() == 4


def test_token_shards_ranged_read(spark, tmp_path):
    # r11 splittable read: rows_per_task slices WITHIN shards on the
    # seq index; every slicing must reconstruct the full export
    import os

    import pytest

    from node_etl_spark.sources import (
        read_token_shards,
        write_token_shards,
    )

    rows = [(i, list(range(i % 7))) for i in range(50)]
    df = spark.createDataFrame(
        rows, "seq_id bigint, tokens array<int>"
    ).repartition(3)
    out = str(tmp_path / "shards")
    write_token_shards(df, out, dtype="uint16")
    want = {i: list(range(i % 7)) for i in range(50)}
    for rpt in (1, 7, 1000):
        back = read_token_shards(spark, out, rows_per_task=rpt)
        got = {r.seq_id: list(r.tokens) for r in back.collect()}
        assert got == want, f"rows_per_task={rpt}"
    # parallelism scales with rows, not shard count
    assert (
        read_token_shards(spark, out, rows_per_task=7)
        .rdd.getNumPartitions()
        > 3
    )
    # truncated shard -> size check fails -> zero rows from it (and
    # the default whole-shard path agrees via its crc)
    import json

    man = json.load(open(os.path.join(out, "manifest.json")))
    victim = os.path.join(out, man["shards"][0]["shard"])
    blob = open(victim, "rb").read()
    open(victim, "wb").write(blob[:-5])
    n_victim = man["shards"][0]["n_seqs"]
    assert (
        read_token_shards(spark, out, rows_per_task=7).count()
        == 50 - n_victim
    )
    assert read_token_shards(spark, out).count() == 50 - n_victim
    # ranged mode requires the manifest
    os.remove(os.path.join(out, "manifest.json"))
    with pytest.raises(ValueError, match="manifest"):
        read_token_shards(spark, out, rows_per_task=7)


def test_snapshot_table_commits_time_travel_and_cow(spark, tmp_path):
    import os

    import pytest
    from pyspark.sql import functions as F

    from node_etl_spark.sources.snapshot import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl"))
    assert t.versions() == []
    with pytest.raises(ValueError):
        t.manifest()

    base = spark.range(0, 100).withColumn(
        "grp", (F.col("id") % 4).cast("int")
    )
    v1 = t.append(base)
    v2 = t.append(
        spark.range(100, 150).withColumn(
            "grp", (F.col("id") % 4).cast("int")
        )
    )
    v3 = t.delete(spark, "grp = 3")
    assert (v1, v2, v3) == (1, 2, 3)

    # AS-OF reads reconstruct each snapshot exactly
    assert t.read(spark, 1).count() == 100
    assert t.read(spark, 2).count() == 150
    got = {r["id"] for r in t.read(spark, 3).collect()}
    assert got == {i for i in range(150) if i % 4 != 3}
    # latest == v3; version isolation: v1 unchanged after the delete
    assert t.read(spark).count() == len(got)
    assert t.read(spark, 1).count() == 100

    # COW: the delete rewrote data files, but every file referenced by
    # v1/v2 still exists on disk (time travel keeps them reachable)
    for v in (1, 2):
        for rel in t.manifest(v)["files"]:
            assert os.path.exists(os.path.join(t.path, rel))

    # overwrite starts a fresh file list; history remains readable
    t.overwrite(spark.range(0, 7).withColumn("grp", F.lit(0)))
    assert t.read(spark).count() == 7
    assert t.read(spark, 2).count() == 150
    assert t.versions() == [1, 2, 3, 4]

    # unknown versions and empty snapshots fail loudly
    with pytest.raises(ValueError):
        t.read(spark, 99)


def test_snapshot_delete_skips_untouched_files(spark, tmp_path):
    from pyspark.sql import functions as F

    from node_etl_spark.sources.snapshot import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl2"))
    # two commits -> disjoint file sets; delete hits only commit 2 rows
    t.append(spark.range(0, 50).withColumn("k", F.lit("a")))
    t.append(spark.range(50, 100).withColumn("k", F.lit("b")))
    before = set(t.manifest(2)["files"])
    t.delete(spark, "k = 'b' AND id >= 90")
    after = t.manifest(3)["files"]
    # every file from commit 1 (k='a') carried over BY REFERENCE
    commit1 = set(t.manifest(1)["files"])
    assert commit1 <= set(after)
    # at least one commit-2 file was rewritten (name not in v2's list)
    assert any(f not in before for f in after)
    assert {r["id"] for r in t.read(spark).collect()} == set(range(90))


def test_snapshot_compaction_preserves_content_and_history(spark, tmp_path):
    from pyspark.sql import functions as F

    from node_etl_spark.sources.snapshot import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl3"))
    for i in range(6):
        t.append(
            spark.range(i * 10, (i + 1) * 10).withColumn(
                "m", (F.col("id") * 3).cast("bigint")
            )
        )
    before = t.manifest(6)["files"]
    v = t.compact(spark, target_files=2)
    assert v == 7
    after = t.manifest(7)["files"]
    assert len(after) < len(before)
    # content-identical, history intact
    assert {r["id"] for r in t.read(spark).collect()} == set(range(60))
    assert t.read(spark, 3).count() == 30
    assert t.manifest(7)["op"] == "compact"


def test_snapshot_changes_reads_only_the_delta(spark, tmp_path):
    import pytest
    from pyspark.sql import functions as F

    from node_etl_spark.sources.snapshot import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl4"))
    t.append(spark.range(0, 10).withColumn("v", F.lit("a")))
    t.append(spark.range(10, 25).withColumn("v", F.lit("b")))
    t.append(spark.range(25, 30).withColumn("v", F.lit("c")))

    got = {r["id"] for r in t.changes(spark, 1, 3).collect()}
    assert got == set(range(10, 30))
    assert {r["id"] for r in t.changes(spark, 2, 3).collect()} == set(
        range(25, 30)
    )

    # rewrites break the append-only contract -> loud refusal
    t.delete(spark, "id < 5")
    with pytest.raises(ValueError, match="non-append"):
        t.changes(spark, 1, 4)
    # spans that avoid the rewrite still work
    with pytest.raises(ValueError):
        t.changes(spark, 3, 3)  # empty span is a usage error

    # append after the delete: delta from the delete version is clean
    t.append(spark.range(100, 103).withColumn("v", F.lit("d")))
    assert {r["id"] for r in t.changes(spark, 4, 5).collect()} == {
        100,
        101,
        102,
    }


def test_snapshot_vacuum_reclaims_and_expires(spark, tmp_path):
    import os

    import pytest
    from pyspark.sql import functions as F

    from node_etl_spark.sources.snapshot import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl5"))
    t.append(spark.range(0, 20).withColumn("v", F.lit("a")))
    t.overwrite(spark.range(20, 40).withColumn("v", F.lit("b")))
    # plant an orphan (failed-task leftover no manifest references)
    orphan = os.path.join(t.path, "data", "part-orphan.parquet")
    with open(orphan, "wb") as f:
        f.write(b"not really parquet")

    with pytest.raises(ValueError):
        t.vacuum(retain_last=0)

    stats = t.vacuum(retain_last=1)
    assert stats["manifests_removed"] == 1
    assert stats["files_removed"] >= 2  # v1's files + the orphan
    assert not os.path.exists(orphan)
    assert t.versions() == [2]
    assert {r["id"] for r in t.read(spark).collect()} == set(range(20, 40))
    with pytest.raises(ValueError):
        t.read(spark, 1)  # expired

    # vacuum is idempotent once clean
    again = t.vacuum(retain_last=1)
    assert again["files_removed"] == 0 and again["manifests_removed"] == 0


def test_snapshot_zonemap_pruned_reads(spark, tmp_path):
    from pyspark.sql import functions as F

    from node_etl_spark.sources.snapshot import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl6"))
    df = (
        spark.range(0, 8000)
        .withColumn("k", F.col("id"))
        .repartitionByRange(8, "k")
    )
    t.append(df, stats_cols=["k"])
    all_files = t.manifest(1)["files"]
    assert len(all_files) == 8
    assert all(
        "k" in t.manifest(1)["stats"][f] for f in all_files
    )

    # range hitting ~2 of 8 disjoint range-partitioned files
    pruned = t.scan_files(1, ("k", 2000, 3500))
    assert 1 <= len(pruned) <= 3 < len(all_files)
    got = {r["id"] for r in t.read(spark, 1, where=("k", 2000, 3500)).collect()}
    assert got == set(range(2000, 3501))

    # half-open ranges + empty result when fully pruned
    assert {r["id"] for r in t.read(spark, 1, where=("k", 7800, None)).collect()} == set(range(7800, 8000))
    assert t.read(spark, 1, where=("k", 100000, None)).count() == 0
    assert t.scan_files(1, ("k", 100000, None)) == []

    # stats survive maintenance rewrites (compact re-profiles)
    t.compact(spark, target_files=2)
    st2 = t.manifest(2)["stats"]
    assert st2 and all("k" in v for v in st2.values())
    assert {r["id"] for r in t.read(spark, 2, where=("k", 0, 10)).collect()} == set(range(11))

    # columns never profiled -> no pruning, still-correct reads
    assert t.read(spark, 2, where=("id", 0, 10)).count() == 11


def test_snapshot_schema_evolution_versions_pin_schemas(spark, tmp_path):
    from pyspark.sql import functions as F

    from node_etl_spark.sources.snapshot import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl7"))
    t.append(spark.range(0, 10).select("id"))
    t.append(
        spark.range(10, 20).select(
            "id", F.lit("new").alias("tag"), (F.col("id") * 2).alias("dbl")
        )
    )
    latest = t.read(spark)
    assert latest.columns == ["id", "tag", "dbl"]
    rows = {r["id"]: (r["tag"], r["dbl"]) for r in latest.collect()}
    assert rows[3] == (None, None)  # pre-evolution file null-fills
    assert rows[15] == ("new", 30)
    # AS-OF v1 presents the OLD schema
    assert t.read(spark, 1).columns == ["id"]
    # maintenance keeps the evolved schema
    t.compact(spark, target_files=1)
    assert t.read(spark).columns == ["id", "tag", "dbl"]
    assert t.read(spark).count() == 20


def test_snapshot_mor_delete_vectors(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from node_etl_spark.sources.snapshot import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl8"))
    t.append(
        spark.range(0, 100)
        .withColumn("b", (F.col("id") % 5).cast("int"))
        .repartition(4)
    )
    files_v1 = set(t.manifest(1)["files"])

    v2 = t.delete(spark, "b = 0", mode="mor")
    # NO data file written or removed — only a delete-vector sidecar
    assert set(t.manifest(v2)["files"]) == files_v1
    assert len(t.manifest(v2)["deletes"]) == 1
    got = {r["id"] for r in t.read(spark).collect()}
    assert got == {i for i in range(100) if i % 5 != 0}
    # time travel unaffected
    assert t.read(spark, 1).count() == 100

    # vectors STACK, and a later append carries them forward
    t.delete(spark, "b = 1", mode="mor")
    t.append(spark.range(100, 110).withColumn("b", F.lit(7)))
    got = {r["id"] for r in t.read(spark).collect()}
    assert got == {i for i in range(100) if i % 5 > 1} | set(range(100, 110))
    assert len(t.manifest()["deletes"]) == 2

    # compact MATERIALIZES the vectors: clean files, no sidecar refs
    t.compact(spark, target_files=2)
    assert t.manifest()["deletes"] == []
    assert {r["id"] for r in t.read(spark).collect()} == got

    # vacuum reclaims now-unreferenced sidecars
    stats = t.vacuum(retain_last=1)
    assert not os.listdir(os.path.join(t.path, "deletes"))
    assert stats["files_removed"] > 0


def test_snapshot_cow_delete_after_mor_does_not_resurrect(spark, tmp_path):
    from pyspark.sql import functions as F

    from node_etl_spark.sources.snapshot import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl9"))
    t.append(spark.range(0, 60).withColumn("b", (F.col("id") % 3).cast("int")))
    t.delete(spark, "b = 0", mode="mor")
    # a naive per-file COW rewrite would read raw files and bring the
    # b=0 rows back; the guarded path materializes through read()
    t.delete(spark, "b = 1", mode="cow")
    got = {r["id"] for r in t.read(spark).collect()}
    assert got == {i for i in range(60) if i % 3 == 2}
    assert t.manifest()["deletes"] == []
