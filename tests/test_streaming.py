import datetime as dt

import pytest
from pyspark.sql import functions as F

from node_etl_spark.streaming import stream as st


@pytest.fixture()
def events_dir(spark, tmp_path):
    """Small event parquet laid out for streaming reads (us timestamps)."""
    rows = []
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    for i in range(100):
        rows.append(
            (
                i,
                base + dt.timedelta(minutes=i * 7),
                i % 3,
                "click" if i % 2 == 0 else "view",
                float(i),
            )
        )
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
    )
    path = str(tmp_path / "events")
    df.coalesce(1).write.parquet(path)
    return path


SCHEMA = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"


def test_windowed_agg_stream_matches_batch(spark, events_dir):
    stream = st.stream_source(spark, events_dir, SCHEMA)
    assert stream.isStreaming
    out = st.windowed_agg(stream, window="1 hour", watermark="2 hours")
    # complete mode emits every window (append would hold back windows
    # the watermark hasn't closed yet)
    st.run_to_memory(out, "win_counts", mode="complete")
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    # batch equivalent over the same files
    batch = spark.read.parquet(events_dir)
    expect = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in st.windowed_agg(batch, window="1 hour", watermark="2 hours").collect()
    }
    assert got == expect
    assert len(got) > 5


def test_streaming_dedup(spark, tmp_path):
    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (1, base, "Hello  World"),
            (2, base + dt.timedelta(minutes=1), "hello world"),
            (3, base + dt.timedelta(minutes=2), "unique doc"),
        ],
        "doc_id bigint, ts timestamp, text string",
    )
    path = str(tmp_path / "docs")
    df.coalesce(1).write.parquet(path)
    stream = st.stream_source(spark, path, "doc_id bigint, ts timestamp, text string")
    st.run_to_memory(st.streaming_dedup(stream), "deduped", mode="append")
    kept = sorted(r.doc_id for r in spark.sql("SELECT doc_id FROM deduped").collect())
    assert len(kept) == 2 and 3 in kept  # one of {1,2} plus 3


def test_sessionize(spark, tmp_path):
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # user 7: two bursts separated by > 30 min -> 2 sessions
        (1, base, 7, "click", 1.0),
        (2, base + dt.timedelta(minutes=5), 7, "click", 2.0),
        (3, base + dt.timedelta(minutes=90), 7, "view", 3.0),
        # user 8: single event
        (4, base + dt.timedelta(minutes=10), 8, "click", 4.0),
        # late anchor far in the future lets the watermark close state
        (5, base + dt.timedelta(days=2), 9, "view", 0.0),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    path = str(tmp_path / "sess")
    df.coalesce(1).write.parquet(path)
    stream = st.stream_source(spark, path, SCHEMA)
    out = st.sessionize(stream)
    # native session windows: no Python stateful node in the plan, and
    # the output columns are SESSION_SCHEMA's (nullability aside)
    assert "PandasWithState" not in out._jdf.queryExecution().analyzed().toString()
    assert [(f.name, f.dataType) for f in out.schema] == [
        (f.name, f.dataType)
        for f in spark.createDataFrame([], st.SESSION_SCHEMA).schema
    ]
    st.run_to_memory(out, "sessions", mode="append")
    got = spark.sql("SELECT * FROM sessions ORDER BY user_id, session_start").collect()
    u7 = [r for r in got if r.user_id == 7]
    assert len(u7) == 2
    assert u7[0].n_events == 2 and u7[0].total_value == 3.0
    assert u7[1].n_events == 1 and u7[1].total_value == 3.0
    u8 = [r for r in got if r.user_id == 8]
    assert len(u8) == 1 and u8[0].n_events == 1


def test_route_sinks(spark, events_dir, tmp_path):
    stream = st.stream_source(spark, events_dir, SCHEMA)
    outs = [str(tmp_path / f"route{i}") for i in range(2)]

    def mk_sink(path):
        return lambda df: df.write.mode("append").parquet(path)

    q = st.route_sinks(
        stream,
        "CASE WHEN event_type = 'click' THEN 0 ELSE 1 END",
        [mk_sink(p) for p in outs],
        checkpoint=str(tmp_path / "ckpt"),
    ).start()
    q.awaitTermination()
    clicks = spark.read.parquet(outs[0])
    views = spark.read.parquet(outs[1])
    assert clicks.count() + views.count() == 100
    assert clicks.filter("event_type != 'click'").count() == 0


def test_enrich_stream_static_join(spark, events_dir):
    stream = st.stream_source(spark, events_dir, SCHEMA)
    vocab = spark.createDataFrame(
        [("click", "interaction"), ("view", "interaction"), ("error", "fault")],
        "event_type string, category string",
    )
    enriched = st.enrich(stream, vocab, on="event_type",
                         select={"category": "category"})
    st.run_to_memory(enriched, "enriched_events")
    out = spark.sql("SELECT * FROM enriched_events")
    assert out.filter("event_type = 'click' AND category != 'interaction'").count() == 0
    # left join: unknown types survive with null category
    assert out.filter("category IS NULL").count() == out.filter(
        "event_type NOT IN ('click','view','error')"
    ).count()


def test_interval_join_stream_stream(spark, events_dir):
    purchases = st.stream_source(spark, events_dir, SCHEMA).filter(
        "event_type = 'purchase'"
    )
    clicks = st.stream_source(spark, events_dir, SCHEMA).filter(
        "event_type = 'click'"
    )
    joined = st.interval_join(
        purchases, clicks, on="user_id", lookback="30 minutes"
    )
    st.run_to_memory(joined, "purchase_click_pairs")
    got = spark.sql(
        "SELECT * FROM purchase_click_pairs "
        "WHERE ts_r > ts OR ts_r < ts - INTERVAL 30 MINUTES"
    )
    assert got.count() == 0  # every pair inside the lookback window
    # batch twin gives the same pair count
    from node_etl_spark.tables import read_parquet

    ev = spark.read.schema(SCHEMA).parquet(events_dir)
    p = ev.filter("event_type = 'purchase'").alias("l")
    c = ev.filter("event_type = 'click'").alias("r")
    from pyspark.sql import functions as F

    batch_n = p.join(
        c,
        (F.col("l.user_id") == F.col("r.user_id"))
        & (F.col("r.ts") <= F.col("l.ts"))
        & (F.col("r.ts") >= F.col("l.ts") - F.expr("INTERVAL 30 MINUTES")),
    ).count()
    assert spark.sql("SELECT count(*) c FROM purchase_click_pairs").collect()[0].c == batch_n


def test_windowed_agg_drops_late_data(spark, tmp_path):
    import datetime as dt

    path = str(tmp_path / "late_events")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    base = dt.datetime(2024, 1, 1, 0, 0)
    on_time = [(i, base + dt.timedelta(hours=i), 1, "a", 1.0) for i in range(6)]
    spark.createDataFrame(on_time, SCHEMA).coalesce(1).write.parquet(path)

    def run():
        agg = st.windowed_agg(
            st.stream_source(spark, path, SCHEMA),
            window="1 hour", watermark="2 hours",
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    emitted1 = spark.read.parquet(out).count()
    assert emitted1 > 0  # watermark passed the earliest windows

    # a row 4h older than the carried watermark arrives in a new file;
    # the checkpointed restart must DROP it (no re-emit, no new window)
    late = [(99, base + dt.timedelta(hours=1), 1, "a", 100.0)]
    spark.createDataFrame(late, SCHEMA).coalesce(1).write.mode("append").parquet(path)
    run()
    after = spark.read.parquet(out)
    assert after.count() == emitted1
    # and the late row's value never leaked into any emitted window
    assert after.filter("total_value >= 100").count() == 0


def test_upsert_sink_replaces_keys(spark, events_dir, tmp_path):
    out = str(tmp_path / "state")
    stream = st.stream_source(spark, events_dir, SCHEMA)
    q = st.upsert_sink(
        stream,
        out,
        keys=["user_id", "event_type"],
        order_col="event_id",
        checkpoint=str(tmp_path / "ckpt_up"),
    ).start()
    q.awaitTermination()
    got = spark.read.parquet(out)
    # one surviving row per key, and it is the max event_id of the key
    assert got.groupBy("user_id", "event_type").count().filter("count > 1").count() == 0
    src = spark.read.schema(SCHEMA).parquet(events_dir)
    expect = src.groupBy("user_id", "event_type").agg(F.max("event_id").alias("m"))
    joined = got.join(expect, ["user_id", "event_type"])
    assert joined.filter("event_id != m").count() == 0
    assert got.count() == expect.count()


def test_bitmap_state_sink_incremental_exact_distinct(spark, tmp_path):
    # two deliveries with overlapping users: the OR-merge must absorb
    # re-deliveries (no double counting) and accumulate new ids
    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def mk(users_by_day):
        rows = []
        for day_off, users in users_by_day.items():
            for j, u in enumerate(users):
                rows.append(
                    (day_off * 1000 + j,
                     base + dt.timedelta(days=day_off, minutes=j),
                     u, "click", 1.0)
                )
        return spark.createDataFrame(rows, SCHEMA)

    src = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")

    # batch 1: day0 users {0..9}, day1 users {5..14}
    mk({0: list(range(10)), 1: list(range(5, 15))}).write.mode("append").parquet(src)
    stream = st.stream_source(spark, src, schema=SCHEMA)
    st.bitmap_state_sink(stream, state, checkpoint=ck).start().awaitTermination()

    # batch 2: day0 re-delivers {0..9} plus new {100, 101}; day2 appears
    mk({0: list(range(10)) + [100, 101], 2: [7]}).write.mode("append").parquet(src)
    stream = st.stream_source(spark, src, schema=SCHEMA)
    st.bitmap_state_sink(stream, state, checkpoint=ck).start().awaitTermination()

    # partition-column inference reads `day` back as a date — normalize
    daily = {
        str(r.day): r.n
        for r in spark.read.parquet(state)
        .groupBy("day")
        .agg(F.sum(F.bitmap_count("bm")).alias("n"))
        .collect()
    }
    assert daily == {"2024-01-01": 12, "2024-01-02": 10, "2024-01-03": 1}

    weekly = {
        r.week: r.distinct_users
        for r in st.bitmap_state_rollup(spark, state).collect()
    }
    # all three days fall in ISO week 1 of 2024; users 0..14,100,101
    assert weekly == {1: 17}


def test_dedup_by_keys_collapses_redelivery(spark, tmp_path):
    base = dt.datetime(2024, 1, 1)
    rows = [
        (10, base, 1.5),
        (11, base + dt.timedelta(minutes=1), 2.5),
    ]
    df = spark.createDataFrame(rows * 3, "event_id bigint, ts timestamp, value double")
    path = str(tmp_path / "redelivered")
    df.coalesce(1).write.parquet(path)
    stream = st.stream_source(
        spark, path, "event_id bigint, ts timestamp, value double"
    )
    st.run_to_memory(
        st.dedup_by_keys(stream, keys=["event_id"]), "dedup_keys", mode="append"
    )
    got = sorted(
        (r.event_id, r.value)
        for r in spark.sql("SELECT event_id, value FROM dedup_keys").collect()
    )
    assert got == [(10, 1.5), (11, 2.5)]


def test_dedup_drain_skips_eviction_only_batch(spark, tmp_path):
    # a deduplication emits rows when they arrive, so the trailing
    # input-less batch would only evict state: the drain is one batch
    base = dt.datetime(2024, 1, 1)
    rows = [(10, base, 1.5), (11, base + dt.timedelta(hours=3), 2.5)]
    df = spark.createDataFrame(rows * 3, "event_id bigint, ts timestamp, value double")
    path = str(tmp_path / "redelivered")
    df.coalesce(1).write.parquet(path)
    stream = st.stream_source(
        spark, path, "event_id bigint, ts timestamp, value double"
    )
    conf = "spark.sql.streaming.noDataMicroBatches.enabled"
    before = spark.conf.get(conf)
    q = st.run_to_memory(
        st.dedup_by_keys(stream, keys=["event_id"]), "dedup_one_batch"
    )
    assert [p["numInputRows"] for p in q.recentProgress] == [6]
    assert spark.conf.get(conf) == before
    got = sorted(
        (r.event_id, r.value)
        for r in spark.sql("SELECT event_id, value FROM dedup_one_batch").collect()
    )
    assert got == [(10, 1.5), (11, 2.5)]


def test_sessionize_drain_keeps_finalising_batch(spark, tmp_path):
    # append mode emits a session only once the watermark passes its
    # last event + gap, which happens in the input-less batch
    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base, 7, "click", 1.0),
        (2, base + dt.timedelta(minutes=5), 7, "click", 2.0),
        (3, base + dt.timedelta(minutes=10), 8, "click", 4.0),
        (4, base + dt.timedelta(days=2), 9, "view", 0.0),
    ]
    path = str(tmp_path / "sess")
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(path)
    q = st.run_to_memory(
        st.sessionize(st.stream_source(spark, path, SCHEMA)), "sessions_final"
    )
    assert [p["numInputRows"] for p in q.recentProgress] == [4, 0]
    got = {
        (r.user_id, r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM sessions_final").collect()
    }
    assert got == {(7, 2, 3.0), (8, 1, 4.0)}


def test_left_outer_interval_drain_keeps_finalising_batch(spark, tmp_path):
    # an unmatched left row is emitted with nulls only once the
    # watermark has passed it, in the input-less batch
    base = dt.datetime(2024, 1, 1, 10)
    anchor = base + dt.timedelta(days=1)
    srcl, srcr = str(tmp_path / "l"), str(tmp_path / "r")
    spark.createDataFrame(
        [(1, base, 1), (2, base, 2), (99, anchor, 99)],
        "lid bigint, ts timestamp, k bigint",
    ).coalesce(1).write.parquet(srcl)
    spark.createDataFrame(
        [(10, base - dt.timedelta(minutes=29), 1), (98, anchor, 98)],
        "rid bigint, ts timestamp, k bigint",
    ).coalesce(1).write.parquet(srcr)
    joined = st.interval_join(
        st.stream_source(spark, srcl, "lid bigint, ts timestamp, k bigint"),
        st.stream_source(spark, srcr, "rid bigint, ts timestamp, k bigint"),
        on="k", lookback="30 minutes", watermark="10 minutes", how="leftOuter",
    )
    q = st.run_to_memory(joined, "left_outer_final")
    assert [p["numInputRows"] for p in q.recentProgress] == [5, 0]
    got = {
        (r.lid, r.rid_r)
        for r in spark.sql("SELECT * FROM left_outer_final WHERE k < 90").collect()
    }
    assert got == {(1, 10), (2, None)}


@pytest.mark.parametrize("input_bytes", [0, 1, 32 * 1024 * 1024 - 1])
def test_state_partitions_small_input_fit_one_wave(spark, input_bytes):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    with st.scaled_state_partitions(spark, input_bytes) as parts:
        assert 1 <= parts <= spark.sparkContext.defaultParallelism
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(parts)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_sessionize_restart_recovers_carried_state(spark, tmp_path):
    # kill-and-resume (VERDICT r3 ask #7): phase 1 leaves open
    # sessions in the state store and shuts down; phase 2 restarts
    # from the checkpoint, CONTINUES a carried session with a
    # mid-gap event, and flushes via a watermark anchor. The single
    # cross-phase session can only exist if the restarted query
    # recovered the session-window state store from the checkpoint.
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def run_once():
        stream = st.stream_source(spark, src, SCHEMA)
        (
            st.sessionize(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    # phase 1: user 7 burst begins; user 8 lone event. No watermark
    # anchor, so nothing times out — both sessions are open state at
    # shutdown.
    spark.createDataFrame(
        [
            (1, base, 7, "click", 1.0),
            (2, base + dt.timedelta(minutes=5), 7, "click", 2.0),
            (4, base + dt.timedelta(minutes=10), 8, "click", 4.0),
        ],
        SCHEMA,
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()
    assert not spark.read.schema(st.SESSION_SCHEMA).parquet(out).count()

    # phase 2 (restart): +8min continues user 7's carried session
    # (within the 30-min gap of the +5min state row); the day-2
    # anchor advances the watermark past every timeout.
    spark.createDataFrame(
        [
            (3, base + dt.timedelta(minutes=8), 7, "view", 3.0),
            (5, base + dt.timedelta(days=2), 9, "view", 0.0),
        ],
        SCHEMA,
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()

    got = {
        r.user_id: r
        for r in spark.read.schema(st.SESSION_SCHEMA).parquet(out).collect()
    }
    assert set(got) == {7, 8}
    assert got[7].n_events == 3 and got[7].total_value == 6.0
    assert got[8].n_events == 1 and got[8].total_value == 4.0


def _boundary_events(path):
    """Events on every sessionization boundary, written with the test
    data's parquet schema. The final watermark is the max event time in
    ms minus 1h: ``wm`` below (the anchor carries a sub-ms part that the
    watermark drops)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = dt.datetime(2024, 1, 1)
    gap, us = dt.timedelta(minutes=30), dt.timedelta(microseconds=1)
    anchor = base + dt.timedelta(days=2)
    wm = anchor - dt.timedelta(hours=1)
    a = base + dt.timedelta(minutes=3)
    times = {
        # gaps of 30 min - 1 µs and exactly 30 min merge; 30 min + 1 µs
        # starts a second session
        1: [a, a + gap - us, a + 2 * gap - us, a + 3 * gap],
        # last event + gap lands exactly on, and 1 µs past, the watermark
        2: [wm - gap - dt.timedelta(minutes=5), wm - gap],
        3: [wm - gap + us],
        # closed by a later event, but its end + gap is past the watermark
        4: [wm - dt.timedelta(minutes=20), wm + dt.timedelta(minutes=11)],
        9: [anchor + dt.timedelta(microseconds=500)],
    }
    rows = [(u, t) for u, ts in times.items() for t in ts]
    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    pq.write_table(
        pa.table(
            {
                "event_id": list(range(len(rows))),
                "ts": [t for _, t in rows],
                "user_id": [u for u, _ in rows],
                "event_type": ["click"] * len(rows),
                "value": [1.25 * (i + 1) for i in range(len(rows))],
                "props": [None] * len(rows),
            },
            schema=schema,
        ),
        path,
    )


@pytest.mark.parametrize(
    "name", ["q57_sessionize", "q135_session_window", "q138_stream_sessionize"]
)
def test_sessionizers_match_oracle_on_boundaries(spark, tmp_path, name):
    # the three sessionizers share one rule: a gap of more than 30 min
    # (in µs) starts a session; q138 emits a session once the final
    # watermark reaches its last event + 30 min
    import duckdb

    from node_etl_spark.plans import QUERIES

    _boundary_events(str(tmp_path / "events.parquet"))
    q = QUERIES[name]
    got_df = q.fn(spark, str(tmp_path))
    got_cols, got = got_df.columns, [tuple(r) for r in got_df.collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'"
    )
    res = con.execute(q.oracle)
    want_cols, want = [d[0] for d in res.description], res.fetchall()

    def by_name(cols, rows):
        order = sorted(range(len(cols)), key=cols.__getitem__)
        return sorted(tuple(r[i] for i in order) for r in rows)

    assert sorted(got_cols) == sorted(want_cols)
    assert by_name(got_cols, got) == by_name(want_cols, want)
    # users 1-4 and the anchor: 2 + 1 + 1 + 2 + 1 sessions in batch; the
    # stream withholds user 3's, user 4's two and the anchor's
    assert len(got) == (3 if name.startswith("q138") else 7)


def test_bitmap_state_sink_restart_idempotent(spark, tmp_path):
    # restart semantics for the bitmap-distinct upsert sink: a
    # restart with no new input must not change state, and a restart
    # that re-delivers already-seen ids in brand-new files must be
    # absorbed by the OR-merge (stream.py bitmap_state_sink upsert) —
    # exactly-once distinct counts without exactly-once delivery.
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    src = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")

    def mk(users):
        return spark.createDataFrame(
            [
                (j, base + dt.timedelta(minutes=j), u, "click", 1.0)
                for j, u in enumerate(users)
            ],
            SCHEMA,
        )

    def run_once():
        stream = st.stream_source(spark, src, schema=SCHEMA)
        st.bitmap_state_sink(
            stream, state, checkpoint=ck
        ).start().awaitTermination()

    def day0_count():
        return (
            spark.read.parquet(state)
            .agg(F.sum(F.bitmap_count("bm")).alias("n"))
            .collect()[0]
            .n
        )

    mk(range(10)).write.mode("append").parquet(src)
    run_once()
    assert day0_count() == 10

    # restart, zero new files: state must be byte-for-byte stable
    run_once()
    assert day0_count() == 10

    # restart with a NEW file re-delivering users 0..9 plus user 42
    mk(list(range(10)) + [42]).write.mode("append").parquet(src)
    run_once()
    assert day0_count() == 11


def test_interval_left_outer_boundary_emission_across_restart(spark, tmp_path):
    # Watermark-boundary emission for interval_join(how="leftOuter")
    # (r4/r5 verdict ask #7/#5): a left row whose candidate match sits
    # just INSIDE the 30-min lookback pairs up; one whose candidate is
    # one second OUTSIDE must emit exactly once WITH NULLS — and only
    # after the watermark passes, across a checkpoint restart (the
    # null row can only come from recovered join state). A third key
    # pins the boundary itself as inclusive (r.ts == l.ts - lookback).
    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    srcl, srcr = str(tmp_path / "l"), str(tmp_path / "r")
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    LSCHEMA = "lid bigint, ts timestamp, k bigint"
    RSCHEMA = "rid bigint, ts timestamp, k bigint"
    OUT_SCHEMA = "lid bigint, ts timestamp, k bigint, rid_r bigint, ts_r timestamp"

    def run_once():
        l = st.stream_source(spark, srcl, LSCHEMA)
        r = st.stream_source(spark, srcr, RSCHEMA)
        (
            st.interval_join(
                l, r, on="k",
                lookback="30 minutes", watermark="10 minutes",
                how="leftOuter",
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    spark.createDataFrame(
        [(1, base, 1), (2, base, 2), (3, base, 3)], LSCHEMA
    ).coalesce(1).write.mode("append").parquet(srcl)
    spark.createDataFrame(
        [
            (10, base - dt.timedelta(minutes=29), 1),  # just inside
            (20, base - dt.timedelta(minutes=30, seconds=1), 2),  # outside
            (30, base - dt.timedelta(minutes=30), 3),  # exactly on boundary
        ],
        RSCHEMA,
    ).coalesce(1).write.mode("append").parquet(srcr)
    run_once()
    phase1 = spark.read.schema(OUT_SCHEMA).parquet(out).collect()
    # the unmatched left row must be WITHHELD, not emitted-with-nulls,
    # while a match could still arrive (watermark 09:50 < l.ts 10:00)
    assert all(r.rid_r is not None for r in phase1)

    # phase 2 (restart from checkpoint): far-future anchors on both
    # sides push the watermark past every real left row; the k=2
    # null row can only be emitted from state recovered at restart
    anchor = base + dt.timedelta(days=1)
    spark.createDataFrame(
        [(99, anchor, 99)], LSCHEMA
    ).coalesce(1).write.mode("append").parquet(srcl)
    spark.createDataFrame(
        [(98, anchor, 98)], RSCHEMA
    ).coalesce(1).write.mode("append").parquet(srcr)
    run_once()

    rows = [
        r
        for r in spark.read.schema(OUT_SCHEMA).parquet(out).collect()
        if r.k < 90  # the anchors themselves never finalize
    ]
    assert len(rows) == 3, f"expected exactly-once emission, got {rows}"
    got = {(r.k, r.rid_r) for r in rows}
    assert got == {(1, 10), (2, None), (3, 30)}


def test_ewma_stream_matches_batch_across_batches(spark, tmp_path):
    """The stream's integer walk must equal the batch operator even
    when days arrive split across MULTIPLE micro-batches (state
    carry, pending-day merge)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from node_etl_spark.functions.profile import ewma_anomalies
    from node_etl_spark.streaming import stream as st

    rows = []
    for d in range(8):
        v = 16.0 if d == 5 else 4.0
        # two events per day so the daily total is 2v
        for h in (9, 15):
            rows.append((d * 2 + h, dt.datetime(2024, 1, 1 + d, h), "g", v))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    # batch answer
    (want,) = ewma_anomalies(df, "event_type", "ts", "value").collect()

    # stream the same rows in TWO files -> two micro-batches
    src_dir = str(tmp_path / "ev")
    df.filter(F.dayofmonth("ts") <= 4).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src_dir)
    df.filter(F.dayofmonth("ts") > 4).coalesce(1).write.mode(
        "append"
    ).parquet(src_dir)
    stream = st.ewma_stream(
        spark.readStream.schema(
            "event_id bigint, ts timestamp, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("t_ewma_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    sink = spark.table("t_ewma_stream")
    last = (
        sink.orderBy(F.col("n_days").desc()).limit(1).collect()[0]
    )
    assert last.n_days == want.n_days == 8
    assert last.final_ewma == want.final_ewma
    assert last.n_anomalies == want.n_anomalies == 1


def test_ewma_stream_single_day_first_batch(spark, tmp_path):
    """Regression (round-7 ADVICE): when a group's FIRST micro-batch
    holds exactly one distinct day, the stored not-seeded marker (now
    an explicit boolean field) must restore to an unseeded walk on the
    next batch — otherwise the second batch seeds the walk from a
    garbage level (skipping the seed step, mis-firing the anomaly
    check) and stream/batch parity breaks."""
    import datetime as dt

    from pyspark.sql import functions as F

    from node_etl_spark.functions.profile import ewma_anomalies
    from node_etl_spark.streaming import stream as st

    rows = []
    for d in range(6):
        v = 20.0 if d == 3 else 5.0
        rows.append((d, dt.datetime(2024, 2, 1 + d, 12), "g", v))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    (want,) = ewma_anomalies(df, "event_type", "ts", "value").collect()

    src_dir = str(tmp_path / "ev1d")
    # batch 1 = ONLY day 1 (the single-day seed batch), batch 2 = rest
    df.filter(F.dayofmonth("ts") == 1).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src_dir)
    df.filter(F.dayofmonth("ts") > 1).coalesce(1).write.mode(
        "append"
    ).parquet(src_dir)
    stream = st.ewma_stream(
        spark.readStream.schema(
            "event_id bigint, ts timestamp, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("t_ewma_stream_1d")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    sink = spark.table("t_ewma_stream_1d")
    last = sink.orderBy(F.col("seq").desc()).limit(1).collect()[0]
    assert last.n_days == want.n_days == 6
    assert last.final_ewma == want.final_ewma
    assert last.n_anomalies == want.n_anomalies == 1


def test_ewma_stream_negative_level_not_mistaken_for_unseeded(
    spark, tmp_path
):
    """Regression (round-8 ADVICE): a legitimately NEGATIVE walk level
    that lands exactly on -1 micro-units (seed day total -0.000001)
    must survive the state round-trip. The old encoding overloaded -1
    as the 'not seeded' sentinel, so such a group was silently reset
    to unseeded on the next micro-batch; the state tuple now carries
    an explicit `seeded` boolean instead."""
    import datetime as dt

    from pyspark.sql import functions as F

    from node_etl_spark.functions.profile import ewma_anomalies
    from node_etl_spark.streaming import stream as st

    # day 1 total = -1 micro-unit -> after day 2 arrives, the CLOSED
    # seed level stored in state is exactly -1
    vals = [-0.000001, 8.0, 2.0, 2.0, 40.0, 2.0]
    rows = [
        (d, dt.datetime(2024, 4, 1 + d, 12), "g", v)
        for d, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    (want,) = ewma_anomalies(df, "event_type", "ts", "value").collect()

    src_dir = str(tmp_path / "evneg")
    # batch 1 = days 1-2 (closes day 1 at level -1), batch 2 = rest
    df.filter(F.dayofmonth("ts") <= 2).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src_dir)
    df.filter(F.dayofmonth("ts") > 2).coalesce(1).write.mode(
        "append"
    ).parquet(src_dir)
    stream = st.ewma_stream(
        spark.readStream.schema(
            "event_id bigint, ts timestamp, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("t_ewma_stream_neg")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    sink = spark.table("t_ewma_stream_neg")
    last = sink.orderBy(F.col("seq").desc()).limit(1).collect()[0]
    assert last.n_days == want.n_days == 6
    assert last.final_ewma == want.final_ewma
    assert last.n_anomalies == want.n_anomalies


def test_ewma_stream_restart_recovers_walk_state(spark, tmp_path):
    """Kill-and-resume for the custom EWMA state (incl. the r7 seq
    counter): phase 1 drains a single-day batch and shuts down;
    phase 2 restarts from the SAME checkpoint with the remaining
    days. The final emission matches the batch operator exactly —
    only possible if the (level, counts, pending-day, seq) tuple
    round-tripped through the state store across the restart."""
    import datetime as dt

    from pyspark.sql import functions as F

    from node_etl_spark.functions.profile import ewma_anomalies
    from node_etl_spark.streaming import stream as st

    rows = []
    for d in range(7):
        v = 18.0 if d == 4 else 6.0
        rows.append((d, dt.datetime(2024, 3, 1 + d, 10), "g", v))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    (want,) = ewma_anomalies(df, "event_type", "ts", "value").collect()

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def run_once():
        stream = st.ewma_stream(
            spark.readStream.schema(
                "event_id bigint, ts timestamp, event_type string,"
                " value double"
            ).parquet(src)
        )
        (
            # update-mode stateful op: parquet can't take update
            # directly, so append each micro-batch via foreachBatch
            stream.writeStream.foreachBatch(
                lambda bdf, _bid: bdf.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ck)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    df.filter(F.dayofmonth("ts") == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_once()
    df.filter(F.dayofmonth("ts") > 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_once()

    sink = spark.read.schema(st.EWMA_SCHEMA).parquet(out)
    last = sink.orderBy(F.col("seq").desc()).limit(1).collect()[0]
    assert last.seq == 2  # one emission per phase, counter carried
    assert last.n_days == want.n_days == 7
    assert last.final_ewma == want.final_ewma
    assert last.n_anomalies == want.n_anomalies == 1


def test_warc_stream_refresh_matches_batch(spark, tmp_path):
    # r11 crawl-refresh twin (q319): availableNow WARC stream +
    # record-id dedup must equal the batch explode + dropDuplicates
    # over the same shards
    import pandas as pd
    from pyspark.sql import functions as F

    from node_etl_spark.functions.web import (
        encode_warc_gz,
        explode_warc_records,
        http_response_bytes,
    )
    from node_etl_spark.streaming import stream as st

    def shard(urls_texts):
        return encode_warc_gz(
            [
                (
                    "response",
                    u,
                    http_response_bytes(t.encode()),
                    "application/http; msgtype=response",
                )
                for u, t in urls_texts
            ]
        )

    day1 = shard([("https://x/1", "one"), ("https://x/2", "two")])
    day2 = shard([("https://x/2", "two"), ("https://x/3", "three")])
    staged = str(tmp_path / "crawl")
    spark.createDataFrame(
        [
            (pd.Timestamp("2026-01-01").to_pydatetime(), bytearray(day1)),
            (pd.Timestamp("2026-01-02").to_pydatetime(), bytearray(day2)),
        ],
        "crawl_ts timestamp, content binary",
    ).write.parquet(staged)

    schema = "crawl_ts timestamp, content binary"
    stream_in = spark.readStream.schema(schema).parquet(staged)
    deduped = st.dedup_by_keys(
        explode_warc_records(stream_in, id_col="crawl_ts"),
        keys=["record_id"],
        ts_col="crawl_ts",
        watermark="72 hours",
    ).select("record_id", "target_uri", F.md5("body").alias("h"))
    st.run_to_memory(deduped, "warc_refresh", mode="append")
    got = {
        (r.target_uri, r.h)
        for r in spark.table("warc_refresh").collect()
    }

    batch = (
        explode_warc_records(
            spark.read.parquet(staged), id_col="crawl_ts"
        )
        .dropDuplicates(["record_id"])
        .select("target_uri", F.md5("body").alias("h"))
    )
    want = {(r.target_uri, r.h) for r in batch.collect()}
    assert got == want
    assert len(got) == 3  # the re-crawled page deduped


def test_quantile_stream_state_bounded_and_accurate(spark, tmp_path):
    import numpy as np
    from pyspark.sql import functions as F

    from node_etl_spark.streaming.stream import (
        quantile_stream,
        run_to_memory,
        stream_source,
    )

    rng = np.random.default_rng(11)
    rows = []
    for i in range(6000):
        g = "a" if i % 3 else "b"
        base = 10.0 if g == "a" else 200.0
        rows.append((i, g, float(rng.lognormal(np.log(base), 0.5))))
    df = spark.createDataFrame(
        rows, "event_id bigint, event_type string, value double"
    )
    staged = str(tmp_path / "ev")
    df.write.parquet(staged)
    src = stream_source(
        spark, staged, "event_id bigint, event_type string, value double"
    )
    run_to_memory(quantile_stream(src), "qstream_test", mode="update")
    sink = spark.table("qstream_test")
    w = __import__("pyspark.sql.window", fromlist=["Window"]).Window
    wspec = w.partitionBy("grp").orderBy(F.col("seq").desc())
    final = {
        r["grp"]: r
        for r in sink.withColumn("rn", F.row_number().over(wspec))
        .filter("rn = 1")
        .collect()
    }
    vals = {g: sorted(v for _, gg, v in rows if gg == g) for g in ("a", "b")}
    for g, r in final.items():
        assert r["n_seen"] == len(vals[g])  # no loss across batches
        for q, est in ((0.5, r["p50"]), (0.9, r["p90"])):
            rank = sum(1 for v in vals[g] if v <= est) / len(vals[g])
            assert abs(rank - q) < 0.01, (g, q, rank)


def _events_frame(n: int = 40):
    import pandas as pd

    base = pd.Timestamp("2024-01-01")
    return pd.DataFrame(
        {
            "event_id": list(range(n)),
            # sub-microsecond parts: the stream must truncate like the batch
            "ts": [base + pd.Timedelta(minutes=7 * i, nanoseconds=i * 37) for i in range(n)],
            "user_id": [i % 3 for i in range(n)],
            "event_type": ["click" if i % 2 else "view" for i in range(n)],
            "value": [float(i) for i in range(n)],
        }
    )


@pytest.mark.parametrize("layout", ["directory", "nanos_file"])
def test_replay_links_source_and_matches_batch(spark, tmp_path, monkeypatch, layout):
    # the replay stages links to the events files, not a rewritten copy:
    # with copies=2 the stream sees every row twice, exactly the batch
    # table() rows twice, and the source is untouched afterwards
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from node_etl_spark import tables
    from node_etl_spark.plans import queries as Q

    sf = tmp_path / "sf"
    sf.mkdir()
    events = sf / "events.parquet"
    frame = _events_frame()
    if layout == "directory":
        events.mkdir()
        half = len(frame) // 2
        for i, part in enumerate((frame[:half], frame[half:])):
            pq.write_table(
                pa.Table.from_pandas(part, preserve_index=False),
                str(events / f"part-{i}.parquet"),
                coerce_timestamps="us",
                allow_truncated_timestamps=True,
            )
        assert tables._nanos_columns(str(events)) == []
    else:
        pq.write_table(pa.Table.from_pandas(frame, preserve_index=False), str(events))
        assert tables._nanos_columns(str(events)) == ["ts"]
    before = {
        p: os.stat(p).st_size for p in tables.parquet_files(str(events))
    }
    staging = tmp_path / "tmp"
    staging.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(staging))

    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    sink = Q._replay_events(
        spark, str(sf), cols, lambda source: source(), mode="append",
        sink_prefix="replay_links", copies=2,
    )
    batch = Q.table(spark, str(sf), "events").select(*cols)
    got = sorted(map(tuple, sink.select(*cols).collect()))
    want = sorted(map(tuple, batch.collect())) * 2
    assert got == sorted(want)
    assert len(got) == 2 * len(frame)
    assert {p: os.stat(p).st_size for p in tables.parquet_files(str(events))} == before
    assert os.listdir(staging) == [], "staging links were left behind"


def test_replay_drain_leaves_no_sink_table(spark, sf_dir):
    # each replay drops its memory sink's view once it holds the rows:
    # repeated runs in one session add no tables, and the returned
    # frames still read the same rows
    from node_etl_spark.plans import QUERIES

    q = QUERIES["q149_stream_dedup"]
    outs = [sorted(map(tuple, q.fn(spark, sf_dir).collect())) for _ in range(3)]
    assert outs[0], "q149 returned no rows"
    assert outs[1] == outs[0] and outs[2] == outs[0]
    left = [t.name for t in spark.catalog.listTables() if t.name.startswith("q149_")]
    assert left == []
