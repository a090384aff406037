"""Structured Streaming variants of the engine's operators.

The reference has *streaming execution* (Node object streams) but only
*bounded* data — no watermarks, event-time windows, or late-data
handling (SURVEY §2.6). This module is the net-new unbounded path:

* ``stream_source``      — file-based streaming scan (parquet/json),
  the drop-in unbounded twin of the batch sources.
* ``windowed_agg``       — event-time tumbling/sliding window
  aggregation with a watermark for late data.
* ``streaming_dedup``    — exact dedup over a stream
  (``dropDuplicatesWithinWatermark`` on content fingerprint).
* ``sessionize``         — gap-based sessionization on native
  session windows (``F.session_window``), the reference's
  stateful-Thru analogue at SURVEY §2.3.
* ``route_sinks``        — ``foreachBatch`` fan-out: the streaming
  Splitter (reference job-splitter.js) — one persist, N routed sinks.

Scale notes: windowed aggs shuffle on (window, keys); state store size
is bounded by the watermark horizon; sessionize holds each user's
open sessions until the watermark passes their last event + gap.
"""

from __future__ import annotations

import contextlib
import math
from typing import Callable, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.text import normalize_text


@contextlib.contextmanager
def scaled_state_partitions(
    spark: SparkSession,
    input_bytes: int,
    floor: int = 8,
    bytes_per_partition: int = 32 * 1024 * 1024,
):
    """Pin ``spark.sql.shuffle.partitions`` to an input-size-derived
    value for the duration of a streaming query, then restore it.

    Stateful streaming disables AQE, so every stateful operator
    spawns exactly ``spark.sql.shuffle.partitions`` state-store
    instances per operator — each paying fixed per-micro-batch cost
    (store init, delta-file write, snapshot maintenance, commit)
    regardless of how little state it holds. A cluster-sized
    partition count on a small replay is therefore pure overhead:
    the guide's "fewer, larger partitions" rule (§2.2) applied to
    state stores. The count is one store per ~32 MB of staged input,
    capped at the session's configured shuffle partitions, and at
    least ``floor`` — measured 2.3x on the sf0.1 interval-join drain
    (9.2s -> 4.0s). The floor is itself capped at one task wave
    (``defaultParallelism``): stores beyond the cores add waves, not
    parallelism.
    """
    sess = int(spark.conf.get("spark.sql.shuffle.partitions"))
    wave = min(floor, spark.sparkContext.defaultParallelism)
    target = max(wave, min(sess, math.ceil(input_bytes / float(bytes_per_partition))))
    spark.conf.set("spark.sql.shuffle.partitions", str(target))
    try:
        yield target
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(sess))


def stream_source(
    spark: SparkSession,
    path: str,
    schema: str,
    fmt: str = "parquet",
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Unbounded file scan: new files under ``path`` become micro-batch
    input. Schema must be explicit (streaming reads don't infer)."""
    reader = spark.readStream.format(fmt).schema(schema)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.load(path)


def windowed_agg(
    events: DataFrame,
    ts_col: str = "ts",
    keys: Sequence[str] = ("event_type",),
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time windowed count/sum with late-data watermark.

    Decimal-exact value sum (same determinism rule as the batch
    engine). Output: window_start, window_end, keys, n_events,
    total_value.
    """
    win = (
        F.window(F.col(ts_col), window, slide) if slide else F.window(F.col(ts_col), window)
    )
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"), *[F.col(k) for k in keys])
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *keys,
            "n_events",
            "total_value",
        )
    )


def streaming_dedup(
    docs: DataFrame,
    ts_col: str = "ts",
    text_col: str = "text",
    watermark: str = "1 hour",
) -> DataFrame:
    """Exact near-real-time dedup: drop rows whose normalized-content
    fingerprint was already seen within the watermark horizon."""
    return (
        docs.withColumn("fp", F.md5(normalize_text(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["fp"])
    )


def dedup_by_keys(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """At-least-once -> exactly-once: drop re-delivered rows whose
    key was already seen within the watermark horizon (the generic
    twin of :func:`streaming_dedup`, which keys on content
    fingerprints). State per key is bounded by the watermark — Spark
    evicts entries older than it, so arbitrary-length streams hold
    only the horizon's keys."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


SESSION_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, "
    "n_events bigint, total_value double"
)


def sessionize(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    watermark: str = "1 hour",
) -> DataFrame:
    """30-min-gap sessions per user (``SESSION_SCHEMA``), on Spark's
    native session windows: an event within 30 min of its session's
    last event (inclusive, compared in exact µs) extends it, and state
    is merged and saved by the JVM operators with no Python worker.
    Append mode emits a session once the watermark reaches its last
    event + 30 min; ``session_end`` is that last event, not the window
    end."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.col(user_col).alias("user_id"),
            F.session_window(ts_col, "30 minutes").alias("w"),
        )
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .drop("w")
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    lookback: str = "30 minutes",
    watermark: str = "1 hour",
    suffix: str = "_r",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: pair each left event with right
    events of the same key that happened within ``lookback`` before it.

    Both sides carry watermarks and the join condition carries the
    time-range bound, so the state store only retains rows inside the
    watermark+lookback horizon — the bounded-state form of the
    reference's unbounded in-heap buffering. Right columns (other than
    the key) are suffixed to avoid collisions.

    ``how="leftOuter"`` additionally emits each unmatched left event
    with nulls on the right, but only once the watermark has passed
    the point where a matching right event could still arrive — the
    streaming-correct form of "no match": a left row near the head of
    the stream is withheld, not emitted-then-retracted. On a bounded
    availableNow replay the emitted set is therefore the batch left
    join RESTRICTED to left rows older than the final watermark (the
    rest never finalize) — q204's oracle states that cutoff
    explicitly, same pattern as q138's session-close watermark.
    """
    if how not in ("inner", "leftOuter"):
        raise ValueError(f"unsupported interval join type {how!r}")
    keys_eq = F.col(f"l.{on}") == F.col(f"r.{on}")
    lts, rts = F.col(f"l.{left_ts}"), F.col(f"r.{right_ts}")
    cond = (
        keys_eq
        & (rts <= lts)
        & (rts >= lts - F.expr(f"INTERVAL {lookback}"))
    )
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    joined = l.join(r, cond, how)
    lcols = [F.col(f"l.{c}") for c in left.columns]
    rcols = [
        F.col(f"r.{c}").alias(f"{c}{suffix}")
        for c in right.columns
        if c != on
    ]
    return joined.select(*lcols, *rcols)


def enrich(
    stream: DataFrame,
    vocab: DataFrame,
    on: str | Sequence[str],
    select: dict[str, str] | None = None,
) -> DataFrame:
    """Streaming Joiner: stream-static broadcast left join against a
    dimension table (the reference's vocab enrichment,
    job-joiner.js:35-102, on the unbounded path). The static side is
    re-read per micro-batch, so slowly-changing vocab files are picked
    up without restarting the query; no state store involved."""
    keys = [on] if isinstance(on, str) else list(on)
    if select is not None:
        vocab = vocab.select(
            *[F.col(k) for k in keys],
            *[F.col(src).alias(dst) for dst, src in select.items()],
        )
    return stream.join(F.broadcast(vocab), on=keys, how="left")


def route_sinks(
    stream: DataFrame,
    route_expr: str,
    sinks: Sequence[Callable[[DataFrame], None]],
    checkpoint: str,
):
    """Streaming Splitter: route each micro-batch's rows to exactly one
    sink by route index (reference job-splitter.js:116-124), one
    upstream evaluation per batch via persist."""

    def write_batch(batch: DataFrame, _batch_id: int) -> None:
        batch = batch.withColumn("__route", F.expr(route_expr)).persist()
        try:
            for i, sink in enumerate(sinks):
                sink(batch.filter(F.col("__route") == i).drop("__route"))
        finally:
            batch.unpersist()

    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


# the logical nodes a dedup-only stream is built from: deduplications
# and nodes that keep no state across micro-batches
_DEDUP_ONLY_NODES = frozenset(
    {
        "Deduplicate", "DeduplicateWithinWatermark",
        "Project", "Filter", "SubqueryAlias", "EventTimeWatermark", "Generate",
        "MapInPandas", "Union", "StreamingRelation", "StreamingRelationV2",
    }
)


def _only_dedup_state(stream: DataFrame) -> bool:
    """True when every stateful operator in ``stream``'s analysed plan
    is a deduplication. Conservative: any node outside
    ``_DEDUP_ONLY_NODES`` (aggregation, join, stateful function,
    anything unlisted) answers False."""
    plans = [stream._jdf.queryExecution().analyzed()]
    while plans:
        p = plans.pop()
        if p.nodeName() not in _DEDUP_ONLY_NODES:
            return False
        children = p.children()
        plans.extend(children.apply(i) for i in range(children.size()))
    return True


def run_to_memory(stream: DataFrame, name: str, mode: str = "append"):
    """Drain an availableNow stream into an in-memory table.

    Once the input is consumed, Spark runs one more micro-batch without
    input if the watermark moved, so stateful operators can finalise:
    sessionize's closed sessions, outer interval joins' unmatched rows
    and append-mode window aggregations emit there. A deduplication emits
    each row when it arrives, so for it that batch only evicts state.
    When every stateful operator in the plan is a deduplication, the
    query runs with ``spark.sql.streaming.noDataMicroBatches.enabled``
    off (restored afterwards) and finishes in one batch per input batch.
    """
    conf = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark = stream.sparkSession
    before = spark.conf.get(conf)
    if _only_dedup_state(stream):
        spark.conf.set(conf, "false")
    try:
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set(conf, before)
    return q


def upsert_sink(
    stream: DataFrame,
    path: str,
    keys: Sequence[str],
    order_col: str | None = None,
    partition_by: Sequence[str] | None = None,
    checkpoint: str = "",
):
    """Streaming upsert: each micro-batch merges into the parquet
    dataset at ``path`` by key (last-write-wins; sources/upsert.py).
    The streaming face of the reference's last-row-per-key Reducer
    merge (examples/bor-dwc.js:600-608) — a CDC-style sink: late
    re-deliveries of a key replace, never duplicate.

    Per batch cost = one merge shuffle over (batch + affected
    partitions); with ``partition_by`` on an event-date column only
    the touched partitions rewrite, which is what keeps this viable
    on a 100 TB target table."""
    from ..sources.upsert import upsert_parquet

    def write_batch(batch: DataFrame, _batch_id: int) -> None:
        upsert_parquet(
            batch.sparkSession,
            path,
            batch,
            keys=list(keys),
            order_col=order_col,
            partition_by=list(partition_by) if partition_by else None,
        )

    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def bitmap_state_sink(
    stream: DataFrame,
    path: str,
    id_col: str = "user_id",
    ts_col: str = "ts",
    checkpoint: str = "",
):
    """Incremental maintenance of EXACT-distinct bitmap state from a
    stream — the unbounded face of the q124 rollup (and the exact
    twin of a streaming HLL pipeline).

    Each micro-batch is aggregated to per-(day, bucket) bitmap deltas
    (``bitmap_construct_agg``), OR-merged with the existing state rows
    for the touched keys, and upserted. The state table at ``path``
    holds one bitmap per (day, bucket) forever; any ad-hoc range
    rollup (``bitmap_state_rollup``) reads state only — never the raw
    event history.

    Per-batch cost is O(batch + touched state rows): the merge reads
    back only days present in the batch (partition pruning on the
    date-partitioned state), and re-delivered ids are absorbed by the
    OR — exactly-once distinct counts without exactly-once delivery.
    """
    from ..sources.upsert import _exists, upsert_parquet

    def write_batch(batch: DataFrame, _batch_id: int) -> None:
        spark = batch.sparkSession
        delta = (
            batch.select(
                F.date_format(ts_col, "yyyy-MM-dd").alias("day"),
                F.bitmap_bucket_number(id_col).alias("bucket"),
                F.bitmap_bit_position(id_col).alias("pos"),
            )
            .groupBy("day", "bucket")
            .agg(F.bitmap_construct_agg("pos").alias("bm"))
        )
        # existence is checked explicitly (not a bare except around the
        # read): a transient read failure must PROPAGATE and fail the
        # batch, or the delta would be upserted without OR-merging prior
        # state — silently losing accumulated distinct ids
        state = spark.read.parquet(path) if _exists(path) else None
        if state is not None:
            days = [r.day for r in delta.select("day").distinct().collect()]
            touched = state.filter(F.col("day").isin(days))
            delta = (
                touched.unionByName(delta)
                .groupBy("day", "bucket")
                .agg(F.bitmap_or_agg("bm").alias("bm"))
            )
        upsert_parquet(
            spark,
            path,
            delta,
            keys=["day", "bucket"],
            partition_by=["day"],
        )

    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def bitmap_state_rollup(spark: SparkSession, path: str) -> DataFrame:
    """Weekly exact distinct counts from bitmap state only (no event
    rescan): OR-merge the per-day bitmaps, count bits."""
    state = spark.read.parquet(path)
    weekly = (
        state.groupBy(
            F.weekofyear(F.to_date("day")).alias("week"), F.col("bucket")
        )
        .agg(F.bitmap_or_agg("bm").alias("bm"))
    )
    return (
        weekly.groupBy("week")
        .agg(F.sum(F.bitmap_count("bm")).cast("bigint").alias("distinct_users"))
        .orderBy("week")
    )


# --------------------------------------------------------------------
# Streaming EWMA anomaly walk (stateful twin of batch ewma_anomalies)
# --------------------------------------------------------------------

EWMA_SCHEMA = (
    "grp string, n_days bigint, final_ewma double, n_anomalies bigint,"
    " seq bigint"
)
_EWMA_STATE_SCHEMA = (
    "s bigint, na bigint, nd bigint, last_day int, pending string,"
    " seq bigint, seeded boolean"
)


def _ewma_fn(key: tuple, pdf_iter, state: GroupState):
    """Integer EWMA walk state function (applyInPandasWithState):
    per micro-batch, fold the batch's daily micro-totals into the
    carried (level, anomaly-count) state in day order — the SAME
    s' = (v + 3s + 2) // 4 BIGINT walk as the batch operator, so
    the stream's final state must equal the batch answer exactly.

    Each batch's days merge with a carried partial day (``pending``
    holds the latest day's still-open total as "day:vm"); days are
    assumed batch-ordered (the availableNow replay delivers them
    so), the realistic contract for an ops monitor fed by an
    ordered log.
    """
    import json as _json

    rows = pd.concat(list(pdf_iter), ignore_index=True)
    day = rows["ts"].dt.floor("D").astype("int64") // 86_400_000_000_000
    vm = (rows["value"].astype("float64") * 1e6).round().astype("int64")
    daily = (
        pd.DataFrame({"day": day, "vm": vm})
        .groupby("day", sort=True)["vm"]
        .sum()
    )
    if state.exists:
        s, na, nd, last_day, pending, seq, seeded = state.get
        # an explicit seeded flag (not a level-value sentinel) marks
        # "walk not seeded yet": a sentinel like -1 would collide with
        # a legitimate level of -1 micro-units when event values can
        # be negative, silently resetting the walk and breaking
        # stream/batch parity
        s = int(s) if seeded else None
        pend = _json.loads(pending)
    else:
        s, na, nd, last_day, pend, seq = None, 0, 0, -1, None, 0
    seq += 1
    items = list(daily.items())
    for d, v in items:
        d, v = int(d), int(v)
        if pend is not None and d == pend[0]:
            pend[1] += v
            continue
        if pend is not None:
            # close the pending day into the walk
            if s is None:
                s = pend[1]
            else:
                if pend[1] > 2 * s or 2 * pend[1] < s:
                    na += 1
                s = (pend[1] + 3 * s + 2) // 4
            nd += 1
        pend = [d, v]
    state.update(
        (
            0 if s is None else int(s),
            int(na),
            int(nd),
            int(pend[0]) if pend else -1,
            _json.dumps(pend),
            int(seq),
            s is not None,
        )
    )
    # emit the walk AS IF the pending day closed now (complete-state
    # semantics for the read side)
    fs, fna, fnd = s, na, nd
    if pend is not None:
        if fs is None:
            fs = pend[1]
        else:
            if pend[1] > 2 * fs or 2 * pend[1] < fs:
                fna += 1
            fs = (pend[1] + 3 * fs + 2) // 4
        fnd += 1
    # seq is a per-group emission counter: a later micro-batch that
    # only extends the still-pending day emits the SAME n_days with a
    # different walk value, so the read side needs a monotonic key to
    # pick the freshest row deterministically (order by seq, not just
    # n_days)
    yield pd.DataFrame(
        {
            "grp": [key[0]],
            "n_days": [fnd],
            "final_ewma": [float(fs) / 1e6 if fs is not None else None],
            "n_anomalies": [fna],
            "seq": [int(seq)],
        }
    )


def ewma_stream(events: DataFrame) -> DataFrame:
    """Streaming EWMA anomaly monitor over (event_type, ts, value):
    the custom-stateful twin of the batch ``ewma_anomalies`` — same
    integer walk, carried in GroupState across micro-batches."""
    return events.groupBy("event_type").applyInPandasWithState(
        _ewma_fn,
        outputStructType=EWMA_SCHEMA,
        stateStructType=_EWMA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ------------------------------------------------- streaming quantiles

_QDIGEST_SCHEMA = (
    "grp string, n_seen bigint, p50 double, p90 double, seq int"
)
_QDIGEST_STATE_SCHEMA = "cjson string, n bigint, seq int"


def _qdigest_fn(key: tuple, pdf_iter, state: GroupState):
    """Streaming t-digest state function (applyInPandasWithState):
    the carried state is the digest's centroid list (a few KB of
    JSON — the mergeable-sketch contract means the state never grows
    with the stream). Each micro-batch SORTS its values before
    digesting, so the fold is insensitive to row arrival order
    within the batch and the final state is a pure function of
    (batch partitioning, values) — what lets q335 pin the stream's
    estimates against batch-exact quantiles on the gate."""
    import json as _json

    from ..functions.sketch import (
        _td_compress,
        tdigest_merge,
        tdigest_quantile,
    )

    rows = pd.concat(list(pdf_iter), ignore_index=True)
    vals = pd.to_numeric(rows["value"], errors="coerce").dropna()
    if state.exists:
        cjson, n, seq = state.get
        cents = [tuple(c) for c in _json.loads(cjson)]
    else:
        cents, n, seq = [], 0, 0
    batch = _td_compress(
        [(float(v), 1.0) for v in sorted(vals)], 100
    )
    cents = tdigest_merge(cents + batch, 100)
    n = int(n) + int(len(vals))
    seq = int(seq) + 1
    state.update((_json.dumps([list(c) for c in cents]), n, seq))
    yield pd.DataFrame(
        {
            "grp": [key[0]],
            "n_seen": [n],
            "p50": [tdigest_quantile(cents, 0.5)],
            "p90": [tdigest_quantile(cents, 0.9)],
            "seq": [seq],
        }
    )


def quantile_stream(events: DataFrame) -> DataFrame:
    """Streaming per-group quantile monitor over (event_type, value):
    a t-digest per key carried in GroupState across micro-batches —
    the unbounded twin of functions/sketch.py tdigest_group_quantiles.
    State is O(delta) centroids per key forever; emissions carry a
    monotonic seq so readers pick the freshest row."""
    return events.groupBy("event_type").applyInPandasWithState(
        _qdigest_fn,
        outputStructType=_QDIGEST_SCHEMA,
        stateStructType=_QDIGEST_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
