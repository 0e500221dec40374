"""2.I — streaming semantics, declared as their batch event-time
equivalents on `events` (the driver oracle is batch DuckDB).

The streaming forms run behind the same functions via a file stream +
availableNow trigger in tests/test_streaming.py, which asserts
stream≡batch. Watermarking/late-data policy is a config of the
streaming form; the batch equivalents are exact by construction
(SURVEY §2.I).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..dsl import dsum
from ..registry import register, table
from ..stream import order_feed, publish_marker, read_feed, run_available_now

SQL_VSUM = "sum(CAST(round(value*10000) AS BIGINT))/10000.0"


def tumbling_agg(e: DataFrame) -> DataFrame:
    """1h tumbling counts/sums per event_type (shared batch/stream)."""
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("value"), 10000).alias("sum_value"),
        )
        .select(F.col("w.start").alias("ws"), "event_type", "n", "sum_value")
    )


@register(
    "stream_tumbling_window",
    oracle=f"""
        SELECT date_trunc('hour', ts) AS ws, event_type,
               count(*) AS n, {SQL_VSUM} AS sum_value
        FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling_window(spark, sf_dir):
    return tumbling_agg(table(spark, sf_dir, "events"))


def sliding_agg(e: DataFrame) -> DataFrame:
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("value"), 10000).alias("sum_value"),
        )
        .select(F.col("w.start").alias("ws"), "event_type", "n", "sum_value")
    )


@register(
    "stream_sliding_window",
    oracle=f"""
        SELECT time_bucket(INTERVAL '15 minutes', ts)
                 - (t.i * INTERVAL '15 minutes') AS ws,
               event_type,
               count(*) AS n, {SQL_VSUM} AS sum_value
        FROM events, range(4) t(i)
        GROUP BY 1, 2
    """,
)
def stream_sliding_window(spark, sf_dir):
    """1h window sliding every 15min: each event lands in exactly 4
    windows; the oracle enumerates them via the range(4) trick
    (SURVEY §2.I — DuckDB 1.0 lacks Spark's window() generator)."""
    return sliding_agg(table(spark, sf_dir, "events"))


def session_agg(e: DataFrame) -> DataFrame:
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), 10000).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "stream_session_window",
    oracle=f"""
        WITH flagged AS (
          SELECT user_id, ts, event_id, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
          -- (ts, event_id) tiebreak: a ROWS frame over ts alone would
          -- order same-ts peers arbitrarily and could split them across
          -- sessions nondeterministically
          SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS sid
          FROM flagged
        )
        SELECT user_id,
               min(ts) AS session_start,
               max(ts) + INTERVAL 30 MINUTE AS session_end,
               count(*) AS n_events, {SQL_VSUM} AS sum_value
        FROM sess GROUP BY user_id, sid
    """,
)
def stream_session_window(spark, sf_dir):
    """Per-user sessions with a 30min gap. Spark session_window ends at
    last_event + gap and MERGES an event arriving exactly at that end
    (boundary-inclusive — verified empirically on 4.1.2: two events
    exactly 30 min apart form ONE session), so a new session starts
    only when the inter-event gap is STRICTLY greater than the gap
    duration; the gaps-and-islands oracle mirrors both choices
    (round-4 review: the earlier >= spelling was a latent off-by-one
    the fixture never hit)."""
    return session_agg(table(spark, sf_dir, "events"))


def dedup_by_id(e: DataFrame) -> DataFrame:
    return e.dropDuplicates(["event_id"]).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


@register(
    "stream_watermark_dedup",
    oracle="SELECT event_id, ts, user_id, event_type, value, props FROM events",
)
def stream_watermark_dedup(spark, sf_dir):
    """Exactly-once by event_id. The streaming form adds
    withWatermark('ts','1 hour') so state is bounded; the batch
    equivalent on dupe-free input is the identity (FIXTURES.md)."""
    return dedup_by_id(table(spark, sf_dir, "events"))


def stateful_counts(e: DataFrame) -> DataFrame:
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value"), 10000).alias("sum_value"),
    )


@register(
    "stream_stateful_counts",
    oracle=f"""
        SELECT user_id, count(*) AS n_events, {SQL_VSUM} AS sum_value
        FROM events GROUP BY user_id
    """,
)
def stream_stateful_counts(spark, sf_dir):
    """Running per-user counts (update-mode streaming agg; batch form
    is the final state)."""
    return stateful_counts(table(spark, sf_dir, "events"))


@register(
    "stream_late_data_policy",
    oracle="""
        SELECT event_id, ts, user_id, event_type
        FROM events
        WHERE ts >= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
    """,
)
def stream_late_data_policy(spark, sf_dir):
    """Watermark horizon semantics as a batch query: only events within
    1h of the max event time survive (what a 1h watermark would admit
    at end-of-stream). The streaming drop behavior is exercised in
    tests/test_streaming.py with an out-of-order feed."""
    e = table(spark, sf_dir, "events")
    horizon = e.agg(
        (F.max("ts") - F.expr("INTERVAL 1 HOUR")).alias("h")
    )
    return (
        e.join(F.broadcast(horizon))
        .filter(F.col("ts") >= F.col("h"))
        .select("event_id", "ts", "user_id", "event_type")
    )


# --- custom stateful operator: applyInPandasWithState -----------------------

ACTIVITY_OUT_SCHEMA = (
    "user_id long, n_events long, first_ts timestamp, "
    "last_ts timestamp, max_gap_us long"
)
ACTIVITY_STATE_SCHEMA = "n long, first_us long, last_us long, max_gap_us long"


def user_activity_agg(e: DataFrame) -> DataFrame:
    """Batch twin of the custom stateful op: per-user event count,
    first/last event time, and the maximum gap between consecutive
    events in microseconds (NULL for single-event users). This is the
    semantics session_window cannot express (it buckets, it doesn't
    expose the extreme inter-arrival gap)."""
    from pyspark.sql import Window

    us = F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = e.withColumn("us", us).withColumn(
        "gap_us", F.col("us") - F.lag("us").over(w)
    )
    return g.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.max("gap_us").alias("max_gap_us"),
    )


def user_activity_stateful(stream: DataFrame) -> DataFrame:
    """Streaming form via applyInPandasWithState: per-user GroupState
    holds (n, first_us, last_us, max_gap_us); each micro-batch folds
    its (in-order) rows into the state and emits the updated snapshot.

    At scale this is the canonical arbitrary-state pattern: state is
    O(1) per key, partitioned by user_id, checkpointed by the state
    store; no per-key buffering of raw events.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    def fold(key, pdfs, state):
        if state.exists:
            n, first_us, last_us, max_gap = state.get
        else:
            n, first_us, last_us, max_gap = 0, None, None, None
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            us = (pdf["ts"].astype("int64") // 1000).tolist()
            for u in us:
                if last_us is not None:
                    gap = u - last_us
                    if max_gap is None or gap > max_gap:
                        max_gap = gap
                if first_us is None or u < first_us:
                    first_us = u
                last_us = u
                n += 1
        state.update((n, first_us, last_us, max_gap))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "first_ts": [pd.Timestamp(first_us, unit="us")],
                "last_ts": [pd.Timestamp(last_us, unit="us")],
                "max_gap_us": [max_gap],
            }
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        fold,
        ACTIVITY_OUT_SCHEMA,
        ACTIVITY_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


@register(
    "stream_custom_state",
    oracle="""
        WITH g AS (
          SELECT user_id, ts, event_id,
                 epoch_ns(ts)//1000
                   - lag(epoch_ns(ts)//1000) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                     ) AS gap_us
          FROM events
        )
        SELECT user_id, count(*) AS n_events,
               min(ts) AS first_ts, max(ts) AS last_ts,
               max(gap_us) AS max_gap_us
        FROM g GROUP BY user_id
    """,
)
def stream_custom_state(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState),
    declared as its batch twin; stream≡batch is proven in
    tests/test_streaming.py over a chunked in-order feed."""
    return user_activity_agg(table(spark, sf_dir, "events"))


# --- stream-stream join ------------------------------------------------------


def click_purchase_join(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Attribution join shared by batch and streaming: each click joined
    to same-user purchases within the following hour. In streaming both
    sides carry watermarks and the time-band condition bounds the join
    state (Structured Streaming drops buffered rows once the watermark
    passes the band) — without the band the state would grow forever.
    """
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return (
        c.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")
            ),
        )
        .select(
            "click_id", "user_id", "purchase_id",
            "click_ts", "purchase_ts", "purchase_value",
        )
    )


@register(
    "stream_stream_join",
    oracle="""
        SELECT c.event_id AS click_id, c.user_id, p.event_id AS purchase_id,
               c.ts AS click_ts, p.ts AS purchase_ts, p.value AS purchase_value
        FROM events c JOIN events p
          ON c.user_id = p.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
)
def stream_stream_join(spark, sf_dir):
    """Stream-stream inner join declared as its batch twin;
    tests/test_streaming.py runs the same function over two watermarked
    file streams and asserts equality."""
    e = table(spark, sf_dir, "events")
    return click_purchase_join(
        e.filter(F.col("event_type") == "click"),
        e.filter(F.col("event_type") == "purchase"),
    )


def static_enrich(events_df: DataFrame, customers: DataFrame) -> DataFrame:
    """Stream-static enrichment (shared batch/stream): each event joined
    to the broadcast customer dim — no state, no watermark needed; the
    static side is re-broadcast per micro-batch, which is why dims must
    stay broadcast-sized (or become a slowly-changing stream-stream
    join instead)."""
    dim = customers.select(
        F.col("c_custkey").alias("user_id"), "c_name", "c_mktsegment"
    )
    return events_df.join(F.broadcast(dim), "user_id").select(
        "event_id", "user_id", "event_type", "c_name", "c_mktsegment"
    )


@register(
    "stream_static_join",
    oracle="""
        SELECT e.event_id, e.user_id, e.event_type, c.c_name, c.c_mktsegment
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def stream_static_join(spark, sf_dir):
    """Stream-static join declared as its batch twin; the streaming
    form runs in tests/test_streaming.py."""
    return static_enrich(
        table(spark, sf_dir, "events"), table(spark, sf_dir, "customer")
    )


@register(
    "stream_dedup_within_watermark",
    oracle="SELECT event_id, user_id, event_type, value FROM events",
)
def stream_dedup_within_watermark(spark, sf_dir):
    """Bounded-state streaming dedup via Spark 4's
    ``dropDuplicatesWithinWatermark`` (VERDICT r3 item 6) — the API a
    real exactly-once 100 TB pipeline uses instead of classic
    ``dropDuplicates``: state for a key is guaranteed evictable once
    the watermark passes the key's event time + delay, so state size
    is bounded by the delay window, not the key cardinality of the
    whole stream. (Classic dropDuplicates keeps every key forever
    unless the watermark column itself is part of the key.)

    Run end-to-end in-op like the other e2e streams: events written
    TWICE to a file source (exact duplicate feed) → availableNow
    stream → withWatermark(1h) + dropDuplicatesWithinWatermark →
    checkpointed parquet sink → read-back. All files land in one
    micro-batch (file-source availableNow default), so every
    duplicate is within the live window and exactly one row per
    event_id survives — the oracle is the clean events table. The
    state-EVICTION half of the contract (a duplicate arriving after
    the watermark passed its window is emitted again) needs a
    multi-batch feed and is proven in
    tests/test_streaming.py::test_dedup_within_watermark_evicts_state.
    """
    from ..registry import scratch_dir
    from ..schemas import EVENTS_STREAM_SCHEMA

    e = table(spark, sf_dir, "events")
    base = scratch_dir("stream_dedup_within_watermark")
    src, sink, ckpt = f"{base}/src", f"{base}/sink", f"{base}/ckpt"
    sel = e.select("event_id", "ts", "user_id", "event_type", "value", "props")
    sel.write.mode("overwrite").parquet(src)
    sel.write.mode("append").parquet(src)  # exact duplicate feed

    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .parquet(src)
        # watermark needs an instant; NTZ→LTZ is a wall-clock no-op
        # under the UTC session timezone
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    run_available_now(
        stream.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt),
        "stream_dedup_within_watermark",
        300,
    )
    return spark.read.parquet(sink).select(
        "event_id", "user_id", "event_type", "value"
    )


@register(
    "stream_state_store_read",
    oracle="SELECT user_id, count(*) AS n FROM events GROUP BY user_id",
)
def stream_state_store_read(spark, sf_dir):
    """State Store Data Source reader (Spark 4 ops/debugging surface):
    run a stateful streaming aggregation to a checkpoint, then read
    the operator's STATE directly with
    ``spark.read.format("statestore").load(checkpoint)`` — the tool a
    production team uses to inspect/repair streaming state without
    replaying the stream (state corruption triage, watermark
    debugging, state-size audits). The state of a running-count
    aggregation IS the per-key count, so the oracle is the plain
    batch GROUP BY — a value-hash proof that the store holds exactly
    the state the stream claims. Reads are partition-parallel (one
    task per state-store shard), so the inspection itself scales."""
    from ..registry import scratch_dir
    from ..schemas import EVENTS_STREAM_SCHEMA

    e = table(spark, sf_dir, "events")
    base = scratch_dir("stream_state_store_read")
    src, ckpt = f"{base}/src", f"{base}/ckpt"
    e.select("event_id", "ts", "user_id", "event_type", "value", "props").write.parquet(src)

    stream = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(src)
    agg = stream.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    run_available_now(
        agg.writeStream.format("memory")
        .queryName("engine_state_store_read")
        .outputMode("complete")
        .option("checkpointLocation", ckpt),
        "stream_state_store_read",
        300,
    )
    return (
        spark.read.format("statestore")
        .load(ckpt)
        .select(
            F.col("key.user_id").alias("user_id"),
            F.col("value.count").alias("n"),
        )
    )


@register(
    "stream_rocksdb_state",
    oracle=f"""
        SELECT user_id, count(*) AS n_events, {SQL_VSUM} AS sum_value
        FROM events GROUP BY user_id
    """,
)
def stream_rocksdb_state(spark, sf_dir):
    """Stateful streaming aggregation on the RocksDB state store
    provider — the state backend that makes 100 TB streaming state
    real: the default HDFSBackedStateStoreProvider keeps every key in
    executor HEAP (state size is bounded by cluster memory), while
    RocksDB spills to local SSD with changelog checkpointing, so
    per-executor state is bounded by disk. Same per-user counts/sums
    as stream_stateful_counts; the oracle proves the backend swap is
    semantically invisible. Provider + changelog confs are scoped to
    this op and restored after."""
    from ..registry import scratch_dir
    from ..schemas import EVENTS_STREAM_SCHEMA

    e = table(spark, sf_dir, "events")
    base = scratch_dir("stream_rocksdb_state")
    src, ckpt = f"{base}/src", f"{base}/ckpt"
    e.select("event_id", "ts", "user_id", "event_type", "value", "props").write.parquet(src)

    from ..session import scoped_confs

    with scoped_confs(
        spark,
        **{
            "spark.sql.streaming.stateStore.providerClass": (
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider"
            ),
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled": "true",
        },
    ):
        stream = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(src)
        agg = stateful_counts(stream)
        run_available_now(
            agg.writeStream.format("memory")
            .queryName("engine_rocksdb_state")
            .outputMode("complete")
            .option("checkpointLocation", ckpt),
            "stream_rocksdb_state",
            300,
        )
        # memory sink is session-lived; copy out so the conf restore
        # can't race a lazy re-read
        return spark.table("engine_rocksdb_state").localCheckpoint(eager=True)


@register(
    "stream_progress_metrics",
    oracle="SELECT count(*) AS total_input_rows FROM events",
)
def stream_progress_metrics(spark, sf_dir):
    """Streaming observability surface: StreamingQueryProgress is the
    per-micro-batch telemetry a production job exports (input rows,
    batch durations, state rows, watermark) to its metrics system.
    The op runs a checkpointed availableNow pass and returns the
    TOTAL numInputRows accumulated across every progress event; the
    oracle is the plain table count, so a progress report that drops
    or double-counts a micro-batch is a value-hash failure — the
    metrics pipeline is verified, not just exercised.

    recentProgress only RETAINS the last
    spark.sql.streaming.numRecentProgressUpdates entries (default
    100) — a run splitting into more micro-batches would silently
    undercount (round-4 review finding), so the retention is raised
    far above any plausible batch count for the op's scope and
    restored after; a production exporter would use a
    StreamingQueryListener instead of polling recentProgress."""
    from ..registry import scratch_dir
    from ..schemas import EVENTS_STREAM_SCHEMA

    e = table(spark, sf_dir, "events")
    base = scratch_dir("stream_progress_metrics")
    src, ckpt = f"{base}/src", f"{base}/ckpt"
    e.select("event_id", "ts", "user_id", "event_type", "value", "props").write.parquet(src)

    from ..session import scoped_confs

    with scoped_confs(
        spark, **{"spark.sql.streaming.numRecentProgressUpdates": "100000"}
    ):
        stream = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(src)
        q = run_available_now(
            stream.writeStream.format("noop")
            .option("checkpointLocation", ckpt),
            "stream_progress_metrics",
            300,
        )
        total = sum(p["numInputRows"] for p in q.recentProgress)
    return spark.createDataFrame([(total,)], "total_input_rows long")


def click_purchase_left_join(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """LEFT OUTER attribution join shared by batch and streaming:
    every click survives; purchases within the following hour attach,
    unconverted clicks carry NULLs. The streaming form is the subtle
    half of the stream-stream join surface: an unmatched left row can
    only be EMITTED (with nulls) once the watermark proves no
    matching right row can still arrive — i.e. null-extension is
    watermark-driven state eviction, not a per-batch outer join
    (tests/test_streaming.py::test_stream_stream_left_join_equals_batch
    proves the flush with a sentinel-advanced watermark)."""
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return c.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "leftOuter",
    ).select(
        "click_id", "user_id", "purchase_id",
        "click_ts", "purchase_ts", "purchase_value",
    )


@register(
    "stream_stream_left_join",
    oracle="""
        SELECT c.event_id AS click_id, c.user_id, p.event_id AS purchase_id,
               c.ts AS click_ts, p.ts AS purchase_ts, p.value AS purchase_value
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
)
def stream_stream_left_join(spark, sf_dir):
    """LEFT OUTER stream-stream join declared as its batch twin (see
    click_purchase_left_join for the watermark-driven null-emission
    semantics the streaming test pins)."""
    e = table(spark, sf_dir, "events")
    return click_purchase_left_join(
        e.filter(F.col("event_type") == "click"),
        e.filter(F.col("event_type") == "purchase"),
    )


@register(
    "stream_session_window_dynamic",
    oracle="""
        WITH g AS (
          SELECT user_id, ts,
                 ts + CASE WHEN event_type = 'click'
                           THEN INTERVAL 30 MINUTE
                           ELSE INTERVAL 1 HOUR END AS pend
          FROM events
        ), m AS (
          SELECT user_id, ts, pend,
                 max(pend) OVER (PARTITION BY user_id ORDER BY ts, pend
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING) AS prev_max
          FROM g
        ), s AS (
          SELECT user_id, ts, pend,
                 CAST(sum(CASE WHEN prev_max IS NULL OR ts > prev_max
                               THEN 1 ELSE 0 END)
                      OVER (PARTITION BY user_id ORDER BY ts, pend
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
          FROM m
        )
        SELECT user_id,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               strftime(max(pend), '%Y-%m-%d %H:%M:%S') AS session_end,
               count(*) AS n_events
        FROM s GROUP BY user_id, sid
    """,
)
def stream_session_window_dynamic(spark, sf_dir):
    """Session windows with a DYNAMIC, per-event gap —
    ``session_window(ts, CASE ...)`` (Spark 3.2+, a surface DuckDB has
    no native analogue for): engaged users (clicks) time out after
    30 min, passive events after 1 h. Each event extends its session
    to ts+gap(event); overlapping extents merge. The oracle restates
    the merge as a running-max-of-ends islands construction — new
    session iff ts STRICTLY exceeds max(previous ends) — which is the
    exact batch semantics of Spark's interval-union session assignment
    (boundary-INCLUSIVE: an event at exactly a session's end merges
    into it, verified live and pinned by
    test_session_window_boundary_is_inclusive; tie-order-insensitive:
    an equal-ts event always lands in its twin's session). Streaming form carries
    the same expression over a watermarked stream; state per key is
    one open session extent, the same bound as fixed-gap sessions."""
    e = table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    gap = (
        F.when(F.col("event_type") == "click", F.lit("30 minutes"))
        .otherwise(F.lit("1 hour"))
    )
    return (
        e.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
    )


@register(
    "stream_stream_full_join",
    oracle="""
        SELECT c.event_id AS click_id, c.user_id AS click_user,
               p.event_id AS purchase_id, p.user_id AS purchase_user,
               c.ts AS click_ts, p.ts AS purchase_ts, p.value AS purchase_value
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
)
def stream_stream_full_join(spark, sf_dir):
    """FULL OUTER stream-stream join — both unmatched sides null-extend
    (unconverted clicks AND spontaneous purchases survive), each leg
    emitted only once its side's watermark proves no counterpart can
    still arrive. State bounds are the same band as the inner/left
    variants; the batch twin keeps both user_id columns (they differ
    on null-extended rows, so coalescing them would lose which side
    matched). The streaming form runs the SAME
    click_purchase_full_join over two watermarked streams in
    tests/test_streaming.py (the right-side null-extension path is
    the half the left variant cannot exercise)."""
    e = table(spark, sf_dir, "events")
    return click_purchase_full_join(
        e.filter(F.col("event_type") == "click"),
        e.filter(F.col("event_type") == "purchase"),
    )


@register(
    "stream_stream_right_join",
    oracle="""
        SELECT c.event_id AS click_id, p.user_id, p.event_id AS purchase_id,
               c.ts AS click_ts, p.ts AS purchase_ts, p.value AS purchase_value
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        RIGHT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
)
def stream_stream_right_join(spark, sf_dir):
    """RIGHT OUTER stream-stream join — the mirror of the left variant
    and the last member of the outer-join family (inner/left/full
    already registered): every purchase survives, an attributable
    click within the preceding hour attaches, spontaneous purchases
    null-extend on the click side once the click-side watermark proves
    no click can still arrive. user_id is taken from the PURCHASE side
    (always non-null — the surviving side), mirroring the left variant
    which keeps the click-side key. Streaming form runs the same
    function over two watermarked streams in tests/test_streaming.py."""
    e = table(spark, sf_dir, "events")
    return click_purchase_right_join(
        e.filter(F.col("event_type") == "click"),
        e.filter(F.col("event_type") == "purchase"),
    )


def click_purchase_right_join(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Shared batch/stream RIGHT OUTER attribution join (see
    stream_stream_right_join)."""
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "rightOuter",
    ).select(
        "click_id",
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )


def click_purchase_full_join(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Shared batch/stream FULL OUTER attribution join (see
    stream_stream_full_join)."""
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("purchase_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return c.join(
        p,
        (F.col("click_user") == F.col("purchase_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "fullOuter",
    ).select(
        "click_id", "click_user", "purchase_id", "purchase_user",
        "click_ts", "purchase_ts", "purchase_value",
    )


# --- chained stateful operators in ONE streaming query -----------------------


def enrich_window_agg(deduped: DataFrame, customers: DataFrame) -> DataFrame:
    """Shared tail of the chained pipeline (batch and stream): broadcast
    enrich to the customer dim, then 1h tumbling counts/sums per market
    segment. The enrich is stateless (re-broadcast per micro-batch);
    the tumbling agg is the second STATEFUL stage after dedup."""
    dim = customers.select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return (
        deduped.join(F.broadcast(dim), "user_id")
        .groupBy(F.window("ts", "1 hour").alias("w"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("value"), 10000).alias("sum_value"),
        )
        .select(F.col("w.start").alias("ws"), "c_mktsegment", "n", "sum_value")
    )


@register(
    "stream_chained_stateful_e2e",
    oracle=f"""
        SELECT date_trunc('hour', e.ts) AS ws, c.c_mktsegment,
               count(*) AS n, {SQL_VSUM} AS sum_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1, 2
    """,
)
def stream_chained_stateful_e2e(spark, sf_dir):
    """TWO chained stateful operators in ONE streaming query — the
    production analytics-tier shape (VERDICT r4 item 1) the engine had
    only demonstrated piecewise: exactly-once dedup
    (``dropDuplicatesWithinWatermark``) → stream-static broadcast
    enrich → 1h tumbling aggregation per market segment → checkpointed
    append-mode parquet sink. Spark 3.4+ propagates the watermark
    across stateful stages, so the windowed agg finalizes windows
    against the dedup-delayed watermark, not the raw source watermark.

    Feed: the events table written as THREE files processed one per
    micro-batch (`stream.order_feed`, `stream.read_feed`) — originals,
    then an EXACT DUPLICATE copy (cross-batch dedup state must
    suppress all of it), then two far-future sentinel rows whose
    watermark advance flushes every real window out of the append agg
    (two sentinel batches: the watermark computed at the end of one
    batch takes effect in the next). The sentinel user_id (-1) joins
    to no customer, so it advances the watermark without polluting
    the aggregate. The oracle is the composed batch twin on the clean
    events table: dedup(duplicated feed) ≡ events, enrich+window is
    the same expression. A duplicate that survived dedup, a window
    emitted twice, or a window lost at the sink is a value-hash
    failure. tests/test_streaming.py proves the same composition over
    an out-of-order chunked feed equals the batch form.

    Scale shape: dedup state is keyed by event_id and bounded by the
    watermark delay; agg state is one row per (window, segment);
    enrich is a broadcast — no shuffle of the stream beyond the two
    stateful exchanges."""
    import pandas as pd

    from ..registry import scratch_dir
    from ..schemas import EVENTS_STREAM_SCHEMA

    e = table(spark, sf_dir, "events")
    base = scratch_dir("stream_chained_stateful_e2e")
    src, sink, ckpt = f"{base}/src", f"{base}/sink", f"{base}/ckpt"
    os.makedirs(src)

    pdf = e.select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    ).toPandas()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    far = pdf["ts"].max() + pd.Timedelta(days=90)
    feeds = [("a_originals", pdf), ("b_duplicates", pdf)]
    for i in range(2):
        s = pd.DataFrame(
            {
                "event_id": [10**12 + i],
                "ts": [far + pd.Timedelta(hours=i)],
                "user_id": [-1],
                "event_type": ["view"],
                "value": [0.0],
                "props": ["{}"],
            }
        )
        s["ts"] = s["ts"].astype("datetime64[us]")
        feeds.append((f"c_sentinel_{i}", s))
    paths = [f"{src}/{nm}.parquet" for nm, _f in feeds]
    for p, (_nm, f) in zip(paths, feeds):
        f.to_parquet(p, index=False)
    order_feed(paths)

    from ..session import scoped_confs

    # state-store partition count is frozen into the checkpoint at the
    # first batch from spark.sql.shuffle.partitions; 8 is sized for
    # this rig's data (two stateful operators commit one state file
    # per partition per micro-batch — at 32 the commit overhead is
    # ~3× the actual work at toy scale). A production job sizes this
    # to its cluster before first start, exactly as here.
    with scoped_confs(spark, **{"spark.sql.shuffle.partitions": "8"}):
        stream = (
            read_feed(spark, src, EVENTS_STREAM_SCHEMA)
            # watermark needs an instant; NTZ→LTZ is a wall-clock no-op
            # under the UTC session timezone
            .withColumn("ts", F.col("ts").cast("timestamp"))
            # delay > the 30-day event span: no dedup state is evicted
            # before the duplicate copy arrives, so suppression is total
            .withWatermark("ts", "35 days")
            .dropDuplicatesWithinWatermark(["event_id"])
        )
        result = enrich_window_agg(stream, table(spark, sf_dir, "customer"))
        run_available_now(
            result.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append"),
            "stream_chained_stateful_e2e",
            300,
        )
    return spark.read.parquet(sink).select(
        F.col("ws").cast("timestamp_ntz").alias("ws"),
        "c_mktsegment",
        "n",
        "sum_value",
    )


def join_window_agg(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Shared tail of the join→window pipeline (batch and stream):
    attribution join (each click to same-user purchases within the
    following hour), then 1h tumbling conversion count + revenue per
    purchase hour. In streaming this is the OTHER sanctioned
    multi-stateful composition (stream-stream join feeding a
    time-window aggregation), complementing the dedup→agg chain."""
    j = click_purchase_join(clicks, purchases)
    return (
        j.groupBy(F.window("purchase_ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            dsum(F.col("purchase_value"), 10000).alias("revenue"),
        )
        .select(F.col("w.start").alias("ws"), "n_conversions", "revenue")
    )


@register(
    "stream_join_window_e2e",
    oracle="""
        SELECT date_trunc('hour', p.ts) AS ws,
               count(*) AS n_conversions,
               sum(CAST(round(p.value*10000) AS BIGINT))/10000.0 AS revenue
        FROM events c JOIN events p
          ON c.user_id = p.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        GROUP BY 1
    """,
)
def stream_join_window_e2e(spark, sf_dir):
    """Stream-stream JOIN chained into a windowed aggregation in ONE
    streaming query — the second of Spark's two sanctioned
    multi-stateful compositions (stream_chained_stateful_e2e covers
    dedup→agg): two watermarked streams filtered off one file source,
    inner attribution join with an event-time band, then 1h tumbling
    conversion revenue, append-mode checkpointed parquet sink. The
    windowed agg finalizes against the JOIN-DELAYED watermark — the
    propagation subtlety that makes chaining nontrivial.

    Feed: events split into two mtime-ordered chunks plus two
    far-future sentinels (one click, one purchase, distinct negative
    users so they never join — they advance both sides' watermarks
    without contributing a conversion; the second sentinel batch lets
    the lagged watermark apply and flush every real window). Oracle =
    composed batch twin; a pair double-joined across batches or a
    window emitted early/late/twice is a value-hash failure."""
    import pandas as pd

    from ..registry import scratch_dir
    from ..schemas import EVENTS_STREAM_SCHEMA

    e = table(spark, sf_dir, "events")
    base = scratch_dir("stream_join_window_e2e")
    src, sink, ckpt = f"{base}/src", f"{base}/sink", f"{base}/ckpt"
    os.makedirs(src)

    pdf = (
        e.select("event_id", "ts", "user_id", "event_type", "value", "props")
        .toPandas()
        .sort_values(["ts", "event_id"])
        .reset_index(drop=True)
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    half = len(pdf) // 2
    feeds = [("a_chunk0", pdf.iloc[:half]), ("b_chunk1", pdf.iloc[half:])]
    far = pdf["ts"].max() + pd.Timedelta(days=90)
    for i, (uid, etype) in enumerate([(-1, "click"), (-2, "purchase")]):
        s = pd.DataFrame(
            {
                "event_id": [10**12 + i],
                "ts": [far + pd.Timedelta(hours=i)],
                "user_id": [uid],
                "event_type": [etype],
                "value": [0.0],
                "props": ["{}"],
            }
        )
        s["ts"] = s["ts"].astype("datetime64[us]")
        feeds.append((f"c_sentinel_{i}", s))
    paths = [f"{src}/{nm}.parquet" for nm, _f in feeds]
    for p, (_nm, f) in zip(paths, feeds):
        f.to_parquet(p, index=False)
    order_feed(paths)

    def side(kind):
        return (
            read_feed(spark, src, EVENTS_STREAM_SCHEMA)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .filter(F.col("event_type") == kind)
            .withWatermark("ts", "35 days")
        )

    from ..session import scoped_confs

    # see stream_chained_stateful_e2e: state partition count is frozen
    # at first batch; 8 bounds the per-batch state-commit overhead of
    # the two stateful operators at rig scale
    with scoped_confs(spark, **{"spark.sql.shuffle.partitions": "8"}):
        result = join_window_agg(side("click"), side("purchase"))
        run_available_now(
            result.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append"),
            "stream_join_window_e2e",
            300,
        )
    return spark.read.parquet(sink).select(
        F.col("ws").cast("timestamp_ntz").alias("ws"),
        "n_conversions",
        "revenue",
    )


@register(
    "sink_stream_upsert_scd1",
    oracle="""
        SELECT user_id, event_id AS last_event_id, ts AS last_ts,
               value AS last_value
        FROM (
          SELECT *, row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                 ) AS rn
          FROM events
        ) WHERE rn = 1
    """,
)
def sink_stream_upsert_scd1(spark, sf_dir):
    """Streaming UPSERT (SCD type-1) into a keyed parquet snapshot via
    ``foreachBatch`` — the production pattern for maintaining a
    latest-row-per-key dimension from a stream when no ACID table
    format (Delta/Iceberg MERGE) is available: each micro-batch
    reduces to its per-key latest, full-outer-merges with the current
    snapshot keeping the newer row, writes the NEW snapshot generation
    to a fresh directory, and atomically advances a pointer file —
    readers never observe a half-written snapshot, and a replayed
    batch re-merges idempotently (max-by-timestamp is idempotent and
    commutative, the property that makes at-least-once delivery safe
    here). Feed = events in three time-ordered micro-batches, so later
    batches genuinely OVERWRITE earlier users' rows; the oracle is the
    per-user latest event over the whole table — a lost upsert, stale
    generation read, or double-applied batch diverges the hash.

    Scale shape: the merge is one shuffle per batch keyed user_id
    (batch-side pre-reduced map-side), snapshot rewrite is
    O(|snapshot|) per batch — the right form until snapshot size
    demands partition-targeted rewrites (then: partitionBy(bucket) and
    rewrite only touched buckets, same pointer protocol)."""
    ptr, _snaps = _scd1_rig(spark, sf_dir, "sink_stream_upsert_scd1")
    return _current(spark, ptr, SCD1_SNAP_SCHEMA)


SCD1_SNAP_SCHEMA = (
    "user_id long, last_event_id long, last_ts timestamp_ntz, "
    "last_value double"
)


def _chunked_stream_feed(spark, sf_dir, src, n_chunks=3):
    """Shared mtime-ordered stream feed: the events table in global
    (ts, event_id) order, split into ceil(n/n_chunks)-row chunk files
    processed one per micro-batch (`stream.read_feed`). The chunk
    arithmetic is LOAD-BEARING for scan_snapshot_time_travel's oracle
    (generation k ≡ latest-per-key over the first k·ceil(n/3) rows) —
    single-sourced here instead of copied per op (round-5
    second-review finding)."""
    e = table(spark, sf_dir, "events")
    pdf = (
        e.select("event_id", "ts", "user_id", "event_type", "value", "props")
        .toPandas()
        .sort_values(["ts", "event_id"])
        .reset_index(drop=True)
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    step = (len(pdf) + n_chunks - 1) // n_chunks
    paths = [f"{src}/chunk_{i}.parquet" for i in range(n_chunks)]
    for i, p in enumerate(paths):
        pdf.iloc[i * step : (i + 1) * step].to_parquet(p, index=False)
    order_feed(paths)


def _pointed(ptr):
    """The generation dir the pointer file ``ptr`` names (None before
    the first generation is published)."""
    if not os.path.exists(ptr):
        return None
    with open(ptr) as f:
        return f.read().strip()


def _current(spark, ptr, schema):
    """The state the pointer ``ptr`` publishes, read with ``schema``."""
    return spark.read.schema(schema).parquet(_pointed(ptr))


def _snapshot_step(spark, snaps, ptr, schema, merge):
    """The per-batch step of `_generation_snapshot_rig`: read the
    current state through the pointer, ``merge(cur, batch_df)`` (``cur``
    is None for the first batch), write the result to the immutable
    ``gen-{batch}`` dir and atomically advance the pointer. The
    pointer is the replay ledger: a batch whose ``gen-{batch}`` it
    already names was applied, so a re-delivery is skipped — which
    makes even a non-idempotent (additive) merge exactly-once."""

    def step(batch_df, batch_id):
        gen_dir = os.path.join(snaps, f"gen-{batch_id:05d}")
        cur = _pointed(ptr)
        if cur == gen_dir:
            return
        if cur is not None:
            cur = spark.read.schema(schema).parquet(cur)
        merge(cur, batch_df).write.mode("overwrite").parquet(gen_dir)
        publish_marker(ptr, gen_dir)  # atomic pointer advance

    return step


def _generation_snapshot_rig(spark, sf_dir, opname, snap_schema, merge):
    """Generation-snapshot foreachBatch rig shared by the SCD1 upsert,
    the CDC apply, time travel, the incremental MV and the streaming
    KMV: chunked feed → per micro-batch, `_snapshot_step` merges the
    batch into the state the pointer names, writes the new generation
    to an immutable ``gen-{batch}`` dir, and atomically advances the
    pointer. Returns (pointer path, generations dir)."""
    from ..registry import scratch_dir
    from ..schemas import EVENTS_STREAM_SCHEMA

    base = scratch_dir(opname)
    src, snaps, ptr = f"{base}/src", f"{base}/snaps", f"{base}/CURRENT"
    ckpt = f"{base}/ckpt"
    os.makedirs(src)
    os.makedirs(snaps)
    _chunked_stream_feed(spark, sf_dir, src)

    run_available_now(
        read_feed(spark, src, EVENTS_STREAM_SCHEMA).writeStream.foreachBatch(
            _snapshot_step(spark, snaps, ptr, snap_schema, merge)
        ).option("checkpointLocation", ckpt),
        opname,
        300,
    )
    return ptr, snaps


def _latest_wins(make_changes):
    """The latest-wins merge of the upsert rigs: ``make_changes``
    projects the batch into the snapshot schema, the result unions
    with the current snapshot, and the newest (last_ts,
    last_event_id) row per user wins."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.desc("last_ts"), F.desc("last_event_id")
    )

    def merge(cur, batch_df):
        changes = make_changes(batch_df)
        if cur is not None:
            changes = cur.unionByName(changes)
        return (
            changes.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
            .drop("rn")
        )

    return merge


def _scd1_rig(spark, sf_dir, opname):
    """SCD1 instantiation of the generation rig: upsert-only changes
    (no op column)."""

    def latest_cols(batch_df):
        return batch_df.select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").cast("timestamp_ntz").alias("last_ts"),
            F.col("value").alias("last_value"),
        )

    return _generation_snapshot_rig(
        spark, sf_dir, opname, SCD1_SNAP_SCHEMA, _latest_wins(latest_cols)
    )


@register(
    "sink_stream_cdc_apply",
    oracle="""
        WITH ops AS (
          SELECT user_id, event_id, ts, value,
                 CASE WHEN event_id % 10 = 0 THEN 'D'
                      ELSE 'U' END AS op,
                 row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                 ) AS rn
          FROM events
        )
        SELECT user_id, event_id AS last_event_id, value AS last_value
        FROM ops WHERE rn = 1 AND op = 'U'
    """,
)
def sink_stream_cdc_apply(spark, sf_dir):
    """CDC APPLY with DELETES — the half of change-data-capture the
    SCD1 upsert (sink_stream_upsert_scd1) cannot express: the stream
    carries I/U/D operations (derived closed-form here: every 10th
    event_id is a DELETE of its key, the rest are upserts), and the
    materialized table must honor the LAST operation per key in
    event-time order — a key whose newest change is a delete is
    ABSENT, even if the delete arrived in an earlier micro-batch than
    a stale update replay. Per batch: reduce to last-op-per-key,
    full-merge with the snapshot keeping the newer (ts, event_id),
    then filter out keys whose winning op is D; generation-dir +
    atomic pointer protocol as in SCD1, so replays re-apply
    idempotently (last-writer-wins is order-insensitive across
    batches once the tiebreak is total). The oracle restates the
    final table closed-form: per user, the latest event wins, and a
    latest-event DELETE removes the row. A tombstone applied as an
    upsert, a resurrected deleted key, or a lost delete is a
    value-hash failure.

    Scale: identical shape to SCD1 (one keyed shuffle per batch,
    snapshot rewrite per generation); tombstones stay IN the snapshot
    (op column) so late stale updates lose against them — compaction
    may age them out after the retention window, exactly as
    Delta/Iceberg expire tombstones."""
    snap_schema = (
        "user_id long, last_event_id long, last_ts timestamp_ntz, "
        "last_value double, op string"
    )

    def cdc_changes(batch_df):
        return batch_df.select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").cast("timestamp_ntz").alias("last_ts"),
            F.col("value").alias("last_value"),
            F.when(F.col("event_id") % 10 == 0, F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
        )

    ptr, _snaps = _generation_snapshot_rig(
        spark, sf_dir, "sink_stream_cdc_apply", snap_schema,
        _latest_wins(cdc_changes),
    )
    snap = _current(spark, ptr, snap_schema)
    # serving view: tombstoned keys are invisible
    return snap.filter(F.col("op") == "U").select(
        "user_id", "last_event_id", "last_value"
    )


@register(
    "scan_snapshot_time_travel",
    oracle="""
        WITH ordered AS (
          SELECT user_id, event_id, ts, value,
                 row_number() OVER (ORDER BY ts, event_id) AS gpos,
                 count(*) OVER () AS n
          FROM events
        ), prefix AS (
          SELECT * FROM ordered
          WHERE gpos <= 2 * CAST(ceil(n / 3.0) AS BIGINT)
        ), latest AS (
          SELECT *, row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                 ) AS rn
          FROM prefix
        )
        SELECT user_id, event_id AS last_event_id, value AS last_value
        FROM latest WHERE rn = 1
    """,
)
def scan_snapshot_time_travel(spark, sf_dir):
    """TIME TRAVEL over the generation-snapshot table — the read-side
    payoff of the SCD1 pointer protocol (shared rig with
    sink_stream_upsert_scd1): every upsert batch leaves an immutable
    ``gen-{batch}`` directory, so "the table AS OF batch 1" is a plain
    read of an older generation — no ACID format required, the same
    contract `VERSION AS OF` gives on Delta/Iceberg (whose snapshots
    are likewise just retained manifests). The op reads gen-00001 (the
    state after the first TWO of three micro-batches) and the oracle
    reconstructs it closed-form: the feed is the events table in
    global (ts, event_id) order split into ceil(n/3)-row chunks, so
    generation 1 ≡ latest-per-user over the first 2·ceil(n/3) rows. A
    generation contaminated by a later batch, or a non-reproducible
    chunk boundary, is a value-hash failure. Retention/GC of old
    generations is the same policy knob as snapshot expiry in real
    table formats."""
    _ptr, snaps = _scd1_rig(spark, sf_dir, "scan_snapshot_time_travel")
    gen1 = os.path.join(snaps, "gen-00001")
    return spark.read.schema(SCD1_SNAP_SCHEMA).parquet(gen1).select(
        "user_id", "last_event_id", "last_value"
    )


MV_STATE_SCHEMA = "event_type string, day string, n_events long, sum_cents long"


def _mv_merge(cur, batch_df):
    """The incremental MV's additive merge: the batch reduced to
    re-aggregatable partials (count + exact cent sum per
    (event_type, day)), summed with the current state."""
    p = batch_df.groupBy(
        "event_type",
        F.col("ts").cast("date").cast("string").alias("day"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
    )
    if cur is not None:
        p = cur.unionByName(p)
    return p.groupBy("event_type", "day").agg(
        F.sum("n_events").alias("n_events"),
        F.sum("sum_cents").alias("sum_cents"),
    )


@register(
    "stream_foreachbatch_incremental_mv",
    oracle="""
        SELECT event_type,
               CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
               count(*) AS n_events,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents
        FROM events GROUP BY 1, 2
    """,
)
def stream_foreachbatch_incremental_mv(spark, sf_dir):
    """STREAMING incremental materialized-view maintenance — the
    foreachBatch twin of agg_incremental_mv_merge: each micro-batch is
    reduced to re-aggregatable partials (count + exact cent sum per
    (event_type, day)) and ADDITIVELY merged into the accumulated MV
    state with one sum-of-partials groupBy, written as a new
    generation + atomic pointer advance (`_generation_snapshot_rig`,
    the SCD1 sink's reader-isolation protocol). Additive merges are
    NOT naturally idempotent, so — unlike latest-wins upserts — replay
    safety rests on the rig's ledger: the pointer already naming a
    batch's generation makes its re-delivery a no-op, and since the
    pointer advance IS the commit of the merge, no kill can land
    between applying a batch and recording it. The oracle is the full
    recompute over all of events, so a dropped batch, a double-applied
    batch, or a stale-generation read all break the value hash.

    Scale: per batch one map-side-combinable partial agg + a merge
    shuffle of |MV| keys (150 here) — O(batch) + O(|MV|), never
    O(history). This is the production shape for streaming rollups
    when no ACID table format is available."""
    ptr, _snaps = _generation_snapshot_rig(
        spark, sf_dir, "stream_foreachbatch_incremental_mv",
        MV_STATE_SCHEMA, _mv_merge,
    )
    return _current(spark, ptr, MV_STATE_SCHEMA)


@register(
    "stream_dead_letter_split",
    oracle="""
        SELECT 'ok' AS kind, event_id AS rec_id, user_id AS uid,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_id % 13 <> 0
        UNION ALL
        SELECT 'dlq' AS kind, event_id AS rec_id,
               CAST(NULL AS BIGINT) AS uid, CAST(NULL AS BIGINT) AS cents
        FROM events WHERE event_id % 13 = 0
    """,
)
def stream_dead_letter_split(spark, sf_dir):
    """Dead-letter-queue routing in ONE streaming query: a text feed
    where every 13th record is malformed ("corrupt_<id>", missing
    fields) is parsed per micro-batch inside foreachBatch; rows that
    parse land in the MAIN parquet sink, rows that don't land in the
    DLQ sink with their record id recovered from the raw line — no
    record is dropped and no bad record poisons the main table, the
    invariant every production ingest pipeline needs. The oracle
    restates BOTH sinks closed-form from events (valid rows parsed
    field-for-field, corrupt rows as dlq with NULL fields), so a
    swallowed record, a mis-routed row, or a double-write on either
    sink breaks the value hash.

    Scale: the split is one filter per batch (no second parse pass);
    both sinks append — O(batch) per trigger with the DLQ normally
    near-empty."""
    import os

    from ..registry import scratch_dir

    base = scratch_dir("stream_dead_letter_split")
    src = os.path.join(base, "src")
    main_dir = os.path.join(base, "main")
    dlq_dir = os.path.join(base, "dlq")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(src)

    e = table(spark, sf_dir, "events")
    line = F.when(
        F.col("event_id") % 13 == 0,
        F.concat(F.lit("corrupt_"), F.col("event_id").cast("string")),
    ).otherwise(
        F.concat_ws(
            ",",
            F.col("event_id").cast("string"),
            F.col("user_id").cast("string"),
            F.round(F.col("value") * 100).cast("long").cast("string"),
        )
    )
    pdf = e.orderBy("event_id").select(line.alias("value")).toPandas()
    step = (len(pdf) + 2) // 3
    for i in range(3):
        with open(os.path.join(src, f"chunk_{i}.txt"), "w") as f:
            f.write("\n".join(pdf["value"][i * step : (i + 1) * step]) + "\n")

    schema = "kind string, rec_id long, uid long, cents long"

    def route(batch_df, batch_id):
        parts = F.split(F.col("value"), ",")
        parsed = batch_df.select(
            F.col("value"),
            parts.getItem(0).try_cast("long").alias("rec_id"),
            F.when(
                F.size(parts) == 3, parts.getItem(1).try_cast("long")
            ).alias("uid"),
            F.when(
                F.size(parts) == 3, parts.getItem(2).try_cast("long")
            ).alias("cents"),
        )
        ok = parsed.filter(
            F.col("rec_id").isNotNull()
            & F.col("uid").isNotNull()
            & F.col("cents").isNotNull()
        ).select(F.lit("ok").alias("kind"), "rec_id", "uid", "cents")
        dlq = parsed.filter(
            F.col("rec_id").isNull()
            | F.col("uid").isNull()
            | F.col("cents").isNull()
        ).select(
            F.lit("dlq").alias("kind"),
            F.regexp_extract("value", r"corrupt_(\d+)", 1)
            .cast("long")
            .alias("rec_id"),
            F.lit(None).cast("long").alias("uid"),
            F.lit(None).cast("long").alias("cents"),
        )
        ok.write.mode("append").parquet(main_dir)
        dlq.write.mode("append").parquet(dlq_dir)

    run_available_now(
        read_feed(spark, src, fmt="text")
        .writeStream.foreachBatch(route)
        .option("checkpointLocation", ckpt),
        "stream_dead_letter_split",
        300,
    )
    main = spark.read.schema(schema).parquet(main_dir)
    dlq = spark.read.schema(schema).parquet(dlq_dir)
    return main.unionByName(dlq)


KMV_STATE_SCHEMA = "scope string, hv long"


@register(
    "stream_kmv_distinct",
    oracle="""
        WITH h AS (
            SELECT DISTINCT event_type,
                   CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                        AS BIGINT) AS hv
            FROM events),
        scoped AS (
            SELECT event_type AS scope, hv FROM h
            UNION ALL
            SELECT 'TOTAL' AS scope, hv FROM (SELECT DISTINCT hv FROM h)),
        ranked AS (
            SELECT scope, hv,
                   row_number() OVER (PARTITION BY scope ORDER BY hv) AS rn
            FROM scoped),
        kth AS (
            SELECT scope, max(hv) AS hk,
                   CAST(count(*) AS BIGINT) AS n_kept
            FROM ranked WHERE rn <= 64 GROUP BY scope)
        SELECT scope,
               CASE WHEN n_kept < 64 THEN n_kept
                    ELSE (63 * 4294967296) // hk END AS est_users,
               n_kept
        FROM kth ORDER BY scope
    """,
)
def stream_kmv_distinct(spark, sf_dir):
    """STREAMING distinct-count sketch maintenance — the foreachBatch
    twin of agg_kmv_distinct: each micro-batch's distinct (scope,
    md5-hash) pairs union into the accumulated bottom-K state, which
    is re-trimmed to K per scope and written as a new generation +
    atomic pointer advance (`_generation_snapshot_rig`). Because
    bottom-K-of-distinct-union is IDEMPOTENT (re-merging a delivered
    batch changes nothing), replay safety would hold even without the
    rig's pointer ledger — the structural contrast with
    stream_foreachbatch_incremental_mv's additive merge, which needs
    it. The oracle is the batch KMV over all of events: sketch
    mergeability (bottom-K of a union = bottom-K of bottom-Ks) makes
    incremental ≡ batch exactly, so a dropped batch or stale
    generation breaks the value hash.

    Scale: state is O(K) rows per scope FOREVER (the sketch property
    that makes streaming distinct-count viable at 100 TB where exact
    per-key state grows unboundedly); per batch one distinct + one
    windowed trim over |state| + |batch-distinct| rows."""
    from pyspark.sql import Window

    from .aggregates import KMV_K

    def scoped_hashes(df):
        h = df.select(
            "event_type",
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                16,
                10,
            )
            .cast("long")
            .alias("hv"),
        ).distinct()
        return h.select(F.col("event_type").alias("scope"), "hv").unionByName(
            h.select("hv").distinct().select(
                F.lit("TOTAL").alias("scope"), "hv"
            )
        )

    w = Window.partitionBy("scope").orderBy("hv")

    def merge(cur, batch_df):
        p = scoped_hashes(batch_df)
        if cur is not None:
            p = cur.unionByName(p).distinct()
        return (
            p.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= KMV_K)
            .select("scope", "hv")
        )

    ptr, _snaps = _generation_snapshot_rig(
        spark, sf_dir, "stream_kmv_distinct", KMV_STATE_SCHEMA, merge
    )
    state = _current(spark, ptr, KMV_STATE_SCHEMA)
    kth = state.groupBy("scope").agg(
        F.max("hv").alias("hk"), F.count(F.lit(1)).alias("n_kept")
    )
    est = F.when(F.col("n_kept") < KMV_K, F.col("n_kept")).otherwise(
        F.expr(f"({KMV_K - 1} * 4294967296) div hk")
    )
    return kth.select("scope", est.alias("est_users"), "n_kept").orderBy(
        "scope"
    )
