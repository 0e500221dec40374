"""2.A ingest/sink operators: partitioned parquet sink, CloudWatch
envelope decode, flow-log parse, and the file-stream source stand-in
for Kinesis (no Kinesis in the sandbox; the source abstraction is the
same readStream contract).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..ingest import (
    SQL_EPOCH,
    SQL_K,
    SQL_LINE,
    decode_envelopes,
    flowlog_lines,
    parse_flowlog_lines,
    synthesize_envelopes,
)
from ..registry import register, scratch_dir, table
from ..schemas import EVENTS_STREAM_SCHEMA, FLOWLOG_DDL
from ..stream import run_available_now


@register(
    "sink_parquet_partitioned",
    oracle="SELECT event_id, ts, user_id, event_type, value, props FROM events",
)
def sink_parquet_partitioned(spark, sf_dir):
    """Write events partitioned by event_type (the reference pipeline's
    output layout: analytics-partitioned parquet), read it back, and
    prove the round-trip is lossless. Partition pruning on event_type
    is what makes per-type queries cheap at 100 TB."""
    e = table(spark, sf_dir, "events")
    out = scratch_dir("sink_parquet")
    e.write.mode("overwrite").partitionBy("event_type").parquet(out)
    back = spark.read.parquet(out)
    return back.select("event_id", "ts", "user_id", "event_type", "value", "props")


@register(
    "ingest_flowlog_parse",
    oracle=f"""
        SELECT
          event_id,
          2 AS version,
          CAST(user_id AS VARCHAR) AS account_id,
          'eni-' || CAST(user_id AS VARCHAR) AS interface_id,
          '10.0.' || CAST({SQL_K} % 256 AS VARCHAR) || '.'
                  || CAST(({SQL_K}*7) % 256 AS VARCHAR) AS srcaddr,
          '10.1.' || CAST(({SQL_K}*3) % 256 AS VARCHAR) || '.'
                  || CAST(({SQL_K}*11) % 256 AS VARCHAR) AS dstaddr,
          CAST({SQL_K} + 1024 AS INT) AS srcport,
          443 AS dstport,
          6 AS protocol,
          CAST(round(value) AS BIGINT) AS packets,
          CAST(round(value*100) AS BIGINT) AS bytes,
          {SQL_EPOCH} AS start,
          {SQL_EPOCH} + 60 AS "end",
          CASE WHEN event_type = 'error' THEN 'REJECT' ELSE 'ACCEPT' END AS action,
          'OK' AS log_status
        FROM events
    """,
)
def ingest_flowlog_parse(spark, sf_dir):
    """Space-delimited VPC Flow Log v2 line → typed columns.

    Lines are synthesized deterministically from events, then parsed
    with from_csv(sep=' ') — the parse inverts the format exactly, so
    the oracle can state the typed output directly from events."""
    e = table(spark, sf_dir, "events")
    return parse_flowlog_lines(flowlog_lines(e, "event_id"))


@register(
    "ingest_envelope_decode",
    oracle=f"""
        SELECT
          CAST(user_id AS VARCHAR) AS owner,
          '/vpc/flowlogs' AS log_group,
          'eni-' || CAST(user_id AS VARCHAR) || '-all' AS log_stream,
          CAST(event_id AS VARCHAR) AS id,
          (epoch_ns(ts) // 1000000) AS timestamp,
          {SQL_LINE} AS message
        FROM events
    """,
)
def ingest_envelope_decode(spark, sf_dir):
    """Full CloudWatch→Kinesis envelope round-trip: synthesize
    base64(gzip(JSON)) envelopes from events, then run the decode
    pipeline (unbase64 → gunzip in mapInPandas → from_json →
    explode). The oracle states the expected decoded rows directly
    from events, so every byte of the decode path is value-checked."""
    e = table(spark, sf_dir, "events")
    return decode_envelopes(synthesize_envelopes(e))


@register(
    "stream_file_source",
    oracle="SELECT event_id, ts, user_id, event_type, value, props FROM events",
)
def stream_file_source(spark, sf_dir):
    """Streaming read stand-in for Kinesis: events → file stream with a
    declared schema → availableNow parquet sink → read-back. Exercises
    the whole Structured Streaming source/sink/checkpoint contract in
    a bounded call."""
    e = table(spark, sf_dir, "events")
    base = scratch_dir("stream_file_source")
    src, sink, ckpt = f"{base}/src", f"{base}/sink", f"{base}/ckpt"
    e.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(src)
    run_available_now(
        stream.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt),
        "stream_file_source",
        300,
    )
    back = spark.read.schema(EVENTS_STREAM_SCHEMA).parquet(sink)
    return back.select("event_id", "ts", "user_id", "event_type", "value", "props")


@register(
    "ingest_flowlog_malformed",
    oracle="""
        SELECT event_id, true AS is_valid FROM events
        UNION ALL
        SELECT event_id + 1000000000 AS event_id, false AS is_valid
        FROM events WHERE event_id % 50 = 0
    """,
)
def ingest_flowlog_malformed(spark, sf_dir):
    """Malformed-record recovery: a feed with truncated flow-log lines
    (every 50th event re-sent with only 3 of 14 fields) parsed in
    PERMISSIVE mode — missing fields become NULLs instead of killing
    the job, and validity is a column the pipeline can route on
    (dead-letter the invalid rows, load the rest). The oracle states
    exactly which rows must come out valid."""
    e = table(spark, sf_dir, "events")
    good = flowlog_lines(e, "event_id")
    bad = e.filter(F.col("event_id") % 50 == 0).select(
        (F.col("event_id") + 1000000000).alias("event_id"),
        F.concat_ws(
            " ",
            F.lit("2"),
            F.col("user_id").cast("string"),
            F.concat(F.lit("eni-"), F.col("user_id").cast("string")),
        ).alias("line"),
    )
    parsed = parse_flowlog_lines(good.unionByName(bad))
    return parsed.select(
        "event_id", F.col("log_status").isNotNull().alias("is_valid")
    )


@register(
    "source_schema_evolution",
    oracle="""
        SELECT event_id, user_id, CAST(NULL AS DOUBLE) AS value FROM events
        UNION ALL
        SELECT event_id + 2000000000 AS event_id, user_id, value FROM events
    """,
)
def source_schema_evolution(spark, sf_dir):
    """Schema evolution on the lake: an old writer produced (event_id,
    user_id), a new writer added `value`; mergeSchema reads both
    generations as one table with NULLs where the column didn't exist.
    In production the merged schema comes from the table catalog so the
    footer-merge cost isn't paid per query — mergeSchema is the
    bootstrap path."""
    e = table(spark, sf_dir, "events")
    out = scratch_dir("schema_evo")
    e.select("event_id", "user_id").write.parquet(f"{out}/gen=1")
    e.select(
        (F.col("event_id") + 2000000000).alias("event_id"), "user_id", "value"
    ).write.parquet(f"{out}/gen=2")
    back = spark.read.option("mergeSchema", "true").parquet(
        f"{out}/gen=1", f"{out}/gen=2"
    )
    return back.select("event_id", "user_id", "value")


@register(
    "sink_sorted_clustered",
    oracle="SELECT event_id, ts, user_id, event_type, value FROM events",
)
def sink_sorted_clustered(spark, sf_dir):
    """Range-clustered parquet sink: repartitionByRange(user_id) +
    sortWithinPartitions before writing gives each output file a tight
    user_id min/max band, so later scans with user predicates skip
    whole files on parquet row-group statistics — data clustering, the
    lakehouse complement to directory partitioning (which suits only
    low-cardinality keys like dt). Round-trip parity proves the
    re-layout is lossless."""
    e = table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    out = scratch_dir("sorted_clustered")
    (
        e.repartitionByRange(8, "user_id")
        .sortWithinPartitions("user_id", "ts")
        .write.mode("overwrite")
        .parquet(out)
    )
    return spark.read.parquet(out)


@register(
    "ingest_xml_parse",
    oracle="""
        SELECT event_id,
               user_id AS uid,
               event_type AS etype,
               CAST(round(value*100) AS BIGINT) AS cents
        FROM events
    """,
)
def ingest_xml_parse(spark, sf_dir):
    """XML record parsing via from_xml with a declared schema — the
    third text wire format next to JSON (envelope) and CSV (flow
    lines). Records are synthesized deterministically from events so
    the parse is value-checked end to end."""
    e = table(spark, sf_dir, "events")
    xml = F.concat(
        F.lit("<rec><uid>"), F.col("user_id").cast("string"),
        F.lit("</uid><etype>"), F.col("event_type"),
        F.lit("</etype><cents>"),
        F.round(F.col("value") * 100).cast("long").cast("string"),
        F.lit("</cents></rec>"),
    )
    parsed = e.select(
        "event_id",
        F.from_xml(xml, "uid BIGINT, etype STRING, cents BIGINT").alias("r"),
    )
    return parsed.select("event_id", "r.uid", "r.etype", "r.cents")


@register(
    "source_text_lines",
    oracle="""
        SELECT
          2 AS version,
          CAST(user_id AS VARCHAR) AS account_id,
          'eni-' || CAST(user_id AS VARCHAR) AS interface_id,
          CAST(round(value) AS BIGINT) AS packets,
          CAST(round(value*100) AS BIGINT) AS bytes,
          CASE WHEN event_type = 'error' THEN 'REJECT' ELSE 'ACCEPT' END AS action
        FROM events
    """,
)
def source_text_lines(spark, sf_dir):
    """Raw-text source format: flow-log lines written via the `text`
    sink (one line per row, the shape log shippers deliver), read back
    as lines, parsed to typed columns — the from-disk twin of
    ingest_flowlog_parse."""
    e = table(spark, sf_dir, "events")
    out = scratch_dir("text_lines")
    flowlog_lines(e).write.mode("overwrite").text(out)
    lines = spark.read.text(out).withColumnRenamed("value", "line")
    parsed = parse_flowlog_lines(lines)
    return parsed.select(
        "version", "account_id", "interface_id", "packets", "bytes", "action"
    )


@register(
    "stream_ingest_e2e",
    oracle=f"""
        SELECT
          event_id,
          2 AS version,
          CAST(user_id AS VARCHAR) AS account_id,
          'eni-' || CAST(user_id AS VARCHAR) AS interface_id,
          '10.0.' || CAST({SQL_K} % 256 AS VARCHAR) || '.'
                  || CAST(({SQL_K}*7) % 256 AS VARCHAR) AS srcaddr,
          '10.1.' || CAST(({SQL_K}*3) % 256 AS VARCHAR) || '.'
                  || CAST(({SQL_K}*11) % 256 AS VARCHAR) AS dstaddr,
          CAST({SQL_K} + 1024 AS INT) AS srcport,
          443 AS dstport,
          6 AS protocol,
          CAST(round(value) AS BIGINT) AS packets,
          CAST(round(value*100) AS BIGINT) AS bytes,
          {SQL_EPOCH} AS start,
          {SQL_EPOCH} + 60 AS "end",
          CASE WHEN event_type = 'error' THEN 'REJECT' ELSE 'ACCEPT' END AS action,
          'OK' AS log_status,
          strftime(make_timestamp({SQL_EPOCH} * 1000000), '%Y-%m-%d') AS dt,
          CAST(hour(make_timestamp({SQL_EPOCH} * 1000000)) AS INT) AS hr
        FROM events
    """,
)
def stream_ingest_e2e(spark, sf_dir):
    """The reference pipeline (SURVEY §3 E1) end-to-end under
    Structured Streaming: Kinesis stand-in (file stream of
    base64+gzip CloudWatch envelope payloads) → unbase64 → gunzip
    (mapInPandas) → from_json → explode(logEvents) → flow-log line
    parse → event-time partition columns → parquet sink partitioned
    by dt (hr hour-clustered within files) with checkpoint →
    read-back of the analytics layout.

    Every byte is value-checked: the oracle states the typed,
    partitioned output directly from events. The (dt, hr) layout is
    what makes time-sliced queries prune at 100 TB; the checkpoint +
    availableNow trigger exercise the exactly-once sink contract the
    production job relies on."""
    e = table(spark, sf_dir, "events")
    base = scratch_dir("stream_ingest_e2e")
    src, sink, ckpt = f"{base}/src", f"{base}/sink", f"{base}/ckpt"
    # 16 small source files, which the micro-batch scan packs into
    # about defaultParallelism splits (4 decode tasks at 4 cores):
    # one file = one task would serialize the gzip+parse path, and a
    # real Kinesis source is many-shard-parallel anyway.
    synthesize_envelopes(e).repartition(16).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema("payload STRING").parquet(src)
    decoded = decode_envelopes(stream)
    parsed = parse_flowlog_lines(
        decoded.select(
            F.col("id").cast("long").alias("event_id"),
            F.col("message").alias("line"),
        )
    )
    staged = (
        parsed.withColumn(
            "dt", F.date_format(F.timestamp_seconds("start"), "yyyy-MM-dd")
        )
        .withColumn("hr", F.hour(F.timestamp_seconds("start")))
        # cluster by the sink's partition key before the write: without
        # this every decode task writes a sliver into every dt dir
        # (writers × partitions tiny files — the classic small-file
        # explosion); with it each day's rows land in one file. The
        # sink partitions by DAY with hr a sorted in-file column:
        # hour-level directory fan-out only earns its keep once an
        # hour of data is file-sized (100 GB/day+); below that it IS
        # the small-file explosion (720 dirs of ~140 rows at sf0.1,
        # measured ~3s of pure file churn). In a real time-ordered
        # stream each microbatch covers a narrow hr range, so parquet
        # row-group min/max stats on hr still prune hour slices.
        # (Streaming DataFrames forbid sortWithinPartitions.)
        .repartition("dt")
    )
    run_available_now(
        staged.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .partitionBy("dt"),
        "stream_ingest_e2e",
        300,
    )
    back = spark.read.schema(
        "event_id BIGINT, " + FLOWLOG_DDL + ", hr INT, dt STRING"
    ).parquet(sink)
    return back.select(
        "event_id",
        "version",
        "account_id",
        "interface_id",
        "srcaddr",
        "dstaddr",
        "srcport",
        "dstport",
        "protocol",
        "packets",
        "bytes",
        "start",
        F.col("end").alias("end"),
        "action",
        "log_status",
        "dt",
        "hr",
    )


@register(
    "sink_compact_small_files",
    oracle="SELECT event_id, ts, user_id, event_type, value, props FROM events",
)
def sink_compact_small_files(spark, sf_dir):
    """OPTIMIZE-style small-file compaction (VERDICT r3 item 8) — the
    maintenance job every streaming parquet lake runs: micro-batch
    sinks leave each partition as N writer-slivers; the compactor
    bin-packs them back to target-sized files without changing a row.

    Shape of the job, scale-first:
      1. plant the problem: events written partitionBy(dt) from 16
         parallel writers → every dt directory holds ~16 slivers
         (exactly what a 16-shard streaming sink produces per day).
      2. plan the packing from METADATA only: a driver-side listing
         of per-partition byte totals (what Delta/Iceberg OPTIMIZE
         reads from the manifest; here an os.walk over the partition
         dirs) → files_per_partition = ceil(bytes / 128 MiB target),
         a tiny dict regardless of table size.
      3. rewrite with one distributed pass: broadcast-join the
         (dt → n_files) plan, salt each row into its slot with
         pmod(xxhash64(key), n_files), repartition("dt", "slot") so
         each slot becomes one writer task → one file, and write
         with partitionBy(dt). No driver data path; the shuffle
         moves each partition once.
    At toy scale every partition packs to 1 file (asserted in
    tests/test_plans.py: file count drops ~16x); at 100 TB the same
    plan yields ceil(partition_bytes/128 MiB) files per day. The
    oracle proves row-level losslessness of the rewrite."""
    import math
    import os

    e = table(spark, sf_dir, "events")
    base = scratch_dir("sink_compact_small_files")
    sliver, compact = f"{base}/sliver", f"{base}/compact"
    (
        e.withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
        .repartition(16)
        .write.partitionBy("dt")
        .mode("overwrite")
        .parquet(sliver)
    )

    target = 128 * 1024 * 1024
    part_bytes: dict[str, int] = {}
    for root, _dirs, files in os.walk(sliver):
        dt = os.path.basename(root)
        if not dt.startswith("dt="):
            continue
        part_bytes[dt[3:]] = sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if f.endswith(".parquet")
        )
    plan = [
        (dt, max(1, math.ceil(b / target))) for dt, b in sorted(part_bytes.items())
    ]
    m = spark.createDataFrame(plan, "dt string, n_files int")

    back = spark.read.parquet(sliver).withColumn(
        "dt", F.col("dt").cast("string")
    )
    (
        back.join(F.broadcast(m), "dt")
        .withColumn(
            "slot", F.pmod(F.xxhash64("event_id"), F.col("n_files")).cast("int")
        )
        .repartition("dt", "slot")
        .drop("n_files", "slot")
        .write.partitionBy("dt")
        .mode("overwrite")
        .parquet(compact)
    )
    return spark.read.parquet(compact).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


BACKFILL_FILES = 8
BACKFILL_FILES_PER_TRIGGER = 2


@register(
    "stream_backfill_bounded",
    oracle="""
        SELECT user_id, count(*) AS n_events,
               CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY user_id
    """,
)
def stream_backfill_bounded(spark, sf_dir):
    """Rate-limited backfill: replay a historical directory through the
    stream with maxFilesPerTrigger so catch-up runs in BOUNDED
    micro-batches instead of one giant batch — the production lever
    that keeps a month-long backfill from sizing state and shuffle for
    the whole month at once (availableNow honors read limits; the
    legacy once trigger ignored them, which is why it was deprecated).

    The op asserts the bound it claims: at least
    BACKFILL_FILES/BACKFILL_FILES_PER_TRIGGER micro-batches ran and no
    batch read more than ~BACKFILL_FILES_PER_TRIGGER files' worth of
    rows. Result is the per-user rollup of the sink read-back, so the
    oracle also proves no rows were lost or duplicated across the
    batch seams."""
    e = table(spark, sf_dir, "events")
    base = scratch_dir("stream_backfill_bounded")
    src, sink, ckpt = f"{base}/src", f"{base}/sink", f"{base}/ckpt"
    e.repartition(BACKFILL_FILES).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", BACKFILL_FILES_PER_TRIGGER)
        .parquet(src)
    )
    q = run_available_now(
        stream.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt),
        "stream_backfill_bounded",
        300,
    )
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    total = sum(p["numInputRows"] for p in progress)
    min_batches = BACKFILL_FILES // BACKFILL_FILES_PER_TRIGGER
    assert len(progress) >= min_batches, (
        f"backfill ran in {len(progress)} batches; "
        f"maxFilesPerTrigger bound implies >= {min_batches}"
    )
    # repartition() balances files, so a 2-of-8-files batch carries
    # ~total/4 rows; 1.5x headroom tolerates file-size skew
    cap = 1.5 * total * BACKFILL_FILES_PER_TRIGGER / BACKFILL_FILES
    assert all(p["numInputRows"] <= cap for p in progress), (
        "a micro-batch exceeded the per-trigger file bound"
    )
    back = spark.read.schema(EVENTS_STREAM_SCHEMA).parquet(sink)
    return back.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )


RATE_TARGET_ROWS = 5000


@register(
    "stream_source_rate_micro_batch",
    oracle=f"""
        SELECT r % 8 AS bucket, count(*) AS n, CAST(sum(r) AS BIGINT) AS sum_v
        FROM (SELECT unnest(range({RATE_TARGET_ROWS})) AS r)
        GROUP BY bucket
    """,
)
def stream_source_rate_micro_batch(spark, sf_dir):
    """The built-in ``rate-micro-batch`` streaming source — the
    deterministic load-generator Spark ships for soak/throughput
    tests: value is a dense monotone counter advanced rowsPerBatch
    per micro-batch, so the FIRST N values are closed-form and the
    oracle needs no table at all. The op drains batches through a
    checkpointed parquet sink until ≥ N values landed, stops the
    query, and aggregates values < N (the prefix is exact regardless
    of how many extra batches raced in). Exercises the fourth source
    family (file, Python batch, Python stream, rate) plus
    mid-stream stop + prefix-determinism reasoning.

    Scale note: rate sources fan out numPartitions-wide per batch;
    the wall-clock-dependent `timestamp` column is deliberately
    dropped so results stay value-checkable."""
    import time

    out = scratch_dir("rate_mb")
    q = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 1000)
        .option("numPartitions", 4)
        .load()
        .select("value")
        .writeStream.format("parquet")
        .option("path", f"{out}/out")
        .option("checkpointLocation", f"{out}/ck")
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = time.time() + 120
    try:
        while time.time() < deadline:
            try:
                if (
                    spark.read.parquet(f"{out}/out").count()
                    >= RATE_TARGET_ROWS
                ):
                    break
            except Exception:
                pass  # sink dir not materialized yet
            time.sleep(0.2)
        else:
            raise TimeoutError("rate-micro-batch never reached target rows")
    finally:
        q.stop()
    back = spark.read.parquet(f"{out}/out").filter(
        F.col("value") < RATE_TARGET_ROWS
    )
    return back.groupBy((F.col("value") % 8).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("sum_v"),
    )


@register(
    "stream_union_two_sources",
    oracle="""
        WITH wm AS (
          SELECT least(
            (SELECT max(ts) FROM events WHERE event_id % 2 = 0)
              - INTERVAL 1 HOUR,
            (SELECT max(ts) FROM events WHERE event_id % 2 = 1)
              - INTERVAL 2 HOURS
          ) AS w
        )
        SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
               count(*) AS n
        FROM events, wm
        WHERE date_trunc('day', ts) + INTERVAL 1 DAY <= wm.w
        GROUP BY 1, 2
    """,
)
def stream_union_two_sources(spark, sf_dir):
    """TWO independent streaming sources unioned into ONE watermarked
    aggregation — the multi-feed topology every regional/sharded
    ingest runs (Kinesis stream per region → union → one rollup).
    The events table is split by event_id parity into two file-stream
    sources, each gets its own watermark, and Spark aligns them (the
    query's effective watermark is the MINIMUM across sources, so one
    lagging feed correctly holds back state eviction for both). One
    availableNow drain through a checkpointed parquet sink; the
    read-back daily rollup must equal the batch aggregate over the
    WHOLE table — loss or duplication at the union seam breaks the
    value hash.

    Scale: union of streams is plan-level (no extra shuffle before
    the aggregation's own exchange); per-source file listing
    parallelizes; the min-watermark rule is what makes the topology
    safe when one region lags."""
    e = table(spark, sf_dir, "events")
    base = scratch_dir("stream_union_two")
    src_a, src_b = f"{base}/src_a", f"{base}/src_b"
    sink, ckpt = f"{base}/sink", f"{base}/ckpt"
    e.filter(F.col("event_id") % 2 == 0).write.mode("overwrite").parquet(src_a)
    e.filter(F.col("event_id") % 2 == 1).write.mode("overwrite").parquet(src_b)

    # watermarks need TIMESTAMP (LTZ); session tz is UTC so the cast
    # is wall-clock exact (engine.session discipline)
    sa = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .parquet(src_a)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
    )
    sb = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .parquet(src_b)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "2 hours")  # deliberately different lag
    )
    agg = (
        sa.unionByName(sb)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").cast("date").cast("string").alias("day"),
            "event_type",
            "n",
        )
    )
    run_available_now(
        agg.writeStream.format("parquet")
        .outputMode("append")
        .option("path", sink)
        .option("checkpointLocation", ckpt),
        "stream_union_two_sources",
        300,
    )
    return spark.read.parquet(sink)


@register(
    "ingest_fixed_width_parse",
    oracle="""
        SELECT event_id, user_id AS uid,
               event_type AS etype,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    """,
)
def ingest_fixed_width_parse(spark, sf_dir):
    """Fixed-width record parsing — the fourth text wire format next
    to CSV, JSON, and XML, still the lingua franca of mainframe and
    financial feeds: records are synthesized deterministically from
    events into a 40-byte layout (event_id %010d | user_id %08d |
    event_type left-justified 10 | cents %012d) and then parsed back
    with pure column arithmetic (substring + trim + cast, no regex).
    The oracle restates the expected fields directly from events, so
    any off-by-one in the column map, a padding slip, or a sign shift
    breaks the value hash.

    Scale: both build and parse are map-only narrow projections —
    whole-stage-codegen string ops, no Python."""
    e = table(spark, sf_dir, "events")
    line = F.format_string(
        "%010d%08d%-10s%012d",
        F.col("event_id"),
        F.col("user_id"),
        F.col("event_type"),
        F.round(F.col("value") * 100).cast("long"),
    )
    raw = e.select(line.alias("line"))
    return raw.select(
        F.substring("line", 1, 10).cast("long").alias("event_id"),
        F.substring("line", 11, 8).cast("long").alias("uid"),
        F.trim(F.substring("line", 19, 10)).alias("etype"),
        F.substring("line", 29, 12).cast("long").alias("cents"),
    )


@register(
    "source_json_multiline",
    oracle="""
        SELECT event_id, user_id AS uid, event_type AS etype,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    """,
)
def source_json_multiline(spark, sf_dir):
    """Multi-line JSON source (multiLine=true): the feed is ONE
    pretty-printed JSON ARRAY per file — the shape REST exports and
    config dumps actually have — which the default JSONL reader
    cannot split by newline; multiLine mode parses whole-file
    documents instead. Records are synthesized from events and read
    back field-for-field against the oracle.

    Scale note (and the honest cost): multiLine files are NOT
    line-splittable — one file = one task — so at 100 TB the feed
    must arrive as many files; the op writes 8 array files to keep
    the read parallel, exactly the guidance a platform gives its
    producers."""
    import json
    import os

    from ..registry import scratch_dir

    e = table(spark, sf_dir, "events")
    base = scratch_dir("source_json_multiline")
    pdf = e.select(
        "event_id",
        F.col("user_id").alias("uid"),
        F.col("event_type").alias("etype"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    ).toPandas()
    step = (len(pdf) + 7) // 8
    for i in range(8):
        chunk = pdf.iloc[i * step : (i + 1) * step]
        with open(os.path.join(base, f"part_{i}.json"), "w") as f:
            json.dump(chunk.to_dict(orient="records"), f, indent=2)
    return (
        spark.read.option("multiLine", "true")
        .schema("event_id long, uid long, etype string, cents long")
        .json(base)
        .select("event_id", "uid", "etype", "cents")
    )


@register(
    "scan_recursive_file_lookup",
    oracle="""
        SELECT event_id, user_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    """,
)
def scan_recursive_file_lookup(spark, sf_dir):
    """recursiveFileLookup=true: read a parquet tree whose files live
    at ARBITRARY nesting depths (vendor drops, manual backfills —
    layouts that are neither flat nor hive-partitioned). Partition
    discovery is disabled in this mode by contract, so directory
    names carry no columns; the op proves no file at any depth is
    missed by round-tripping events split across three differently
    nested subtrees.

    Scale: file listing is the only extra cost (driver-side tree
    walk, parallelized by Spark's InMemoryFileIndex above a
    threshold); the scan itself is ordinary splittable parquet."""
    import os

    from ..registry import scratch_dir

    e = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    base = scratch_dir("scan_recursive_file_lookup")
    paths = [
        os.path.join(base, "a"),
        os.path.join(base, "b", "deep"),
        os.path.join(base, "c", "deeper", "still"),
    ]
    for i, p in enumerate(paths):
        e.filter(F.col("event_id") % 3 == i).write.mode(
            "overwrite"
        ).parquet(p)
    return (
        spark.read.option("recursiveFileLookup", "true")
        .schema("event_id long, user_id long, event_type string, cents long")
        .parquet(base)
    )


ZORDER_BITS = 10  # rank-normalized key width; 2*BITS-bit morton code
ZORDER_BUCKET_SHIFT = 14  # 20-bit morton >> 14 = 64 fixed-width zones


def _zorder_sql_morton(pb: str, sb: str) -> str:
    """DuckDB bit-interleave expression mirroring the Spark spelling."""
    terms = []
    for k in range(ZORDER_BITS):
        terms.append(f"((({pb} >> {k}) & 1) << {2 * k})")
        terms.append(f"((({sb} >> {k}) & 1) << {2 * k + 1})")
    return " + ".join(terms)


@register(
    "sink_zorder_clustered",
    oracle=f"""
        WITH mx AS (
          SELECT CAST(max(l_partkey) AS BIGINT) AS mp,
                 CAST(max(l_suppkey) AS BIGINT) AS ms
          FROM lineitem
        ),
        z AS (
          SELECT l_partkey, l_suppkey,
                 ({_zorder_sql_morton(
                     "(l_partkey * 1024 // (mp + 1))",
                     "(l_suppkey * 1024 // (ms + 1))")})
                   >> {ZORDER_BUCKET_SHIFT} AS bucket,
                 (mp + 1) * 20 // 100 AS plo, (mp + 1) * 40 // 100 AS phi,
                 (ms + 1) * 20 // 100 AS slo, (ms + 1) * 40 // 100 AS shi
          FROM lineitem, mx
        )
        SELECT CAST(bucket AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(min(l_partkey) AS BIGINT) AS min_p,
               CAST(max(l_partkey) AS BIGINT) AS max_p,
               CAST(min(l_suppkey) AS BIGINT) AS min_s,
               CAST(max(l_suppkey) AS BIGINT) AS max_s,
               CAST(max(l_partkey) < max(plo) OR min(l_partkey) > max(phi)
                    OR max(l_suppkey) < max(slo) OR min(l_suppkey) > max(shi)
                    AS BIGINT) AS prunable_box
        FROM z GROUP BY 1
    """,
)
def sink_zorder_clustered(spark, sf_dir):
    """Z-order (Morton-interleaved) clustered parquet sink + zone
    audit — multi-dimensional clustering so range predicates on
    EITHER of two keys prune files, the layout OPTIMIZE ZORDER BY
    gives Delta tables. Both keys are rank-normalized to 10 bits
    against their max (so neither key's magnitude dominates), bit-
    interleaved into a 20-bit Morton code with pure codegen'd
    shift/and/or arithmetic (no UDF), bucketed into 64 FIXED-WIDTH
    morton zones (deterministic — no sampled range boundaries), and
    written one sorted file per zone. The audit then reads back ONLY
    the parquet FOOTERS and reports each zone's physical min/max for
    both keys plus whether a 2-D box predicate (the 20th-40th
    percentile band of each key) can skip the file. The oracle
    restates the zones and flags from the DATA with the identical
    morton arithmetic — a hash match proves the physical footer
    statistics equal the logical zone boundaries on BOTH dimensions,
    which is the whole point of z-ordering over 1-D sort
    (sink_sorted_clustered prunes on one key only).

    Scale: the morton column is map-only arithmetic; the write
    shuffles once on the zone key (64 reducers here; at 100 TB the
    same code range-partitions on the full morton code instead of
    fixed zones); the audit reads KB-sized footers, never data."""
    import glob as _glob
    import os

    import pyarrow.parquet as _pq

    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    mx = li.agg(
        F.max("l_partkey").cast("long").alias("mp"),
        F.max("l_suppkey").cast("long").alias("ms"),
    )
    z = li.crossJoin(F.broadcast(mx)).select(
        "l_partkey",
        "l_suppkey",
        F.floor(F.col("l_partkey") * 1024 / (F.col("mp") + 1)).alias("pb"),
        F.floor(F.col("l_suppkey") * 1024 / (F.col("ms") + 1)).alias("sb"),
        "mp",
        "ms",
    )
    morton = F.lit(0)
    for k in range(ZORDER_BITS):
        morton = morton + F.shiftleft(
            F.shiftright(F.col("pb"), k).bitwiseAND(F.lit(1)), 2 * k
        )
        morton = morton + F.shiftleft(
            F.shiftright(F.col("sb"), k).bitwiseAND(F.lit(1)), 2 * k + 1
        )
    zb = z.select(
        "l_partkey",
        "l_suppkey",
        morton.alias("morton"),
        F.shiftright(morton, ZORDER_BUCKET_SHIFT).alias("bucket"),
    )
    out = scratch_dir("sink_zorder_clustered")
    (
        zb.repartition("bucket")
        .sortWithinPartitions("morton")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(out)
    )
    # box predicate bounds from the same max scalars (exact int math)
    mp, ms = mx.first()
    plo, phi = (mp + 1) * 20 // 100, (mp + 1) * 40 // 100
    slo, shi = (ms + 1) * 20 // 100, (ms + 1) * 40 // 100
    rows = []
    for d in sorted(_glob.glob(os.path.join(out, "bucket=*"))):
        bucket = int(d.rsplit("=", 1)[1])
        n_rows = 0
        pmins, pmaxs, smins, smaxs = [], [], [], []
        for f in sorted(_glob.glob(os.path.join(d, "*.parquet"))):
            md = _pq.ParquetFile(f).metadata
            n_rows += md.num_rows
            for g in range(md.num_row_groups):
                stp = md.row_group(g).column(0).statistics
                sts = md.row_group(g).column(1).statistics
                pmins.append(stp.min)
                pmaxs.append(stp.max)
                smins.append(sts.min)
                smaxs.append(sts.max)
        min_p, max_p = min(pmins), max(pmaxs)
        min_s, max_s = min(smins), max(smaxs)
        prunable = int(
            max_p < plo or min_p > phi or max_s < slo or min_s > shi
        )
        rows.append((bucket, n_rows, min_p, max_p, min_s, max_s, prunable))
    return spark.createDataFrame(
        rows,
        "bucket long, n_rows long, min_p long, max_p long, "
        "min_s long, max_s long, prunable_box long",
    )


@register(
    "ingest_multiline_log_reassembly",
    oracle=f"""
        WITH k AS (
          SELECT user_id, {SQL_K} AS k FROM events
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_records,
               CAST(sum(1 + k % 3) AS BIGINT) AS n_lines,
               CAST(max(k % 3) AS BIGINT) AS max_continuations,
               round(CAST(sum(k % 3) AS DOUBLE) / count(*), 6)
                 AS avg_continuations
        FROM k GROUP BY 1
    """,
)
def ingest_multiline_log_reassembly(spark, sf_dir):
    """Multiline log-record reassembly — the classic ingest problem
    (stack traces, wrapped messages): a log file is a LINE stream
    where only header lines carry a timestamp and continuation lines
    ("  at ...") belong to the record above. The op synthesizes each
    user's log file deterministically (one header + k%3 continuation
    lines per event), explodes it back to raw lines, re-detects
    headers with a timestamp-prefix regex, assigns record ids by a
    cumulative header count per file (the gaps-and-islands move —
    order by line number WITHIN the file), and rolls the reassembled
    records up per user. The oracle restates the record/line counts
    closed-form from the synthesis parameters, so a mis-grouped
    continuation breaks the hash.

    Scale: the running-flag-sum window partitions per FILE (user) —
    log reassembly is embarrassingly parallel across files and never
    needs a global sort; at 100 TB the same window keys on
    (file, split) with boundary stitching."""
    e = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    # line ordering key within the file: event order then line order
    ordered = e.select(
        "user_id",
        "event_id",
        k.alias("k"),
    ).select(
        "user_id",
        "event_id",
        F.posexplode(
            F.concat(
                F.array(F.lit("H")),
                F.slice(F.array(F.lit("C"), F.lit("C")), 1, (F.col("k") % 3).cast("int")),
            )
        ).alias("j", "kind"),
    ).select(
        "user_id",
        (F.col("event_id") * 4 + F.col("j")).alias("line_no"),
        F.when(
            F.col("kind") == "H",
            F.concat(
                F.lit("2024-01-01T00:00:00 ERROR event "),
                F.col("event_id").cast("string"),
            ),
        )
        .otherwise(F.lit("  at frame"))
        .alias("line"),
    )
    is_header = F.col("line").rlike(r"^\d{4}-\d{2}-\d{2}T").cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy("line_no")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    rec = ordered.select(
        "user_id",
        is_header.alias("is_header"),
        F.sum(is_header).over(w).alias("record_id"),
    )
    per_rec = rec.groupBy("user_id", "record_id").agg(
        F.count(F.lit(1)).alias("n_lines_rec")
    )
    return per_rec.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum("n_lines_rec").alias("n_lines"),
        F.max(F.col("n_lines_rec") - 1).alias("max_continuations"),
        F.round(
            F.sum(F.col("n_lines_rec") - 1).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_continuations"),
    )


# ---- Avro object-container ingest (round-5 verdict ask #5) ----
# The Kinesis/Firehose ecosystem's second wire format after JSON. No
# spark-avro jar ships in this sandbox, so the decode is pure Python
# over binary payload columns — the same pattern as the P6/RIFF
# decoders in engine/ops/multimodal.py: the format handling is REAL
# (zigzag varints, deflate blocks, sync markers, schema-driven field
# decode), only the connector jar is absent.

AVRO_FIELDS = [
    ("event_id", "long"),
    ("ts_micros", "long"),
    ("user_id", "long"),
    ("event_type", "string"),
    ("value", "double"),
    ("props", "string"),
]
N_AVRO_SHARDS = 8
AVRO_BLOCK_RECORDS = 1000


def _avro_schema_json() -> str:
    import json

    return json.dumps(
        {
            "type": "record",
            "name": "Event",
            "fields": [{"name": n, "type": t} for n, t in AVRO_FIELDS],
        }
    )


def _zz_long(n: int) -> bytes:
    """Avro long: zigzag then base-128 varint, little-endian groups."""
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _enc_str(s: str) -> bytes:
    b = s.encode("utf-8")
    return _zz_long(len(b)) + b


def _avro_sync(shard: int) -> bytes:
    import hashlib

    return hashlib.md5(f"avro-sync-{shard}".encode()).digest()


def _encode_container(shard: int, rows) -> bytes:
    """One Avro OCF: magic, metadata map (schema JSON + deflate codec),
    sync marker, then deflate blocks of AVRO_BLOCK_RECORDS records."""
    import struct
    import zlib

    schema = _avro_schema_json().encode("utf-8")
    out = bytearray(b"Obj\x01")
    # metadata map: one block of 2 entries, then the 0 terminator
    out += _zz_long(2)
    out += _enc_str("avro.schema") + _zz_long(len(schema)) + schema
    out += _enc_str("avro.codec") + _enc_str("deflate")
    out += _zz_long(0)
    sync = _avro_sync(shard)
    out += sync

    def enc_record(r) -> bytes:
        b = bytearray()
        for name, typ in AVRO_FIELDS:
            v = r[name]
            if typ == "long":
                b += _zz_long(int(v))
            elif typ == "string":
                b += _enc_str(str(v))
            else:  # double: 8-byte little-endian IEEE — bit-exact
                b += struct.pack("<d", float(v))
        return bytes(b)

    for i in range(0, len(rows), AVRO_BLOCK_RECORDS):
        chunk = rows[i : i + AVRO_BLOCK_RECORDS]
        raw = b"".join(enc_record(r) for r in chunk)
        co = zlib.compressobj(6, zlib.DEFLATED, -15)  # raw deflate
        comp = co.compress(raw) + co.flush()
        out += _zz_long(len(chunk)) + _zz_long(len(comp)) + comp + sync
    return bytes(out)


class _AvroReader:
    """Minimal schema-driven OCF reader for primitive field types."""

    def __init__(self, payload: bytes):
        self.b = payload
        self.pos = 0

    def read_long(self) -> int:
        z, shift = 0, 0
        while True:
            byte = self.b[self.pos]
            self.pos += 1
            z |= (byte & 0x7F) << shift
            if not byte & 0x80:
                break
            shift += 7
        return (z >> 1) ^ -(z & 1)

    def read_bytes(self, n: int) -> bytes:
        out = self.b[self.pos : self.pos + n]
        self.pos += n
        return out

    def read_str(self) -> str:
        return self.read_bytes(self.read_long()).decode("utf-8")

    def records(self):
        import json
        import struct
        import zlib

        if self.read_bytes(4) != b"Obj\x01":
            raise ValueError("not an Avro object container")
        meta = {}
        while True:
            n = self.read_long()
            if n == 0:
                break
            if n < 0:
                # Avro spec: a negative block count is followed by the
                # block's byte size (for skippability); our writer never
                # emits this form but external OCF writers do
                self.read_long()
                n = -n
            for _ in range(n):
                # two ordered reads: Python evaluates the assignment
                # RHS before a subscript target, so the one-liner
                # d[read()] = read() reads value bytes FIRST
                key = self.read_str()
                meta[key] = self.read_str()
        schema = json.loads(meta["avro.schema"])
        fields = [(f["name"], f["type"]) for f in schema["fields"]]
        codec = meta.get("avro.codec", "null")
        sync = self.read_bytes(16)
        while self.pos < len(self.b):
            n_rec = self.read_long()
            size = self.read_long()
            data = self.read_bytes(size)
            if self.read_bytes(16) != sync:
                raise ValueError("sync marker mismatch (corrupt block)")
            if codec == "deflate":
                data = zlib.decompress(data, -15)
            r = _AvroReader(data)
            for _ in range(n_rec):
                rec = {}
                for name, typ in fields:
                    if typ == "long":
                        rec[name] = r.read_long()
                    elif typ == "string":
                        rec[name] = r.read_str()
                    elif typ == "double":
                        rec[name] = struct.unpack("<d", r.read_bytes(8))[0]
                    else:
                        raise ValueError(f"unsupported avro type {typ}")
                yield rec


AVRO_DECODE_SCHEMA = (
    "event_id long, ts_micros long, user_id long, "
    "event_type string, value double, props string"
)


def _avro_events_frame(spark, sf_dir):
    """The events projection both Avro ops encode: timestamps as
    epoch-micros longs (timestamp-micros logical type) so no engine
    timestamp formatting enters the wire bytes."""
    return table(spark, sf_dir, "events").select(
        "event_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("ts_micros"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def _avro_encode_group(pdf):
    """applyInPandas encoder: one OCF container per shard group."""
    import pandas as pd

    pdf = pdf.sort_values("event_id")
    shard = int(pdf["shard"].iloc[0])
    rows = pdf.to_dict("records")
    return pd.DataFrame(
        {"shard": [shard], "payload": [_encode_container(shard, rows)]}
    )


def _avro_decode_batches(batches):
    """mapInPandas decoder over payload rows (schema-driven)."""
    import pandas as pd

    for pdf in batches:
        out = []
        for payload in pdf["payload"]:
            out.extend(_AvroReader(bytes(payload)).records())
        if out:
            yield pd.DataFrame(out)


@register(
    "ingest_avro_container",
    oracle="""
        SELECT event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_micros,
               user_id, event_type, value, props
        FROM events
    """,
)
def ingest_avro_container(spark, sf_dir):
    """Avro object-container ingest, end to end: the events table is
    encoded into {N_AVRO_SHARDS} OCF binary payloads (one per shard —
    the Firehose delivery-object shape), written through a parquet
    binary column, read back, and DECODED with a schema-driven pure-
    Python reader inside mapInPandas — header metadata map, deflate
    blocks (raw DEFLATE, wbits=-15 per the Avro spec), per-block sync
    marker verification, zigzag-varint longs, IEEE doubles. The
    closed-form oracle checks the full round trip field-for-field
    against the source rows, which proves both directions at once.

    Scale shape: encode is applyInPandas per shard (at 100 TB the
    shard count is the Firehose partition count — thousands of
    independent model-sized groups); decode is map-only over payload
    rows, trivially parallel, no shuffle. Timestamps travel as
    epoch-micros longs (timestamp-micros logical type), so no engine
    timestamp formatting enters the wire bytes."""
    ev = _avro_events_frame(spark, sf_dir)
    payloads = (
        ev.withColumn("shard", F.pmod("event_id", F.lit(N_AVRO_SHARDS)))
        .groupBy("shard")
        .applyInPandas(_avro_encode_group, "shard long, payload binary")
    )
    base = scratch_dir("ingest_avro_container")
    payloads.write.mode("overwrite").parquet(base)
    return spark.read.parquet(base).mapInPandas(
        _avro_decode_batches, AVRO_DECODE_SCHEMA
    )


@register(
    "ingest_avro_stream",
    oracle="""
        SELECT event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_micros,
               user_id, event_type, value, props
        FROM events
    """,
)
def ingest_avro_stream(spark, sf_dir):
    """STREAMING Avro object-container ingest — the full Firehose
    delivery shape: container binaries land as files, a Structured
    Streaming file source picks them up, a stateless mapInPandas
    decodes the OCF wire format per micro-batch (the same
    schema-driven pure-Python reader as ingest_avro_container), and
    the records flow to a parquet sink through a checkpoint. Bounded
    here with availableNow; the oracle is the batch twin's closed-form
    statement, which the stream must reproduce exactly — availableNow
    processes each payload file exactly once, so stream ≡ batch.

    Scale shape: decode parallelism = payload files per micro-batch
    (thousands of delivery objects/hour in production), zero shuffle
    before the sink; checkpointed file-source offsets give
    exactly-once across restarts (the stream_file_source contract)."""
    ev = _avro_events_frame(spark, sf_dir)
    base = scratch_dir("ingest_avro_stream")
    src, sink, ckpt = f"{base}/src", f"{base}/sink", f"{base}/ckpt"
    (
        ev.withColumn("shard", F.pmod("event_id", F.lit(N_AVRO_SHARDS)))
        .groupBy("shard")
        .applyInPandas(_avro_encode_group, "shard long, payload binary")
        .write.mode("overwrite")
        .parquet(src)
    )
    stream = spark.readStream.schema("shard long, payload binary").parquet(
        src
    )
    decoded = stream.mapInPandas(_avro_decode_batches, AVRO_DECODE_SCHEMA)
    run_available_now(
        decoded.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt),
        "ingest_avro_stream",
        300,
    )
    return spark.read.schema(AVRO_DECODE_SCHEMA).parquet(sink)


WARC_SHARDS = 8
WARC_URI_PREFIX = "http://corpus.local/doc/"
_WARC_HTTP_PREFIX = b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n"


def _warc_encode_group(pdf):
    """One gzipped WARC delivery object per shard: each record is its
    OWN gzip member (the .warc.gz spec requirement — per-record
    members keep the file seekable), containing version line, WARC
    headers, Content-Length-framed block, and the two-CRLF record
    terminator; the block itself is a full HTTP response (status line
    + headers + body), so the payload CONTAINS the \\r\\n\\r\\n
    separator sequence — framing must come from Content-Length, never
    from scanning for separators (the classic WARC parser bug)."""
    import zlib

    import pandas as pd

    members = []
    for doc_id, text in sorted(zip(pdf["doc_id"], pdf["text"])):
        body = _WARC_HTTP_PREFIX + str(text).encode("utf-8")
        headers = (
            "WARC/1.0\r\n"
            "WARC-Type: response\r\n"
            f"WARC-Target-URI: {WARC_URI_PREFIX}{int(doc_id)}\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode("ascii")
        co = zlib.compressobj(wbits=31)  # gzip member framing
        members.append(co.compress(headers + body + b"\r\n\r\n") + co.flush())
    return pd.DataFrame(
        {
            "shard_id": [int(pdf["shard_id"].iloc[0])],
            "blob": [b"".join(members)],
        }
    )


WARC_DECODE_SCHEMA = (
    "doc_id long, shard_id long, member_seq long,"
    " content_length long, uri string, body string"
)


def _warc_decode_batches(batches):
    """Pure-Python .warc.gz reader: iterate gzip MEMBERS with
    decompressobj(wbits=31) + unused_data (multi-member concatenation
    — the corner single-shot gunzip silently truncates), parse WARC
    headers, frame the block by Content-Length (never by separator
    scan: the HTTP payload embeds \\r\\n\\r\\n), verify the record
    terminator, then parse the inner HTTP response. Raises on any
    malformed byte — version line, missing headers, short block, bad
    terminator, non-200 status."""
    import zlib

    import pandas as pd

    for pdf in batches:
        out = {
            "doc_id": [],
            "shard_id": [],
            "member_seq": [],
            "content_length": [],
            "uri": [],
            "body": [],
        }
        for shard_id, blob in zip(pdf["shard_id"], pdf["blob"]):
            data, seq = bytes(blob), 0
            while data:
                do = zlib.decompressobj(wbits=31)
                rec = do.decompress(data)
                if not do.eof:
                    # zlib returns partial output for a truncated
                    # member WITHOUT raising (the trailer CRC is only
                    # verified at stream end) — require a complete,
                    # trailer-verified member explicitly
                    raise ValueError("truncated gzip member")
                data = do.unused_data
                seq += 1
                head_end = rec.index(b"\r\n\r\n")
                lines = rec[:head_end].decode("ascii").split("\r\n")
                if lines[0] != "WARC/1.0":
                    raise ValueError(f"bad WARC version line: {lines[0]!r}")
                h = dict(ln.split(": ", 1) for ln in lines[1:])
                clen = int(h["Content-Length"])
                block = rec[head_end + 4 : head_end + 4 + clen]
                if len(block) != clen:
                    raise ValueError("short WARC block")
                if rec[head_end + 4 + clen :] != b"\r\n\r\n":
                    raise ValueError("bad WARC record terminator")
                he = block.index(b"\r\n\r\n")
                if block[:he].split(b"\r\n")[0] != b"HTTP/1.1 200 OK":
                    raise ValueError("unexpected HTTP status line")
                uri = h["WARC-Target-URI"]
                out["doc_id"].append(int(uri.rsplit("/", 1)[1]))
                out["shard_id"].append(int(shard_id))
                out["member_seq"].append(seq)
                out["content_length"].append(clen)
                out["uri"].append(uri)
                out["body"].append(block[he + 4 :].decode("utf-8"))
        yield pd.DataFrame(out)


_WARC_ORACLE = f"""
    SELECT doc_id,
           doc_id % {WARC_SHARDS} AS shard_id,
           CAST(row_number() OVER (PARTITION BY doc_id % {WARC_SHARDS}
                ORDER BY doc_id) AS BIGINT) AS member_seq,
           CAST({len(_WARC_HTTP_PREFIX)} + strlen(text) AS BIGINT)
             AS content_length,
           '{WARC_URI_PREFIX}' || doc_id AS uri,
           text AS body
    FROM documents
"""


@register("ingest_warc_gzip", oracle=_WARC_ORACLE)
def ingest_warc_gzip(spark, sf_dir):
    """Gzipped-WARC corpus ingest — the Common Crawl wire format every
    LLM data pipeline starts from, decoded for real in pure Python:
    documents are packed into {WARC_SHARDS} .warc.gz delivery objects
    (per-record gzip members, WARC/1.0 headers, Content-Length-framed
    HTTP-response blocks), round-tripped through a parquet binary
    column, and decoded with a mapInPandas reader that iterates gzip
    members via unused_data, frames blocks by Content-Length (the
    payload deliberately CONTAINS the record-separator byte sequence,
    so separator-scanning parsers break — the classic WARC bug), and
    verifies version line, terminator, and HTTP status per record.
    The closed-form oracle checks uri/shard/member-order/byte-length/
    body for every document, proving both encode and decode.

    Scale shape: encode is applyInPandas per shard (Common Crawl ships
    ~72k WARC files per crawl — independent model-sized groups);
    decode is map-only over delivery objects, no shuffle; at 100 TB
    the decode parallelism is the file count, exactly how warcio-based
    extraction jobs parallelize."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    payloads = (
        d.withColumn("shard_id", F.pmod("doc_id", F.lit(WARC_SHARDS)))
        .groupBy("shard_id")
        .applyInPandas(_warc_encode_group, "shard_id long, blob binary")
    )
    base = scratch_dir("ingest_warc_gzip")
    payloads.write.mode("overwrite").parquet(base)
    return spark.read.parquet(base).mapInPandas(
        _warc_decode_batches, WARC_DECODE_SCHEMA
    )


@register("ingest_warc_stream", oracle=_WARC_ORACLE)
def ingest_warc_stream(spark, sf_dir):
    """STREAMING gzipped-WARC ingest — crawl delivery objects land as
    files, a Structured Streaming file source picks them up, the same
    pure-Python .warc.gz reader decodes each micro-batch statelessly,
    and records flow to a checkpointed parquet sink (availableNow-
    bounded). Stream ≡ batch: the oracle is the batch twin's
    closed-form statement, and the file source's checkpointed offsets
    give exactly-once across restarts (the stream_file_source
    contract). Decode parallelism = delivery objects per micro-batch;
    zero shuffle before the sink."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    base = scratch_dir("ingest_warc_stream")
    src, sink, ckpt = f"{base}/src", f"{base}/sink", f"{base}/ckpt"
    (
        d.withColumn("shard_id", F.pmod("doc_id", F.lit(WARC_SHARDS)))
        .groupBy("shard_id")
        .applyInPandas(_warc_encode_group, "shard_id long, blob binary")
        .write.mode("overwrite")
        .parquet(src)
    )
    stream = spark.readStream.schema("shard_id long, blob binary").parquet(
        src
    )
    decoded = stream.mapInPandas(_warc_decode_batches, WARC_DECODE_SCHEMA)
    run_available_now(
        decoded.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt),
        "ingest_warc_stream",
        300,
    )
    return spark.read.schema(WARC_DECODE_SCHEMA).parquet(sink)
