"""Ingest path (SURVEY §3 E1): envelope decode + flow-log parse.

The sandbox has no Kinesis, so the envelope fixtures are synthesized
from the `events` table with the same deterministic expressions used
by the DuckDB oracles — the decode pipeline is then verified
value-by-value end to end (synthesize → gzip+base64 → decode →
explode → parse).

Scale notes: gzip decode runs in mapInPandas (Arrow batches, one
Python worker per core); everything before and after is JVM-side.
Flow-log lines are rendered after ``registry.fan_out`` spreads the
single-split events scan (``flowlog_lines``), so the render runs on
every core instead of in the scan's one task.
"""

from __future__ import annotations

import base64
import gzip

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .registry import fan_out
from .schemas import ENVELOPE_SCHEMA, FLOWLOG_DDL

# --- deterministic flow-log line synthesis (shared with the oracles) -------


def _k():
    return F.get_json_object("props", "$.k").cast("long")


def _epoch_seconds():
    # ts is TIMESTAMP_NTZ; session tz is UTC so the LTZ cast is exact.
    return F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000000")


def flowlog_line_col():
    """VPC Flow Logs v2 line rendered from an `events` row.

    The DuckDB twin of this expression is engine.ops.ingest_ops.SQL_LINE —
    keep the two in lockstep.
    """
    k = _k()
    start = _epoch_seconds()
    return F.concat_ws(
        " ",
        F.lit("2"),
        F.col("user_id").cast("string"),
        F.concat(F.lit("eni-"), F.col("user_id").cast("string")),
        F.concat(F.lit("10.0."), (k % 256).cast("string"), F.lit("."), ((k * 7) % 256).cast("string")),
        F.concat(F.lit("10.1."), ((k * 3) % 256).cast("string"), F.lit("."), ((k * 11) % 256).cast("string")),
        (k + 1024).cast("string"),
        F.lit("443"),
        F.lit("6"),
        F.round("value").cast("long").cast("string"),
        F.round(F.col("value") * 100).cast("long").cast("string"),
        start.cast("string"),
        (start + 60).cast("string"),
        F.when(F.col("event_type") == "error", "REJECT").otherwise("ACCEPT"),
        F.lit("OK"),
    )


def flowlog_lines(events: DataFrame, *keep: str) -> DataFrame:
    """The ``keep`` columns of `events` plus its rendered flow-log
    ``line``, rendered after the scan is fanned out."""
    return fan_out(events).select(*keep, flowlog_line_col().alias("line"))


# DuckDB twin of flowlog_line_col(); '||' so NULL would propagate loudly.
SQL_K = "CAST(json_extract_string(props, '$.k') AS BIGINT)"
SQL_EPOCH = "(epoch_ns(ts) // 1000000000)"
SQL_LINE = f"""
    '2 ' || CAST(user_id AS VARCHAR)
    || ' eni-' || CAST(user_id AS VARCHAR)
    || ' 10.0.' || CAST({SQL_K} % 256 AS VARCHAR) || '.' || CAST(({SQL_K}*7) % 256 AS VARCHAR)
    || ' 10.1.' || CAST(({SQL_K}*3) % 256 AS VARCHAR) || '.' || CAST(({SQL_K}*11) % 256 AS VARCHAR)
    || ' ' || CAST({SQL_K} + 1024 AS VARCHAR)
    || ' 443 6 '
    || CAST(CAST(round(value) AS BIGINT) AS VARCHAR)
    || ' ' || CAST(CAST(round(value*100) AS BIGINT) AS VARCHAR)
    || ' ' || CAST({SQL_EPOCH} AS VARCHAR)
    || ' ' || CAST({SQL_EPOCH} + 60 AS VARCHAR)
    || ' ' || CASE WHEN event_type = 'error' THEN 'REJECT' ELSE 'ACCEPT' END
    || ' OK'
"""


# --- envelope synthesis (events → base64(gzip(JSON))) -----------------------


def synthesize_envelopes(events: DataFrame) -> DataFrame:
    """One CloudWatch envelope per user_id, logEvents sorted by id for
    determinism; payload = base64(gzip(envelope JSON))."""
    env_json = (
        flowlog_lines(events, "user_id", "event_id", "ts")
        .select(
            "user_id",
            F.struct(
                F.col("event_id").cast("string").alias("id"),
                F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000").alias(
                    "timestamp"
                ),
                F.col("line").alias("message"),
            ).alias("ev"),
        )
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list("ev")).alias("logEvents"))
        .select(
            F.to_json(
                F.struct(
                    F.lit("DATA_MESSAGE").alias("messageType"),
                    F.col("user_id").cast("string").alias("owner"),
                    F.lit("/vpc/flowlogs").alias("logGroup"),
                    F.concat(
                        F.lit("eni-"), F.col("user_id").cast("string"), F.lit("-all")
                    ).alias("logStream"),
                    F.array(F.lit("all-traffic")).alias("subscriptionFilters"),
                    F.col("logEvents"),
                )
            ).alias("envelope_json")
        )
    )

    def pack(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "payload": [
                        base64.b64encode(gzip.compress(s.encode("utf-8"))).decode(
                            "ascii"
                        )
                        for s in pdf["envelope_json"]
                    ]
                }
            )

    return env_json.mapInPandas(pack, "payload string")


# --- envelope decode (the reference pipeline's core transform) --------------


def decode_envelopes(payloads: DataFrame) -> DataFrame:
    """base64 → gzip → JSON → explode(logEvents): one row per log event.

    unbase64 is JVM-side; gunzip is the one genuinely-Python step
    (mapInPandas over Arrow binary batches); from_json/explode are
    Catalyst again.
    """

    def gunzip(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {"doc": [gzip.decompress(b).decode("utf-8") for b in pdf["raw"]]}
            )

    raw = payloads.select(F.unbase64("payload").alias("raw"))
    docs = raw.mapInPandas(gunzip, "doc string")
    env = docs.select(F.from_json("doc", ENVELOPE_SCHEMA).alias("env"))
    return env.select(
        F.col("env.owner").alias("owner"),
        F.col("env.logGroup").alias("log_group"),
        F.col("env.logStream").alias("log_stream"),
        F.explode("env.logEvents").alias("ev"),
    ).select(
        "owner",
        "log_group",
        "log_stream",
        F.col("ev.id").alias("id"),
        F.col("ev.timestamp").alias("timestamp"),
        F.col("ev.message").alias("message"),
    )


def parse_flowlog_lines(lines: DataFrame, line_col: str = "line") -> DataFrame:
    """Space-delimited v2 line → typed columns via from_csv (JVM-side)."""
    parsed = lines.withColumn(
        "f", F.from_csv(F.col(line_col), FLOWLOG_DDL, {"sep": " "})
    )
    return parsed.select([f"f.{c}" for c in parsed.select("f.*").columns] + [
        c for c in lines.columns if c != line_col
    ])
