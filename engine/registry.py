"""Query/oracle registry (SURVEY §7).

Implementing an operator and declaring its DuckDB oracle is ONE code
change: decorate the query function with ``@register(name, oracle=...)``.
``__spark_entry__.py`` exposes the accumulated dicts to the driver.

Contract (driver, ``__spark_entry__.py`` docstring):
- query fn: ``(spark, sf_dir) -> DataFrame``
- oracle: ANSI SQL for DuckDB over pre-registered views
  ``region nation customer supplier part orders lineitem events
  documents embeddings``; omit (None) for rows-only checks.
- column names must match between the two — alias everything computed.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: Optional[str] = None):
    def deco(fn: QueryFn) -> QueryFn:
        from .session import apply_runtime_confs

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str, **kwargs) -> DataFrame:
            # kwargs pass through to operators with tuning parameters
            # (e.g. dedup_ngram_jaccard's max_doc_freq); the driver
            # contract itself always calls with (spark, sf_dir) only.
            apply_runtime_confs(spark)
            return fn(spark, sf_dir, **kwargs)
        if name in QUERIES:
            raise ValueError(f"duplicate query id: {name}")
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped

    return deco


def scratch_root() -> str:
    """The engine's scratch root for this Spark application:
    ``<SparkFiles root>/engine``. Spark creates the SparkFiles root
    (``<spark.local.dir>/spark-<uuid>/userFiles-<uuid>``) fresh for
    each SparkContext and deletes it on ``stop()`` or JVM shutdown, so
    two applications never share a scratch path and nothing outlives
    the application. Driver-side only."""
    import os

    from pyspark import SparkFiles

    d = os.path.join(SparkFiles.getRootDirectory(), "engine")
    os.makedirs(d, exist_ok=True)
    return d


def scratch_dir(name: str) -> str:
    """Stable per-operator scratch directory, wiped at each call.

    Side-effectful operators (sinks, bucketed tables, round-trips)
    write here instead of a fresh mkdtemp so repeated runs are bounded
    to ONE copy on disk; wiping (not reusing) keeps streaming
    checkpoints and sink contents fresh per run."""
    import os
    import shutil

    d = os.path.join(scratch_root(), name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def shared_artifact(key: str, build: Callable[[str], None]) -> str:
    """Build-once, read-many artifact dir ``scratch_root()/<key>``.

    The first caller runs ``build(staging_dir)`` into a fresh
    ``<key>.staging-<uuid>`` dir and publishes it with one atomic
    rename, so a reader never sees a half-written artifact; a failed
    build removes its staging dir and re-raises; a builder that loses
    the rename race discards its copy and serves the winner's. Later
    callers get the published path without building."""
    import os
    import shutil
    import uuid

    pub = os.path.join(scratch_root(), key)
    if os.path.exists(pub):
        return pub
    tmp = f"{pub}.staging-{uuid.uuid4().hex[:8]}"
    try:
        os.makedirs(tmp)
        build(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, pub)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
    return pub


def corpus_key(sf_dir: str, tag: str, name: str = "documents") -> str:
    """`shared_artifact` key part for what ``tag`` builds from table
    ``name``: its file listing (path, size, mtime), so a changed
    corpus never serves a stale artifact."""
    import hashlib
    import os

    src = os.path.join(sf_dir, f"{name}.parquet")
    files = (
        sorted(os.path.join(r, f) for r, _d, fs in os.walk(src) for f in fs)
        if os.path.isdir(src)
        else [src]
    )
    parts = [tag]
    for p in files:
        st, rel = os.stat(p), os.path.relpath(p, sf_dir)
        parts.append(f"{rel}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:16]


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-generated parquet table (TESTDATA.md).

    ``events.ts`` is parquet TIMESTAMP(NANOS,false), which Spark's
    vectorized reader rejects outright (PARQUET_TYPE_ILLEGAL). We read
    it via ``spark.sql.legacy.parquet.nanosAsLong`` and rebuild the
    timestamp at microsecond precision — lossless here (no sub-µs
    parts in the data, verified in FIXTURES.md) — as TIMESTAMP_NTZ so
    it compares bit-for-bit with DuckDB's naive reading. Session tz is
    UTC (session.apply_runtime_confs), so the LTZ→NTZ cast is a no-op
    on the wall clock.
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            from pyspark.sql import functions as F

            df = df.withColumn(
                "ts", F.expr("CAST(timestamp_micros(ts div 1000) AS TIMESTAMP_NTZ)")
            )
        return df
    return spark.read.parquet(path)


def fan_out(df: DataFrame, key: Optional[str] = None) -> DataFrame:
    """Spread a narrow scan across the core budget before a CPU-bound
    per-row chain (flow-log line renders and parses, broadcast-centroid
    dot folds, PQ encodes, Python evals). The fixture tables are
    single-row-group files that read as ONE split, so every per-row
    step before the first exchange would otherwise run on one task
    while the other cores idle (measured: the IVF lifecycle build's
    assign+encode stages ran 2.2-2.7 s single-task at sf0.1; moving
    the flow-log render after the fan-out cut a 100k-event flow
    analytics refresh from 4.2 to 3.3 s on 4 cores). The batch
    stand-in for the many-shard parallelism a real Kinesis or
    multi-file source provides natively.

    Hash-partitions on ``key``, or round-robins when ``key`` is None,
    into ``spark.sql.shuffle.partitions`` partitions. No-op when the
    input already has enough partitions — production scans have
    natural splits, so the extra exchange never fires there."""
    spark = df.sparkSession
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if df.rdd.getNumPartitions() >= min(8, target):
        return df
    if key is None:
        return df.repartition(target)
    return df.repartition(target, key)
