"""The stream runner: the exactly-once recipe of Structured Streaming
(a replayable file source, a checkpoint, idempotent per-batch writes)
spelled once for every checkpointed rig in ``engine/ops``.

- `run_available_now` drains a query with ``availableNow`` and bounds
  the wait.
- `run_increments` feeds one staged increment file per micro-batch
  and derives the batch id from the data (never the epoch id, which
  shifts across restarts).
- `publish_marker` / `read_marker` are the write-last marker: the
  marker file appears atomically and only after the artifacts it
  covers, so its presence implies them.
- `fail_point` is the test hook that kills a rig in a torn state
  (artifacts written, checkpoint not yet committed).
- `read_batch_sink` reads back a rig's per-batch sink.
- `batch_fan` sizes a micro-batch's compute.

The generation layout those writes build (``gen=g`` dirs, compacted
and purged or recoded twins, the strictly-past read and the GC) lives
in ``engine/generations.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def run_available_now(writer, name, timeout):
    """Start ``writer`` with ``trigger(availableNow=True)`` and wait up
    to ``timeout`` seconds for it to drain. On timeout the query is
    stopped and ``TimeoutError`` raised; otherwise the finished query
    is returned (``recentProgress`` stays readable)."""
    q = writer.trigger(availableNow=True).start()
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(
            f"{name}: availableNow query exceeded {timeout}s"
        )
    return q


def run_increments(
    spark, src, schema, ckpt, id_col, batch_of, process, name, timeout
):
    """Drain the staged increment feed under ``src`` (one parquet file
    per increment, admitted oldest-first, one file per micro-batch)
    through ``process(batch_df, b)``. ONE driver action per micro-batch
    derives both emptiness and the batch id: ``min(id_col)``, mapped
    through ``batch_of``. Increments are id ranges, so any member
    yields the same id and a replayed batch keeps it; an empty
    micro-batch is skipped."""

    def each(batch_df, epoch_id):
        mn = batch_df.agg(F.min(id_col)).collect()[0][0]
        if mn is None:
            return
        process(batch_df, batch_of(mn))

    return run_available_now(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(each)
        .option("checkpointLocation", ckpt),
        name,
        timeout,
    )


def publish_marker(path, value):
    """Publish ``str(value)`` at ``path`` LAST and atomically (write a
    ``.tmp`` sibling, then ``os.replace``), so a reader never sees a
    marker whose artifacts are incomplete."""
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        f.write(str(value))
    os.replace(tmp, path)


def read_marker(path):
    """The integer a published marker holds, or None if not yet
    published."""
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return int(f.read().strip())


def read_batch_sink(spark, sink, n):
    """The per-batch sink ``<sink>/batch_id=b`` of batches ``0..n-1``:
    ONE basePath scan of the batch dirs that exist (a batch whose
    output was purged or never written has none), with ``batch_id``
    cast to long."""
    paths = [
        f"{sink}/batch_id={b}"
        for b in range(n)
        if os.path.exists(f"{sink}/batch_id={b}")
    ]
    return (
        spark.read.option("basePath", sink)
        .parquet(*paths)
        .withColumn("batch_id", F.col("batch_id").cast("long"))
    )


def fail_point(fail_at_batch, fail_phase, b, phase):
    """Raise an injected failure when increment ``b`` reaches
    ``phase`` and the rig was asked to fail exactly there: the torn
    states (artifacts written, checkpoint not committed) that the
    restart tests replay."""
    if fail_at_batch is not None and b == fail_at_batch and fail_phase == phase:
        raise RuntimeError(f"injected failure: increment {b} at {phase}")


def batch_fan(df):
    """Partition fan for a document batch's CPU-bound shingle/minhash
    chain, derived from the batch's INPUT SIZE instead of a constant
    (a constant tuned for either local mode or the cluster is wrong at
    the other scale).
    One task per ~512 KB of input, clamped to [4, shuffle.partitions]:
    a toy increment keeps enough fan for the md5-minhash compute
    without shattering every index generation into 32 tiny files
    (whose read-back cost recurs in every later batch), while a real
    increment spreads across the full core budget."""
    spark = df.sparkSession
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        paths = df.inputFiles()
        if not paths or any(
            not p.startswith(("file:", "/")) for p in paths
        ):
            # no resolvable local files — stream micro-batch frames
            # report NO inputFiles (measured: every foreachBatch frame
            # here), so fall back to the optimized plan's statistics,
            # which carry the exact source-slice bytes for file-backed
            # micro-batches. Only a genuinely unknown estimate (the
            # huge default sentinel) keeps the full fan — returning
            # the full fan for EVERY micro-batch re-created the
            # 32-sliver-files-per-generation problem `batch_fan`
            # exists to fix (a measured full-suite regression).
            n_bytes = int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
            if n_bytes <= 0 or n_bytes >= (1 << 50):
                return target
        else:
            n_bytes = sum(
                os.path.getsize(p.removeprefix("file:")) for p in paths
            )
    except Exception:
        return target
    return max(4, min(target, -(-n_bytes // (512 * 1024))))

