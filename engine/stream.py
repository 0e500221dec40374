"""The stream runner: the exactly-once recipe of Structured Streaming
(a replayable file source, a checkpoint, idempotent per-batch writes)
spelled once for every checkpointed rig in ``engine/ops``.

- `run_available_now` drains a query with ``availableNow`` and bounds
  the wait.
- The ordered file feed: `stage_feed` slices a rig's increments on
  its ``batch_of`` Column into one `feed_file` each, `order_feed`
  sets a feed's admission order, `put_file` writes (or rewrites) one
  file, `read_feed` reads one file per micro-batch, and
  `committed_src_batches` parses the checkpoint's source log.
- `run_increments` drains a staged feed; the batch id is the data's
  ``min(batch_of)``, never the epoch id (which shifts on restart).
- `publish_marker` / `read_marker` are the write-last marker: the
  marker file appears atomically and only after the artifacts it
  covers, so its presence implies them.
- `fail_point` is the test hook that kills a rig in a torn state
  (artifacts written, checkpoint not yet committed).
- `write_batch_sink` / `read_batch_sink` write and read back a rig's
  per-batch sink.
- `batch_fan` sizes a micro-batch's compute.

The generation layout those writes build (``gen=g`` dirs, compacted
and purged or recoded twins, the strictly-past read and the GC) lives
in ``engine/generations.py``.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import time

from pyspark.sql import functions as F

from .registry import shared_artifact


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


def feed_file(src, b):
    """The staged file of increment ``b`` in the feed under ``src``."""
    return f"{src}/batch_{b}.parquet"


def committed_src_batches(ckpt):
    """Increment ids whose feed files the checkpoint has fully
    COMMITTED — admitted in the offsets log AND covered by a commit
    file. This is the replay horizon's complement: any batch NOT in
    this set may be re-run on restart and therefore still needs its
    per-generation index inputs. Parses the file-source metadata log
    (ckpt/sources/0/<epoch>: a v1 header plus one JSON entry per
    admitted file) against the commit log directory — the same two
    logs Spark's own recovery reads, so the GC decision uses the
    engine's actual ground truth, not a shadow bookkeeping table."""
    commits = {
        int(f)
        for f in os.listdir(f"{ckpt}/commits")
        if not f.startswith(".")
    }
    out = set()
    for epoch in commits:
        # the source log is compacted every compactInterval (10)
        # epochs into "<epoch>.compact", which replaces the plain file
        for p in (
            f"{ckpt}/sources/0/{epoch}",
            f"{ckpt}/sources/0/{epoch}.compact",
        ):
            if not os.path.exists(p):
                continue
            with open(p) as f:
                for line in f:
                    line = line.strip()
                    if not line.startswith("{"):
                        continue
                    m = re.fullmatch(
                        r"batch_(\d+)\.parquet",
                        os.path.basename(json.loads(line)["path"]),
                    )
                    if m:
                        out.add(int(m[1]))
    return out


def order_feed(paths):
    """The one admission order of a file feed: give ``paths`` strictly
    increasing mtimes, oldest first, 10 s apart and ending 10 s in the
    past, so the file source (oldest-first, `read_feed`) admits them in
    list order."""
    now = time.time()
    for i, p in enumerate(paths):
        ts = now - 10 * (len(paths) - i)
        os.utime(p, (ts, ts))


def put_file(df, stage, dst):
    """Write the one-partition frame ``df`` as the single parquet file
    ``dst``: a write into the ``stage`` dir, then an atomic
    ``os.replace`` of its part file. A rewrite of an existing ``dst``
    keeps its mtime, so a feed file keeps its admission slot and a
    restarted stream sees the same, already-committed listing."""
    old = os.stat(dst).st_mtime if os.path.exists(dst) else None
    df.write.mode("overwrite").parquet(stage)
    part = next(f for f in os.listdir(stage) if f.startswith("part-"))
    os.replace(os.path.join(stage, part), dst)
    if old is not None:
        os.utime(dst, (old, old))


def stage_feed(df, base, src, batch_of, n, feed_key=None, heavy=False):
    """Stage a rig's feed: slice ``df`` on ``batch_of == b`` into ONE
    file `feed_file(src, b)` per increment ``b`` in ``0..n-1``, in
    admission order (`order_feed`). Skips when the last file exists:
    a restart must see the offsets log the first run checkpointed.

    ``feed_key`` (a `registry.corpus_key`): the slices are built ONCE
    per application into a `registry.shared_artifact` dir, keyed also
    on the schema, ``batch_of`` and ``n``, and each rig COPIES them
    (a rig may rewrite its feed; the cache must not change). Delete
    rigs pass none: a shared cache outside the purge/audit perimeter
    would keep the deleted text."""
    if os.path.exists(feed_file(src, n - 1)):
        return
    os.makedirs(src, exist_ok=True)

    def build(dst_dir, stage_root):
        # heavy=True: compute the feed transform ONCE, distributed,
        # and end each slice in repartition(1) — coalesce(1) would pull
        # the whole chain into one task (5.5 s per drifted slice). A
        # plain table feed is a single-split scan, where coalesce(1)
        # is free and a cache measured +26%. persist, not
        # localCheckpoint, so the cache is freed after the slices.
        src_df = df.persist() if heavy else df
        try:
            for b in range(n):
                part = src_df.filter(batch_of == b)
                put_file(
                    part.repartition(1) if heavy else part.coalesce(1),
                    f"{stage_root}/b{b}",
                    feed_file(dst_dir, b),
                )
        finally:
            if heavy:
                src_df.unpersist(blocking=True)

    if feed_key is None:
        build(src, f"{base}/stage")
    else:
        sig = "|".join(
            [feed_key, df.schema.simpleString(), str(batch_of), str(n)]
        )

        def build_shared(tmp):
            build(tmp, f"{tmp}/stage")
            shutil.rmtree(f"{tmp}/stage", ignore_errors=True)

        shared = shared_artifact(
            f"feed_{hashlib.md5(sig.encode()).hexdigest()[:16]}", build_shared
        )
        for b in range(n):
            shutil.copy(feed_file(shared, b), feed_file(src, b))
    order_feed([feed_file(src, b) for b in range(n)])


def read_feed(spark, src, schema=None, fmt="parquet"):
    """The ordered file feed under ``src`` as a stream of ``fmt``
    files: admitted oldest-first by mtime (`order_feed`), one file per
    micro-batch."""
    reader = spark.readStream.format(fmt).option("maxFilesPerTrigger", 1)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(src)


def run_increments(spark, src, schema, ckpt, batch_of, process, name, timeout):
    """Drain the staged increment feed under ``src`` (`stage_feed`,
    one file per micro-batch) through ``process(batch_df, b)``. ONE
    driver action per micro-batch derives both emptiness and the batch
    id: ``min(batch_of)``, the same Column the feed was sliced on.
    Every rig's ``batch_of`` is monotone in its id and each file holds
    one increment, so any member yields the same id and a replayed
    batch keeps it (never the epoch id, which shifts across
    restarts); an empty micro-batch is skipped."""

    def each(batch_df, epoch_id):
        b = batch_df.agg(F.min(batch_of)).collect()[0][0]
        if b is None:
            return
        process(batch_df, b)

    return run_available_now(
        read_feed(spark, src, schema)
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


def write_batch_sink(out, sink, b):
    """Write batch ``b``'s output as ONE file under ``<sink>/batch_id=b``
    (a deterministic overwrite: a replayed batch converges to the
    same bytes)."""
    out.coalesce(1).write.mode("overwrite").parquet(f"{sink}/batch_id={b}")


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

