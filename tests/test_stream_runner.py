"""engine/stream.py: the one stream runner every checkpointed rig in
engine/ops uses (ordered file feed, availableNow drain, data-derived
batch id, write-last marker, fault points), plus the empty-generation
twins its rigs' folded writes rely on
(engine/generations.ensure_gen_dirs)."""

from __future__ import annotations

import glob
import os
import re

import pytest

import engine
from tests.conftest import SMOKE_SF_DIR

OPS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "engine", "ops"
)


def test_run_available_now_times_out_and_stops_the_query(spark, tmp_path):
    import time

    from engine.stream import run_available_now

    src = str(tmp_path / "src")
    spark.range(10).write.parquet(src)

    def slow(batch_df, epoch_id):
        time.sleep(4)

    writer = (
        spark.readStream.schema("id long")
        .parquet(src)
        .writeStream.foreachBatch(slow)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
    )
    with pytest.raises(TimeoutError, match="slow_rig"):
        run_available_now(writer, "slow_rig", 1)
    assert spark.streams.active == []


def test_run_increments_keys_batches_on_the_data(spark, tmp_path):
    """``stage_feed`` slices one file per increment in admission order;
    each is one micro-batch and ``process`` receives its
    ``min(batch_of)``, for a div mapping and for an id-range mapping
    over cut points. A restart on the same checkpoint replays only
    the torn batch and then nothing that was committed."""
    from pyspark.sql import functions as F

    from engine.stream import run_increments, stage_feed

    df = spark.range(0, 300, 1, 1)
    mappings = {
        "div": (F.expr("id div 100"), [100, 100, 100]),
        "cuts": (
            sum((F.col("id") >= c).cast("int") for c in (50, 250)),
            [50, 200, 50],
        ),
    }
    for name, (batch_of, sizes) in mappings.items():
        base = str(tmp_path / name)
        src = f"{base}/src"
        stage_feed(df, base, src, batch_of, 3)
        files = sorted(
            os.listdir(src), key=lambda f: os.stat(f"{src}/{f}").st_mtime
        )
        assert files == [f"batch_{b}.parquet" for b in range(3)]
        seen, torn = [], {1} if name == "cuts" else set()

        def process(batch_df, b):
            if b in torn:
                torn.discard(b)
                raise RuntimeError("torn batch")
            seen.append((b, batch_df.count()))

        def run():
            run_increments(
                spark, src, "id long", f"{base}/ckpt", batch_of, process,
                "test_increments", 300,
            )

        if torn:
            with pytest.raises(Exception, match="torn batch"):
                run()
            assert seen == [(0, sizes[0])]
        run()
        assert seen == list(enumerate(sizes))
        run()
        assert len(seen) == 3


def test_publish_marker_is_read_back_and_leaves_no_tmp(tmp_path):
    from engine.stream import publish_marker, read_marker

    path = str(tmp_path / "compacted_upto")
    assert read_marker(path) is None
    publish_marker(path, 2)
    assert read_marker(path) == 2
    publish_marker(path, 3)
    assert read_marker(path) == 3
    assert glob.glob(str(tmp_path / "*.tmp")) == []


def test_fail_point_fires_only_on_its_batch_and_phase():
    from engine.stream import fail_point

    fail_point(None, "pre_sink", 1, "pre_sink")
    fail_point(2, "pre_sink", 1, "pre_sink")
    fail_point(1, "post_compact", 1, "pre_sink")
    with pytest.raises(RuntimeError, match="injected failure"):
        fail_point(1, "pre_sink", 1, "pre_sink")


def test_ensure_gen_dirs_matches_a_cluster_nested_layout(spark, tmp_path):
    """A generation whose rows are all purged is skipped by the
    partitionBy("gen", "cluster") write; its empty twin must sit at the
    siblings' nesting so a basePath read over every gen dir (the serving
    read) still discovers one consistent partition layout."""
    from pyspark.sql import functions as F

    from engine.generations import ensure_gen_dirs

    orig = str(tmp_path / "codes")
    twin = str(tmp_path / "codes_p")
    (
        spark.range(0, 40)
        .select(
            F.col("id").alias("vec_id"),
            (F.col("id") * 7).alias("code"),
            (F.col("id") % 2).alias("gen"),
            (F.col("id") % 3).alias("cluster"),
        )
        .write.partitionBy("gen", "cluster")
        .parquet(orig)
    )
    purge = F.col("vec_id") % 2 == 1  # every row of gen=1
    (
        spark.read.parquet(orig)
        .filter(~purge)
        .write.partitionBy("gen", "cluster")
        .parquet(twin)
    )
    assert not os.path.exists(f"{twin}/gen=1")
    ensure_gen_dirs(
        spark, twin, 1,
        lambda g: spark.read.parquet(f"{orig}/gen={g}").filter(~purge),
    )
    assert [d for d in os.listdir(f"{twin}/gen=1") if "=" in d] == [
        "cluster=0"
    ]
    served = spark.read.option("basePath", twin).parquet(
        f"{twin}/gen=0", f"{twin}/gen=1"
    )
    assert sorted(served.columns) == ["cluster", "code", "gen", "vec_id"]
    assert served.count() == 20
    assert spark.read.parquet(f"{twin}/gen=1").count() == 0


def test_ensure_gen_dirs_keeps_a_flat_layout_flat(spark, tmp_path):
    from pyspark.sql import functions as F

    from engine.generations import ensure_gen_dirs

    twin = str(tmp_path / "bands_p")
    spark.range(0, 10).select(
        F.col("id").alias("doc_id"), F.lit(0).alias("gen")
    ).write.partitionBy("gen").parquet(twin)
    ensure_gen_dirs(
        spark, twin, 1,
        lambda g: spark.range(0).select(F.col("id").alias("doc_id")),
    )
    assert not [d for d in os.listdir(f"{twin}/gen=1") if "=" in d]
    served = spark.read.option("basePath", twin).parquet(
        f"{twin}/gen=0", f"{twin}/gen=1"
    )
    assert served.count() == 10


def _exempt_lines(path, fn_name):
    """The line numbers of the top-level function ``fn_name`` in
    ``path`` (empty if it has none)."""
    import ast

    with open(path) as f:
        tree = ast.parse(f.read())
    return {
        n
        for node in tree.body
        if isinstance(node, ast.FunctionDef) and node.name == fn_name
        for n in range(node.lineno, node.end_lineno + 1)
    }


def test_stream_protocols_live_only_in_the_runner():
    """The availableNow drain, the batch-id probe, the write-last
    marker, the fault points and the ordered file feed (its file
    name, admission order, reader and stager) are spelled once, in
    engine/stream.py; the document increment mapping is spelled once
    on the Spark side of engine/ops (``dedup.doc_batch_of``). The
    exceptions: the Python data source's lease file
    (stream_source.py), written from inside the pickled reader, and
    ``stream_backfill_bounded``, whose subject is a multi-file
    ``maxFilesPerTrigger``."""
    patterns = {
        "availableNow drain": r"awaitTermination\(|trigger\(availableNow",
        "min-id probe": r"batch_df\.agg\(F\.min\(",
        "marker write": r'\.tmp"',
        "fault point": r"injected failure",
        "tmp replace": r"os\.replace\(tmp\b",
        "feed file name": r'batch_\{|"batch_"',
        "admission order": r"os\.utime\(",
        "feed reader": r'\.option\("maxFilesPerTrigger"',
        "feed helper copy": r"\b(_stage_feed|_feed_key|_increment_of)\b",
    }
    hits, doc_maps = [], []
    for path in sorted(glob.glob(os.path.join(OPS_DIR, "*.py"))):
        name = os.path.basename(path)
        backfill = _exempt_lines(path, "stream_backfill_bounded")
        with open(path) as f:
            for lineno, line in enumerate(f, 1):
                where = f"{name}:{lineno}: {line.strip()}"
                if re.search(r"doc_id\) div", line):
                    doc_maps.append(where)
                for what, pat in patterns.items():
                    if not re.search(pat, line):
                        continue
                    if name == "stream_source.py" and what == "tmp replace":
                        continue
                    if what == "feed reader" and lineno in backfill:
                        continue
                    hits.append(f"{what}: {where}")
    if len(doc_maps) > 1:
        hits += [f"doc increment mapping: {w}" for w in doc_maps]
    assert hits == [], "\n".join(hits)


def test_flow_zscore_anomaly_leaves_no_persistent_rdd(spark):
    persisted = lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    before = persisted()
    rows = engine.QUERIES["flow_zscore_anomaly"](spark, SMOKE_SF_DIR).collect()
    assert rows
    assert persisted() <= before, "flow_zscore_anomaly left a cached frame"
