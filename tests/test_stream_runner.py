"""engine/stream.py: the one stream runner every checkpointed rig in
engine/ops uses (availableNow drain, data-derived batch id, write-last
marker, fault points), plus the empty-generation twins its rigs'
folded writes rely on (engine/generations.ensure_gen_dirs)."""

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
    """Each staged file is one micro-batch; ``process`` receives the
    batch id derived from the batch's min id, and a restart on the same
    checkpoint replays nothing that was committed."""
    from engine.stream import run_increments

    src = str(tmp_path / "src")
    os.makedirs(src)
    for b in range(3):
        stage = str(tmp_path / f"stage{b}")
        spark.range(100 * b, 100 * b + 100, 1, 1).write.parquet(stage)
        part = next(f for f in os.listdir(stage) if f.startswith("part-"))
        dst = f"{src}/batch_{b}.parquet"
        os.replace(os.path.join(stage, part), dst)
        os.utime(dst, (1_000_000 + 10 * b,) * 2)
    seen = []

    def run():
        run_increments(
            spark, src, "id long", str(tmp_path / "ckpt"), "id",
            lambda mn: mn // 100,
            lambda df, b: seen.append((b, df.count())),
            "test_increments", 300,
        )

    run()
    assert sorted(seen) == [(0, 100), (1, 100), (2, 100)]
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


def test_stream_protocols_live_only_in_the_runner():
    """The availableNow drain, the min-id probe, the write-last marker
    and the fault points are spelled once, in engine/stream.py. The one
    exception is the Python data source's lease file
    (stream_source.py), written from inside the pickled reader."""
    patterns = {
        "availableNow drain": r"awaitTermination\(|trigger\(availableNow",
        "min-id probe": r"batch_df\.agg\(F\.min\(",
        "marker write": r'\.tmp"',
        "fault point": r"injected failure",
        "tmp replace": r"os\.replace\(tmp\b",
    }
    hits = []
    for path in sorted(glob.glob(os.path.join(OPS_DIR, "*.py"))):
        name = os.path.basename(path)
        with open(path) as f:
            for lineno, line in enumerate(f, 1):
                for what, pat in patterns.items():
                    if re.search(pat, line) and not (
                        name == "stream_source.py" and what == "tmp replace"
                    ):
                        hits.append(f"{name}:{lineno}: {what}: {line.strip()}")
    assert hits == [], "\n".join(hits)


def test_flow_zscore_anomaly_leaves_no_persistent_rdd(spark):
    persisted = lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    before = persisted()
    rows = engine.QUERIES["flow_zscore_anomaly"](spark, SMOKE_SF_DIR).collect()
    assert rows
    assert persisted() <= before, "flow_zscore_anomaly left a cached frame"
