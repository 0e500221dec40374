"""engine/generations.py: the one generation layout (gen=g dirs,
compacted, purged and recoded twins), the strictly-past read, the
fold, the purge, the GC and the takedown audit."""

from __future__ import annotations

import ast
import glob
import json
import os
import re

import pytest

from engine.generations import (
    audit_no_tombstoned,
    content_roots,
    fold,
    gc_generations,
    gen_paths,
    marker,
    markers,
    publish,
    purge,
    stale_reads,
)

OPS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "engine", "ops"
)


def test_gen_paths_raw_generations_only():
    assert gen_paths("/i/bands", 3) == [
        "/i/bands/gen=0", "/i/bands/gen=1", "/i/bands/gen=2"
    ]
    assert gen_paths("/i/bands", 0) == []


def test_gen_paths_compacted_prefix_then_newer_generations():
    assert gen_paths("/i/bands", 4, compacted=1) == [
        "/i/bands_c", "/i/bands/gen=2", "/i/bands/gen=3"
    ]
    assert gen_paths(
        "/i/anchors", 3, compacted=0, folded="/i/spans_c"
    ) == ["/i/spans_c", "/i/anchors/gen=1", "/i/anchors/gen=2"]


def test_gen_paths_purged_twins_for_the_covered_prefix():
    assert gen_paths("/i/lists", 3, purged=1) == [
        "/i/lists_p/gen=0", "/i/lists_p/gen=1", "/i/lists/gen=2"
    ]


def test_gen_paths_compacted_then_purged_serves_the_c_p_twin():
    assert gen_paths("/i/codes", 3, compacted=1, purged=2) == [
        "/i/codes_c_p", "/i/codes_p/gen=2"
    ]
    assert gen_paths("/i/codes", 4, compacted=1, purged=1) == [
        "/i/codes_c_p", "/i/codes/gen=2", "/i/codes/gen=3"
    ]


def test_gen_paths_recoded_twins():
    assert gen_paths("/i/codes", 3, recoded=0) == [
        "/i/codes_r/gen=0", "/i/codes/gen=1", "/i/codes/gen=2"
    ]


def test_stale_reads_finds_raw_generations_at_or_below_the_marker():
    served = [
        "/i/codes_r/gen=0", "/i/codes/gen=1", "/i/codes/gen=2",
        "/i/codes_c", "/i/codes/gen=10",
    ]
    assert stale_reads(served, "/i/codes", 0) == []
    assert stale_reads(served, "/i/codes", 1) == ["/i/codes/gen=1"]
    assert stale_reads(served, "/i/codes", 2) == [
        "/i/codes/gen=1", "/i/codes/gen=2"
    ]
    # another family's generations are not this root's
    assert stale_reads(["/i/codes_x/gen=0"], "/i/codes", 5) == []


def test_replayed_boundary_batch_stays_on_the_per_generation_view(tmp_path):
    """A marker serves batch b only when it is strictly below b: the
    boundary batch (m == b) replayed after a crash reads the raw
    generations it first ran against; the next batch reads the
    replacement."""
    idx = str(tmp_path)
    assert markers(idx) == {"compacted": None, "purged": None, "recoded": None}
    publish(idx, "compacted", 2)
    assert os.path.exists(f"{idx}/compacted_upto")
    assert marker(idx, "compacted") == 2
    assert marker(idx, "compacted", 2) is None
    assert gen_paths(f"{idx}/bands", 2, **markers(idx, 2)) == [
        f"{idx}/bands/gen=0", f"{idx}/bands/gen=1"
    ]
    assert gen_paths(f"{idx}/bands", 3, **markers(idx, 3)) == [
        f"{idx}/bands_c"
    ]
    publish(idx, "purged", 4)
    assert os.path.exists(f"{idx}/takedown_upto")
    assert markers(idx, 4) == {
        "compacted": 2, "purged": None, "recoded": None
    }


def _touch_files(d, n):
    os.makedirs(d, exist_ok=True)
    for i in range(n):
        open(os.path.join(d, f"part-{i}.parquet"), "w").close()


def test_fold_publishes_its_marker_only_after_the_write(tmp_path):
    idx = str(tmp_path)
    for g in range(3):
        _touch_files(f"{idx}/bands/gen={g}", 2)
    seen = []

    def write():
        seen.append(marker(idx, "compacted"))
        _touch_files(f"{idx}/bands_c", 2)

    fold(f"{idx}/bands", 2, write, idx=idx)
    assert seen == [None]
    assert marker(idx, "compacted") == 2


def test_fold_refuses_a_fold_that_does_not_shrink(tmp_path):
    idx = str(tmp_path)
    # a cluster-nested family: the count walks every leaf
    for g in range(2):
        _touch_files(f"{idx}/lists/gen={g}/cluster=0", 1)
    with pytest.raises(AssertionError, match="did not shrink: 2 -> 2"):
        fold(
            f"{idx}/lists", 1,
            lambda: _touch_files(f"{idx}/lists_c/cluster=0", 2),
            idx=idx,
        )
    assert marker(idx, "compacted") is None


def _commit(ckpt, batches):
    os.makedirs(f"{ckpt}/commits", exist_ok=True)
    os.makedirs(f"{ckpt}/sources/0", exist_ok=True)
    for b in batches:
        open(f"{ckpt}/commits/{b}", "w").write("v1\n{}")
        entry = json.dumps({"path": f"file:///src/batch_{b}.parquet"})
        open(f"{ckpt}/sources/0/{b}", "w").write("v1\n" + entry)


def test_gc_removes_served_generations_past_the_watermark(tmp_path):
    """Families are the ones a published replacement serves; models
    without one (centroids) are never touched, and a covered batch
    still inside the replay horizon makes the GC refuse."""
    idx, ckpt = str(tmp_path / "index"), str(tmp_path / "ckpt")
    for fam in ("bands", "shingles", "centroids"):
        for g in range(3):
            _touch_files(f"{idx}/{fam}/gen={g}", 1)
    _touch_files(f"{idx}/bands_c", 1)
    _touch_files(f"{idx}/shingles_c", 1)
    with pytest.raises(ValueError, match="no generation marker"):
        gc_generations(ckpt, idx)
    publish(idx, "compacted", 1)
    _commit(ckpt, [0])
    with pytest.raises(ValueError, match=r"\[1\].*replay"):
        gc_generations(ckpt, idx)
    _commit(ckpt, [1])
    removed = gc_generations(ckpt, idx)
    assert sorted(removed) == sorted(
        f"{idx}/{fam}/gen={g}" for fam in ("bands", "shingles") for g in (0, 1)
    )
    assert os.path.exists(f"{idx}/bands/gen=2")
    assert all(os.path.exists(f"{idx}/centroids/gen={g}") for g in range(3))


def test_gc_refuses_a_marker_no_family_replaces(tmp_path):
    """A fold into a dir of another name (``spans_c`` for the anchors
    generations) leaves GC no family to act on: it refuses rather than
    pass while deleting nothing."""
    idx, ckpt = str(tmp_path / "index"), str(tmp_path / "ckpt")
    for g in range(2):
        _touch_files(f"{idx}/anchors/gen={g}", 1)
    _touch_files(f"{idx}/spans_c", 1)
    publish(idx, "compacted", 0)
    _commit(ckpt, [0])
    with pytest.raises(ValueError, match="compacted_upto = 0.*_c"):
        gc_generations(ckpt, idx)
    assert os.path.exists(f"{idx}/anchors/gen=0")


def test_gc_removes_a_purged_fold_past_the_watermark(tmp_path):
    """After a compact-then-purge the folded ``codes_c`` still holds
    the taken-down rows: once its ``codes_c_p`` twin serves and the
    watermark has passed, the GC removes it with the generations; a
    second GC (no ``_c`` left) still finds the family."""
    idx, ckpt = str(tmp_path / "index"), str(tmp_path / "ckpt")
    for g in range(3):
        _touch_files(f"{idx}/codes/gen={g}", 1)
    _touch_files(f"{idx}/codes_c", 1)
    publish(idx, "compacted", 1)
    _touch_files(f"{idx}/codes_c_p", 1)
    _touch_files(f"{idx}/codes_p/gen=2", 1)
    publish(idx, "purged", 2)
    _commit(ckpt, [0, 1])
    with pytest.raises(ValueError, match=r"\[2\].*replay"):
        gc_generations(ckpt, idx)
    assert os.path.exists(f"{idx}/codes_c")
    _commit(ckpt, [2])
    removed = gc_generations(ckpt, idx)
    assert sorted(removed) == sorted(
        [f"{idx}/codes/gen={g}" for g in range(3)] + [f"{idx}/codes_c"]
    )
    assert content_roots(idx, "codes") == [
        f"{idx}/codes_p", f"{idx}/codes_c_p"
    ]
    assert gc_generations(ckpt, idx) == []


def test_gc_refuses_a_purge_whose_generation_twins_are_missing(tmp_path):
    """A purge past the fold (``takedown_upto`` 2 above
    ``compacted_upto`` 0) is served by ``codes_c_p`` AND
    ``codes_p/gen=1..2``. With no ``codes_p`` on disk the purged
    marker has no replacement, and the fold dir ``codes_c`` (whose
    own ``_p`` twin exists) is not a family: the GC refuses and
    deletes nothing."""
    idx, ckpt = str(tmp_path / "index"), str(tmp_path / "ckpt")
    for g in range(3):
        _touch_files(f"{idx}/codes/gen={g}", 1)
    _touch_files(f"{idx}/codes_c", 1)
    _touch_files(f"{idx}/codes_c_p", 1)
    publish(idx, "compacted", 0)
    publish(idx, "purged", 2)
    _commit(ckpt, [0, 1, 2, 3])
    assert gen_paths(f"{idx}/codes", 3, **markers(idx)) == [
        f"{idx}/codes_c_p", f"{idx}/codes_p/gen=1", f"{idx}/codes_p/gen=2"
    ]
    with pytest.raises(ValueError, match="takedown_upto = 2.*_p"):
        gc_generations(ckpt, idx)
    assert os.path.isdir(f"{idx}/codes_c")
    assert all(os.path.isdir(f"{idx}/codes/gen={g}") for g in range(3))


def test_gc_keeps_a_fold_its_purge_does_not_cover(tmp_path):
    """A fold published after the purge (``compacted_upto`` above
    ``takedown_upto``) is the serving copy of gens the purge never
    saw: the GC keeps it."""
    idx, ckpt = str(tmp_path / "index"), str(tmp_path / "ckpt")
    for g in range(3):
        _touch_files(f"{idx}/codes/gen={g}", 1)
    _touch_files(f"{idx}/codes_p/gen=0", 1)
    _touch_files(f"{idx}/codes_c", 1)
    _touch_files(f"{idx}/codes_c_p", 1)
    publish(idx, "purged", 0)
    publish(idx, "compacted", 1)
    _commit(ckpt, [0, 1])
    gc_generations(ckpt, idx)
    assert os.path.exists(f"{idx}/codes_c")


def test_ivfpq_compact_then_purge_gc_leaves_no_tombstoned_row(spark):
    """The composed vector stream compacts at batch N-2 and takes down
    at N-1; after the GC no root of the codes family holds a
    tombstoned id and the un-purged ``codes_c`` is gone."""
    from engine.ops.pq import run_ivfpq_stream
    from engine.ops.similarity import N_SIM_BATCHES
    from engine.registry import scratch_dir
    from tests.conftest import SMOKE_SF_DIR

    base = scratch_dir("test_ivfpq_compact_purge_gc")
    run_ivfpq_stream(
        spark, SMOKE_SF_DIR, base,
        compact_after=N_SIM_BATCHES - 2, delete_after=N_SIM_BATCHES - 1,
    )
    idx = f"{base}/index"
    assert os.path.isdir(f"{idx}/codes_c")
    gc_generations(f"{base}/ckpt", idx)
    assert not os.path.exists(f"{idx}/codes_c")
    audit_no_tombstoned(
        spark,
        spark.read.parquet(f"{idx}/tombstones"),
        content_roots(idx, "codes"),
        id_col="vec_id",
    )


def test_content_roots_walks_originals_and_every_twin_present(tmp_path):
    idx = str(tmp_path)
    _touch_files(f"{idx}/lists/gen=2", 1)
    _touch_files(f"{idx}/lists_p/gen=0", 1)
    _touch_files(f"{idx}/codes_p/gen=0", 1)
    _touch_files(f"{idx}/codes_c", 1)
    _touch_files(f"{idx}/codes_c_p", 1)
    _touch_files(f"{idx}/codes_r/gen=0", 1)
    os.makedirs(f"{idx}/codes")  # every generation collected
    assert content_roots(idx, "lists") == [f"{idx}/lists", f"{idx}/lists_p"]
    assert content_roots(idx, "codes", "bands") == [
        f"{idx}/codes_c", f"{idx}/codes_p", f"{idx}/codes_c_p",
        f"{idx}/codes_r",
    ]


def test_purge_of_a_cluster_nested_family_and_audit_catches_a_plant(
    spark, tmp_path
):
    """The purge writes twins at the family's nesting (one generation
    fully purged keeps an empty cluster leaf), the tombstones hold the
    cohort, the marker comes last; the audit passes on the twins and
    raises once a tombstoned id is planted in ONE gen= shard."""
    from pyspark.sql import functions as F

    idx = str(tmp_path / "index")
    (
        spark.range(0, 40)
        .select(
            F.col("id").alias("vec_id"),
            (F.col("id") * 7).alias("code"),
            (F.col("id") % 2).alias("gen"),
            (F.col("id") % 3).alias("cluster"),
        )
        .write.partitionBy("gen", "cluster")
        .parquet(f"{idx}/codes")
    )
    td = F.col("vec_id") % 2 == 1  # every row of gen=1
    purge(spark, idx, ("codes",), 1, td, "vec_id", by=("cluster",))
    assert marker(idx, "purged") == 1
    assert [d for d in os.listdir(f"{idx}/codes_p/gen=1") if "=" in d] == [
        "cluster=0"
    ]
    tomb = spark.read.parquet(f"{idx}/tombstones")
    assert sorted(r[0] for r in tomb.collect()) == list(range(1, 40, 2))
    twins = gen_paths(f"{idx}/codes", 2, purged=1)
    audit_no_tombstoned(spark, tomb, twins, id_col="vec_id")
    with pytest.raises(AssertionError, match="nothing to audit"):
        audit_no_tombstoned(
            spark, tomb, (f"{idx}/no_such_family",), id_col="vec_id"
        )

    leaf = f"{idx}/codes_p/gen=0/cluster=2"
    spark.createDataFrame([(5, 35)], "vec_id bigint, code bigint").write.mode(
        "append"
    ).parquet(leaf)
    with pytest.raises(AssertionError, match="codes_p still holds"):
        audit_no_tombstoned(
            spark, tomb, [f"{idx}/codes_p"], id_col="vec_id"
        )


def _code_strings(path):
    """String constants of a module's code, docstrings excluded."""
    tree = ast.parse(open(path).read())
    docs = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(
            node, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        )
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in docs
        ):
            yield node.lineno, node.value


def test_generation_layout_lives_only_in_generations():
    """No module in engine/ops spells a twin path or root, a shrink
    check, a layout marker or a tombstone write by hand, and none
    wraps the GC: the layout decision is made once, in
    engine/generations.py. A twin root — compacted (``_c``, the
    ``spans_c`` fold target included), purged or recoded — is caught
    as a path piece (``/lists_c``), a bare suffix (``"_r"``) or the
    bare name of a generation family (``bands_p``, families being the
    names the ops address as ``/<name>/gen=``)."""
    patterns = {
        "purged-twin path": r"_p/gen=",
        "recoded-twin path": r"_r/gen=",
        "compacted-purged twin": r"_c_p",
        "twin root": r"/\w+_[cpr](/|$)|^_[cpr](/|$)",
        "shrink check": r"did not shrink",
        "layout marker": r"compacted_upto|takedown_upto|reclustered_upto",
        "forked marker": r"takedown_applied|(^|/)reclustered(/|$)",
    }
    for sample in (
        "/spans_c", "/lists_c/", "_c", "/codes_p/gen=", "/reclustered",
        "takedown_applied",
    ):
        assert any(re.search(p, sample) for p in patterns.values()), sample
    paths = sorted(glob.glob(os.path.join(OPS_DIR, "*.py")))
    strings = {p: list(_code_strings(p)) for p in paths}
    families = {
        m.group(1)
        for found in strings.values()
        for _lineno, s in found
        for m in re.finditer(r"/(\w+)/gen=", s)
    }
    assert {"bands", "lists", "codes"} <= families
    hits = []
    for path in paths:
        name = os.path.basename(path)
        for lineno, s in strings[path]:
            for what, pat in patterns.items():
                if re.search(pat, s):
                    hits.append(f"{name}:{lineno}: {what}: {s!r}")
            bare = re.fullmatch(r"(\w+?)_[cpr]", s)
            if bare and bare.group(1) in families:
                hits.append(f"{name}:{lineno}: twin root: {s!r}")
        tree = ast.parse(open(path).read())
        hits += [
            f"{name}:{node.lineno}: GC wrapper: {node.name}"
            for node in ast.walk(tree)
            if isinstance(node, ast.FunctionDef)
            and node.name.startswith("_gc_")
        ]
        hits += [
            f"{name}:{node.lineno}: tombstone write"
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
            and ".write" in ast.unparse(node.func.value)
            and any("tombstones" in ast.unparse(a) for a in node.args)
        ]
    assert hits == [], "\n".join(hits)
