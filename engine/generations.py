"""The generation layout: the idempotent, versioned sink state of every
checkpointed index in ``engine/ops``, spelled once.

A family root holds one directory per micro-batch, ``<root>/gen=g``
(the replay unit: a replayed batch overwrites its own generation).
Maintenance never edits a generation in place; it writes a replacement
beside it and publishes a write-last marker under the index dir:

- ``compacted_upto = k``: gens ``0..k`` folded into ``<root>_c``;
- ``takedown_upto = k``: gens ``0..k`` rewritten without a takedown
  cohort as purged twins ``<root>_p/gen=g`` (a folded ``<root>_c``
  becomes ``<root>_c_p``);
- ``reclustered_upto = k``: gens ``0..k`` re-placed under a new
  codebook as recoded twins ``<root>_r/gen=g``.

`gen_paths` resolves a family's read for gens ``0..n-1`` under the
published markers. A batch reads under the STRICTLY-PAST rule
(`markers(idx, b)`): a marker serves batch ``b`` only if it is below
``b``, so a replayed boundary batch reads exactly the per-generation
view it first ran against. `fold` and `purge` write a replacement and
publish its marker last; `gc_generations` deletes a generation once a
replacement serves it AND the checkpoint's commit log proves its batch
can never replay.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from .stream import committed_src_batches, publish_marker, read_marker

# marker kind -> (marker file under the index dir, replacement suffix)
MARKERS = {
    "compacted": ("compacted_upto", "_c"),
    "purged": ("takedown_upto", "_p"),
    "recoded": ("reclustered_upto", "_r"),
}


def marker(idx, kind, b=None):
    """The published ``kind`` marker under ``idx`` (None if not yet
    published). Given a batch id ``b``, the strictly-past gate: the
    marker counts only if it is below ``b``."""
    m = read_marker(f"{idx}/{MARKERS[kind][0]}")
    if b is not None and (m is None or m >= b):
        return None
    return m


def markers(idx, b=None):
    """Every marker kind under ``idx`` as `gen_paths` keywords, gated
    strictly past ``b`` when given."""
    return {kind: marker(idx, kind, b) for kind in MARKERS}


def publish(idx, kind, upto):
    """Publish the ``kind`` marker (write-last, atomic)."""
    publish_marker(f"{idx}/{MARKERS[kind][0]}", upto)


def twin(root, kind):
    """The replacement root of ``root`` for marker ``kind``:
    ``<root>_c``, ``<root>_p`` or ``<root>_r``."""
    return root + MARKERS[kind][1]


def gen_paths(root, n, compacted=None, purged=None, recoded=None,
              folded=None):
    """The ordered read of ``root``'s generations ``0..n-1``: the
    folded dir for gens ``0..compacted`` (``folded``, default
    ``<root>_c``; its purged twin once ``purged`` covers it), then the
    purged or recoded twins, then the raw generations."""
    paths, g = [], 0
    if compacted is not None:
        c = folded or twin(root, "compacted")
        paths.append(twin(c, "purged") if purged is not None else c)
        g = compacted + 1
    for kind, m in (("purged", purged), ("recoded", recoded)):
        if m is not None:
            paths += [f"{twin(root, kind)}/gen={i}" for i in range(g, m + 1)]
            g = max(g, m + 1)
    return paths + [f"{root}/gen={i}" for i in range(g, n)]


def stale_reads(paths, root, upto):
    """The raw generations ``<root>/gen=g`` with ``g <= upto`` among
    ``paths``: reads a published replacement must have displaced. It
    parses the recorded paths alone, so a check built on it does not
    lean on `gen_paths`."""
    pre = f"{root}/gen="
    return [
        p for p in paths
        if p.startswith(pre) and int(p[len(pre):].split("/")[0]) <= upto
    ]


def content_roots(idx, *families):
    """The roots holding ``families``' content under ``idx``, for a
    takedown audit: each original that still holds a generation, then
    every replacement present (``_c``, ``_p``, ``_c_p``, ``_r``)."""
    roots = []
    for fam in families:
        root = f"{idx}/{fam}"
        if os.path.isdir(root) and any(
            d.startswith("gen=") for d in os.listdir(root)
        ):
            roots.append(root)
        c = twin(root, "compacted")
        for t in (c, twin(root, "purged"), twin(c, "purged"),
                  twin(root, "recoded")):
            if os.path.isdir(t):
                roots.append(t)
    return roots


def read_gens(spark, paths, prep=lambda df: df):
    """One frame over a resolved path list: each run of generations of
    one root is ONE basePath scan (``gen`` dropped, nested partition
    columns such as ``cluster`` kept for pruning), each folded dir a
    plain scan; ``prep`` shapes every piece before the union."""
    runs = []
    for p in paths:
        root, sep, _ = p.rpartition("/gen=")
        if sep and runs and runs[-1][0] == root:
            runs[-1][1].append(p)
        else:
            runs.append((root if sep else None, [p]))
    out = None
    for root, ps in runs:
        df = (
            spark.read.option("basePath", root).parquet(*ps).drop("gen")
            if root is not None
            else spark.read.parquet(*ps)
        )
        df = prep(df)
        out = df if out is None else out.unionByName(df)
    return out


def n_parquet_files(*paths):
    """Parquet files under ``paths`` (flat or partition-nested)."""
    return sum(
        1
        for p in paths
        for _r, _d, files in os.walk(p)
        for f in files
        if f.endswith(".parquet")
    )


def fold(root, upto, write, idx=None, folded=None):
    """Compact ``root``'s gens ``0..upto``: count their parquet files,
    run the caller's ``write()`` (bucket, cluster or distinct-span
    shaped; it reads `gen_paths(root, upto + 1)`), require the folded
    dir (``folded``, default ``<root>_c``) to hold fewer files, then —
    for a stream, ``idx`` given — publish ``compacted_upto`` LAST. The
    generations stay: a replay of batch ``upto`` redoes the fold from
    them, and only `gc_generations` may remove them."""
    before = n_parquet_files(*gen_paths(root, upto + 1))
    write()
    after = n_parquet_files(folded or twin(root, "compacted"))
    if after >= before:
        raise AssertionError(
            f"compaction of {root} did not shrink: {before} -> {after}"
        )
    if idx is not None:
        publish(idx, "compacted", upto)


def write_twins(spark, root, gens, keep, by=(), kind="purged", src=None):
    """Rewrite generations ``gens`` of ``src`` (default ``root``)
    through ``keep`` (given a frame carrying ``gen``) into the
    per-generation ``kind`` twins (`twin`): ONE basePath read
    and ONE ``partitionBy("gen", *by)`` write, repartitioned on the
    same columns when ``by`` nests the layout (one file per leaf). A
    partitioned write skips empty partitions, so every generation
    ``keep`` emptied gets its `ensure_gen_dirs` twin. Returns the
    source frame."""
    src = src or root
    dst = twin(root, kind)
    df = spark.read.option("basePath", src).parquet(
        *[f"{src}/gen={g}" for g in gens]
    )
    out = keep(df)
    if by:
        out = out.repartition("gen", *by)
    out.write.mode("overwrite").partitionBy("gen", *by).parquet(dst)
    ensure_gen_dirs(
        spark, dst, gens[-1],
        lambda g: keep(
            spark.read.option("basePath", src).parquet(f"{src}/gen={g}")
        ).drop("gen"),
        start=gens[0],
    )
    return df


def purge(spark, idx, families, upto, td, id_col, by=(),
          compact_upto=None):
    """The takedown protocol over the covered generations ``0..upto``
    of each family under ``idx``: rewrite them WITHOUT the cohort
    ``td`` as purged twins (`write_twins`; with ``compact_upto=k``
    the folded ``<root>_c`` holds gens ``0..k`` and is rewritten as
    ``<root>_c_p``, and only gens ``k+1..upto`` get per-generation
    twins), write the tombstones (`write_tombstones`: the cohort's
    distinct ``id_col`` among the first family's covered rows), then
    publish ``takedown_upto`` LAST. Originals stay inside the replay
    horizon; a replayed boundary batch redoes every step as a
    deterministic overwrite."""
    first = 0 if compact_upto is None else compact_upto + 1
    tomb = None
    for fam in families:
        root = f"{idx}/{fam}"
        srcs = []
        if compact_upto is not None:
            # folded layouts are partition-nested (``by``)
            c = twin(root, "compacted")
            dfc = spark.read.parquet(c)
            dfc.filter(~td).repartition(*by).write.mode(
                "overwrite"
            ).partitionBy(*by).parquet(twin(c, "purged"))
            srcs.append(dfc)
        if first <= upto:
            srcs.append(
                write_twins(
                    spark, root, range(first, upto + 1),
                    lambda df: df.filter(~td), by=by,
                )
            )
        if tomb is None:  # the first family's covered ids
            tomb = srcs[0].select(id_col)
            for df in srcs[1:]:
                tomb = tomb.unionByName(df.select(id_col))
    write_tombstones(idx, tomb, td, id_col)
    publish(idx, "purged", upto)


def write_tombstones(idx, rows, td, *cols, name="tombstones"):
    """The takedown record under ``idx``: the distinct ``cols`` of the
    ``rows`` the cohort ``td`` selects, as ``<idx>/<name>`` (the id
    tombstones by default; content or band tombstones under their own
    name)."""
    (
        rows.filter(td)
        .select(*cols)
        .distinct()
        # one file: tombstone sets are O(cohort), orders of magnitude
        # below the corpus
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{idx}/{name}")
    )


def _gen_nesting(root):
    """The partition directories below the first ``gen=*`` dir of
    ``root`` as ``[(column, first value), …]``; empty for a flat
    layout or a root with no generation yet."""
    if not os.path.isdir(root):
        return []
    gens = sorted(d for d in os.listdir(root) if d.startswith("gen="))
    if not gens:
        return []
    nest, d = [], os.path.join(root, gens[0])
    while True:
        subs = sorted(
            s for s in os.listdir(d)
            if "=" in s and os.path.isdir(os.path.join(d, s))
        )
        if not subs:
            return nest
        col, val = subs[0].split("=", 1)
        nest.append((col, val))
        d = os.path.join(d, subs[0])


def ensure_gen_dirs(spark, dst_root, upto, builder, start=0):
    """Structural guard for folded partitionBy("gen", …) twin writes: a
    partitioned write SKIPS empty partitions, so a covered generation
    whose rows are all filtered away would leave ``dst_root/gen=g``
    missing where the old per-generation loop wrote an empty (but
    readable) directory. Materialize each missing covered dir from
    ``builder(g)`` — which is empty, since the write skipped it — at
    the nesting of its sibling generations: under a root partitioned
    by ("gen", "cluster") the twin is one empty ``cluster=<v>`` leaf,
    because a flat ``gen=g`` beside nested siblings makes Spark's
    partition discovery fail on the mixed leaf depths. Never fires on
    the bench fixtures (every generation keeps survivors)."""
    missing = [
        g for g in range(start, upto + 1)
        if not os.path.isdir(f"{dst_root}/gen={g}")
    ]
    if not missing:
        return
    nest = _gen_nesting(dst_root)
    for g in missing:
        leaf = "/".join(
            [f"{dst_root}/gen={g}"] + [f"{c}={v}" for c, v in nest]
        )
        builder(g).drop(*(c for c, _ in nest)).write.mode(
            "overwrite"
        ).parquet(leaf)


def gc_generations(ckpt, idx):
    """Watermark-gated generation GC: delete every generation
    ``<family>/gen=g`` under ``idx`` that BOTH (a) a published
    replacement serves — ``g`` is at or below a marker whose
    replacement of the family exists (`_replaced`; families are the
    roots that hold ``gen=`` dirs) — and (b) the
    checkpoint's commit watermark has passed (every covered batch is
    in `committed_src_batches`, so no restart can replay one). A
    folded ``<root>_c`` goes too once its purged twin ``<root>_c_p``
    serves in its place (``takedown_upto`` covers the fold): it still
    holds the taken-down rows. REFUSES with ValueError when no marker
    is published, when a published marker has no family with its
    replacement (a fold into a dir of another name, a marker without
    twins: deleting nothing would pass silently), or when any covered
    batch is still inside the replay horizon — deleting then would
    make the torn-state replay impossible. Models (centroids,
    codebooks) have no replacement and are never touched. Returns the
    removed paths."""
    folded = marker(idx, "compacted")
    # families: the roots that hold generations — or held them: a root
    # the GC emptied still serves through its per-generation twins
    fams = [
        fam for fam in sorted(os.listdir(idx))
        if any(
            _holds_gens(r)
            for r in (f"{idx}/{fam}", twin(f"{idx}/{fam}", "purged"),
                      twin(f"{idx}/{fam}", "recoded"))
        )
    ]
    upto, published = {}, []
    for kind, (name, _suffix) in MARKERS.items():
        m = marker(idx, kind)
        if m is None:
            continue
        published.append(m)
        served = [
            fam for fam in fams
            if _replaced(f"{idx}/{fam}", kind, m, folded)
        ]
        if not served:
            raise ValueError(
                f"GC refused: {name} = {m} is published under {idx} but"
                f" no family has its {twin('', kind)} replacement"
            )
        for fam in served:
            upto[fam] = max(upto.get(fam, -1), m)
    if not published:
        raise ValueError(f"GC refused: no generation marker under {idx}")
    committed = committed_src_batches(ckpt)
    pending = [b for b in range(max(published) + 1) if b not in committed]
    if pending:
        raise ValueError(
            f"GC refused: batches {pending} are inside the replay"
            " horizon (offsets admitted but commit log not written)"
        )
    removed = []
    for g in range(max(published) + 1):
        for fam, m in upto.items():
            p = f"{idx}/{fam}/gen={g}"
            if g <= m and os.path.exists(p):
                shutil.rmtree(p)
                removed.append(p)
    purged = marker(idx, "purged")
    if folded is not None and purged is not None and purged >= folded:
        for fam in upto:
            c = twin(f"{idx}/{fam}", "compacted")
            if os.path.isdir(c) and os.path.isdir(twin(c, "purged")):
                shutil.rmtree(c)
                removed.append(c)
    return removed


def _holds_gens(root):
    """Whether ``root`` holds ``gen=`` dirs."""
    return os.path.isdir(root) and any(
        d.startswith("gen=") for d in os.listdir(root)
    )


def _replaced(root, kind, m, folded):
    """Whether the family ``root`` has the replacement the ``kind``
    marker at ``m`` promises: its `twin`; for a fold also the purged
    twin the GC swapped it for; for a purge also the purged fold
    ``<root>_c_p`` when the fold covers every purged generation
    (``folded >= m``, so no per-generation twin was written)."""
    c = twin(root, "compacted")
    if kind == "compacted":
        return os.path.isdir(c) or os.path.isdir(twin(c, "purged"))
    return os.path.isdir(twin(root, kind)) or (
        kind == "purged"
        and folded is not None
        and folded >= m
        and os.path.isdir(twin(c, "purged"))
    )


def audit_no_tombstoned(spark, tomb, roots, id_col="doc_id"):
    """Takedown completeness audit: every parquet row reachable under
    each root (a generation family, a twin, the staged feed, a sink, a
    suffix-array artifact) whose table carries ``id_col`` is
    semi-joined against the tombstone frame ``tomb`` (column
    ``id_col``), and anything that comes back raises, naming the root.
    Roots that don't exist are skipped (a rig variant may not create
    them), but an audit with nothing to audit refuses, and so does a
    root that exists yet holds no parquet: an audit that can't see
    what it was asked to check must not pass. One union scan + one
    broadcast semi-join: the query a compliance officer runs."""
    surviving = None
    for root in roots:
        if not os.path.exists(root):
            continue
        paths = []
        if os.path.isfile(root):
            paths = [root]
        else:
            for r, _d, files in os.walk(root):
                paths.extend(
                    os.path.join(r, f)
                    for f in files
                    if f.endswith(".parquet")
                )
        if not paths:
            raise AssertionError(
                f"takedown audit: root {root} exists but holds no"
                " parquet to audit"
            )
        df = spark.read.parquet(*paths)
        if id_col not in df.columns:
            raise AssertionError(
                f"takedown audit: root {root} has no {id_col} column"
            )
        # cast to the tombstone frame's dtype so roots with differing
        # id widths still union
        ids = df.select(
            F.lit(root).alias("_audit_root"),
            F.col(id_col).cast(tomb.schema[id_col].dataType),
        )
        surviving = ids if surviving is None else surviving.unionByName(ids)
    if surviving is None:
        raise AssertionError(
            f"takedown audit: none of the roots exist: {roots} —"
            " nothing to audit"
        )
    hit = (
        surviving.join(F.broadcast(tomb.select(id_col)), id_col, "left_semi")
        .limit(1)
        .collect()
    )
    if hit:
        raise AssertionError(
            f"takedown incomplete: {hit[0]['_audit_root']} still holds"
            f" a tombstoned {id_col}"
        )
