"""Seeded input generator for the benchmark (numpy + pyarrow only).

Writes ``events``, ``documents`` and ``embeddings`` parquet files in the
schema of the engine's test fixtures (FIXTURES.md), so every registered
query can read them through ``engine.table``:

- events: ``event_id`` unique, ``ts`` sorted over 30 days of January
  2024 at microsecond precision, ``user_id`` dense over rows*15/1000
  users, 5 uniform ``event_type`` values, ``value`` exponential (mean
  50) at 2 dp, ``props`` = ``{"k": <int 0..99>}``.
- documents: 10..100 words from a 31-word vocabulary, ``lang`` mostly
  ``en``, ``source`` src0..src19, ``n_chars`` = ``len(text)``. A stated
  share of documents are exact copies, and another share near copies
  (about a tenth of the words replaced), of a lower-id document.
- embeddings: 64-d float32, L2-normalised, drawn around 10 cluster
  centres (``label``); ``vec_id`` == ``doc_id`` of the first documents.
  A stated share are small perturbations of a lower-id vector.

The same seed and sizes always give byte-identical tables. One set is
cached per (seed, sizes) under the cache directory; ``meta.json``
records rows, duplicate shares, seed and generation time.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "fr", "es", "de", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
DIM = 64
N_LABELS = 10

EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.05
NEAR_DUP_REPLACE = 0.1
VEC_DUP_SHARE = 0.05

# Bench-scale sizes: the sf0.1 fixture's events table and corpus.
DEFAULT_SIZES = {"events": 100_000, "documents": 5_000, "embeddings": 2_000}


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span, n)) + t0
    users = max(1, n * 15 // 1000)
    k = rng.integers(0, 100, n)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
            "event_type": pa.array(
                np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)]
            ),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array(['{"k": %d}' % v for v in k]),
        }
    )


def _pick_sources(rng, n: int, share: float, taken: np.ndarray):
    """(copy ids, source ids): ``share`` of ids in 1..n-1 that are not
    already copies, each paired with a random lower, non-copy id."""
    cand = np.setdiff1d(np.arange(1, n), np.flatnonzero(taken))
    m = min(len(cand), int(round(share * n)))
    ids = np.sort(rng.choice(cand, m, replace=False))
    srcs = []
    for i in ids:
        while True:
            s = int(rng.integers(0, i))
            if not taken[s]:
                break
        srcs.append(s)
    taken[ids] = True
    return ids, srcs


def _documents(rng: np.random.Generator, n: int):
    vocab = np.array(VOCAB, dtype=object)
    words = [list(vocab[rng.integers(0, len(VOCAB), rng.integers(10, 101))]) for _ in range(n)]
    taken = np.zeros(n, dtype=bool)
    ex_ids, ex_src = _pick_sources(rng, n, EXACT_DUP_SHARE, taken)
    for i, s in zip(ex_ids, ex_src):
        words[i] = list(words[s])
    nd_ids, nd_src = _pick_sources(rng, n, NEAR_DUP_SHARE, taken)
    for i, s in zip(nd_ids, nd_src):
        w = list(words[s])
        n_rep = max(1, int(round(NEAR_DUP_REPLACE * len(w))))
        for j in rng.choice(len(w), n_rep, replace=False):
            w[j] = vocab[rng.integers(0, len(VOCAB))]
        words[i] = w
    text = [" ".join(w) for w in words]
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(text),
            "lang": pa.array(np.array(LANGS, dtype=object)[rng.choice(5, n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
        }
    )
    return table, len(ex_ids), len(nd_ids)


def _embeddings(rng: np.random.Generator, n: int):
    centres = rng.standard_normal((N_LABELS, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, N_LABELS, n)
    x = 0.35 * centres[label] + rng.standard_normal((n, DIM)) / np.sqrt(DIM)
    taken = np.zeros(n, dtype=bool)
    dup_ids, dup_src = _pick_sources(rng, n, VEC_DUP_SHARE, taken)
    for i, s in zip(dup_ids, dup_src):
        x[i] = x[s] + 0.2 * rng.standard_normal(DIM) / np.sqrt(DIM)
        label[i] = label[s]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    x = x.astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), DIM)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        }
    )
    return table, len(dup_ids)


def generate(out_dir: str, seed: int, sizes: dict | None = None) -> dict:
    """Write the three tables for ``seed`` into ``out_dir`` unless a
    complete set is already there; return its ``meta.json`` record."""
    sizes = dict(DEFAULT_SIZES if sizes is None else sizes)
    meta_path = os.path.join(out_dir, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if meta.get("seed") == seed and meta.get("rows") == sizes:
            meta["cached"] = True
            return meta
    # build in a private directory, then rename it into place, so two
    # runs on one seed never read a half-written set
    tmp_dir = f"{out_dir}.tmp-{os.getpid()}"
    shutil.rmtree(tmp_dir, ignore_errors=True)
    os.makedirs(tmp_dir)
    t0 = time.perf_counter()
    # one independent stream per table: resizing one leaves the others
    ss = np.random.SeedSequence(seed).spawn(3)
    events = _events(np.random.default_rng(ss[0]), sizes["events"])
    docs, n_exact, n_near = _documents(np.random.default_rng(ss[1]), sizes["documents"])
    emb, n_vdup = _embeddings(np.random.default_rng(ss[2]), sizes["embeddings"])
    for name, t in (("events", events), ("documents", docs), ("embeddings", emb)):
        pq.write_table(t, os.path.join(tmp_dir, f"{name}.parquet"))
    meta = {
        "seed": seed,
        "rows": sizes,
        "users": max(1, sizes["events"] * 15 // 1000),
        "exact_dup_docs": n_exact,
        "near_dup_docs": n_near,
        "near_dup_vectors": n_vdup,
        "exact_dup_share": EXACT_DUP_SHARE,
        "near_dup_share": NEAR_DUP_SHARE,
        "vector_dup_share": VEC_DUP_SHARE,
        "generate_s": time.perf_counter() - t0,
    }
    with open(os.path.join(tmp_dir, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1)
    shutil.rmtree(out_dir, ignore_errors=True)
    try:
        os.rename(tmp_dir, out_dir)
    except OSError:  # another run published the same set first
        shutil.rmtree(tmp_dir, ignore_errors=True)
    meta["cached"] = False
    return meta
