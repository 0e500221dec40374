"""2.J similarity search over embeddings (SURVEY §2.J).

Embeddings are L2-normalized (FIXTURES.md), so dot product == cosine.
Scores are computed as a sequential double fold over the 64 elements
with per-element double casts — bit-identical across engines — then
rounded to 6 dp, and every ranking tiebreaks on vec_id, so top-k sets
are deterministic.

Scale design: `sim_search_topk` is the O(probes × corpus) brute-force
correctness anchor (probes broadcast; fine for a handful of probes,
wrong shape for all-pairs). `sim_search_blocked` is the scale path:
random-hyperplane LSH buckets + exact re-rank inside buckets — the
corpus-side work is one narrow projection + bucket shuffle, no
crossJoin anywhere.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolved by pandas_udf type-hint inspection

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..generations import (
    audit_no_tombstoned,
    content_roots,
    fold,
    gc_generations,
    gen_paths,
    marker,
    markers,
    publish,
    purge,
    read_gens,
    stale_reads,
    twin,
)
from ..registry import corpus_key, fan_out, register, table
from ..stream import fail_point, run_increments, stage_feed
from .dedup import N_INC_BATCHES

N_PROBES = 20  # probe set: vec_id < 20
TOP_K = 5

SQL_DOT = """
    round(list_aggregate(list_transform(list_zip({a}, {b}),
      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum'), 6)
"""


EMB_DIM = 64  # fixed embedding dimensionality (FIXTURES.md)


def dot6(a, b):
    """Rounded-to-6dp cosine/dot of two float-array columns.

    Kept as the zip_with/aggregate fold: measured faster than a
    64-term unrolled element_at chain (the chain blows past codegen
    limits and falls back to per-element interpreted eval). For the
    truly hot all-pairs path see embed_cosine_neardup's numpy scorer,
    which reproduces this exact left-to-right addition order.
    """
    return F.round(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )


TOPK_SQL = f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < {N_PROBES}),
    c AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings),
    s AS (
      SELECT q_id, c_id, {SQL_DOT.format(a='q_emb', b='c_emb')} AS score
      FROM q, c WHERE q_id <> c_id
    ),
    r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rank
          FROM s)
    SELECT q_id, c_id, score, rank FROM r WHERE rank <= {TOP_K}
"""


@register("sim_search_topk", oracle=TOPK_SQL)
def sim_search_topk(spark, sf_dir):
    """Brute-force cosine top-k: the exact baseline the blocked variant
    is property-tested against."""
    em = table(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    c = em.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb"))
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("c_id"))
    return (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", dot6(F.col("q_emb"), F.col("c_emb")).alias("score"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
    )


N_PLANES = 36
LSH_BITS = 3
LSH_BANDS = N_PLANES // LSH_BITS  # 12 bands x 3 sign bits


_IH_CENTER = 6 * (2**32 - 1)  # exact center of 12 summed 32-bit uniforms


def _hyperplanes():
    """Deterministic PORTABLE random hyperplanes (Charikar
    random-projection LSH): each entry is an Irwin–Hall approximate
    Gaussian — the sum of 12 md5-derived 32-bit uniforms, centered —
    as an exact INTEGER. hashlib.md5 here, md5() in the SQL oracle,
    and the micro-quantized sign dots (|Σ e_u·h| ≤ 64·1e6·1.3e10 ≈
    8e17 < 2^63) are all bit-identical across engines, which is what
    lets the LSH candidate set carry a full value-hash oracle."""
    import hashlib

    def u32(p, d, k):
        return int(
            hashlib.md5(f"{p}:{d}:{k}".encode()).hexdigest()[:8], 16
        )

    return [
        [
            sum(u32(p, d, k) for k in range(12)) - _IH_CENTER
            for d in range(64)
        ]
        for p in range(N_PLANES)
    ]


def lsh_bands(df, emb_col="embedding"):
    """Add (band, band_key) rows: LSH_BANDS bands of LSH_BITS sign
    bits each.

    Banding tuned for a recall@k >= 0.9 floor against the brute
    anchor on THIS corpus (tests/test_llm_ops.py): the synthetic
    embeddings are near-orthogonal (top-5 neighbor cosine ~0.25-0.5,
    mean pair ~0), which is close to the adversarial case for LSH —
    measured recall 0.92 costs a ~0.8 candidate fraction here. On a
    real embedding corpus (neighbors at cosine 0.6+), the identical
    banding prunes orders of magnitude harder; the recall/cost knob
    is (bands, bits), not the plan shape.

    All N_PLANES sign bits are computed in ONE Arrow-batched numpy
    matmul per partition (pandas UDF): the per-plane Catalyst
    aggregate-fold is interpreted, so 36 folds x 64 elements per row
    would dominate the query (measured ~2.5x the whole-query time at
    16 planes already)."""
    planes = _hyperplanes()
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def band_keys(s: pd.Series) -> pd.Series:
        import numpy as np

        P = np.array(planes, dtype=np.int64)
        X = np.floor(
            np.array(s.tolist(), dtype=np.float64) * 1e6 + 0.5
        ).astype(np.int64)
        B = (X @ P.T) > 0
        cols = []
        for b in range(LSH_BANDS):
            k = np.zeros(len(X), dtype=np.int64)
            for j in range(LSH_BITS):
                k = k * 2 + B[:, b * LSH_BITS + j]
            cols.append(k)
        K = np.stack(cols, axis=1)
        return pd.Series([row.tolist() for row in K])

    return df.select(
        "*", F.posexplode(band_keys(F.col(emb_col))).alias("band", "band_key")
    )


BLOCKED_SQL = f"""
    WITH eu AS MATERIALIZED (
        SELECT vec_id, u.i - 1 AS pos,
               CAST(floor(CAST(embedding[u.i] AS DOUBLE) * 1000000 + 0.5)
                    AS BIGINT) AS e_u
        FROM embeddings, unnest(range(1, len(embedding) + 1)) u(i)),
    planes AS MATERIALIZED (
        SELECT p.p, d.d,
               CAST(sum(CAST(('0x' || substr(md5(p.p || ':' || d.d || ':' || k.k), 1, 8))
                        AS BIGINT)) AS BIGINT) - {_IH_CENTER} AS h
        FROM unnest(range(0, {N_PLANES})) p(p),
             unnest(range(0, 64)) d(d),
             unnest(range(0, 12)) k(k)
        GROUP BY 1, 2),
    bits AS (
        SELECT e.vec_id, pl.p,
               CASE WHEN CAST(sum(e.e_u * pl.h) AS BIGINT) > 0
                    THEN 1 ELSE 0 END AS bit
        FROM eu e JOIN planes pl ON pl.d = e.pos
        GROUP BY 1, 2),
    bands AS MATERIALIZED (
        SELECT vec_id, p // {LSH_BITS} AS band,
               CAST(sum(bit << ({LSH_BITS - 1} - (p % {LSH_BITS}))) AS BIGINT)
                   AS band_key
        FROM bits GROUP BY 1, 2),
    cand AS MATERIALIZED (
        SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id
        FROM bands q JOIN bands c
          ON q.band = c.band AND q.band_key = c.band_key
        WHERE q.vec_id < {N_PROBES} AND q.vec_id <> c.vec_id)
    SELECT q_id, c_id, score, rank FROM (
        SELECT cd.q_id, cd.c_id,
               {SQL_DOT.format(a='a.embedding', b='b.embedding')} AS score,
               row_number() OVER (PARTITION BY cd.q_id
                   ORDER BY {SQL_DOT.format(a='a.embedding', b='b.embedding')} DESC,
                            cd.c_id) AS rank
        FROM cand cd
        JOIN embeddings a ON a.vec_id = cd.q_id
        JOIN embeddings b ON b.vec_id = cd.c_id)
    WHERE rank <= {TOP_K}
"""


@register("sim_search_blocked", oracle=BLOCKED_SQL)
def sim_search_blocked(spark, sf_dir):
    """ANN via random-hyperplane LSH (recall@5 ≥ 0.9 floor vs the
    brute anchor pinned in tests/test_llm_ops.py).

    Candidates = any shared (band, band_key); exact re-rank within
    candidates. See lsh_bands for the recall/candidate-fraction
    tradeoff on this deliberately structureless corpus. With the
    portable Irwin–Hall integer hyperplanes and micro-quantized sign
    dots, the candidate set is engine-independent and the op carries
    a full value-hash oracle (upgraded from rows-only in round 5)."""
    em = table(spark, sf_dir, "embeddings")
    q = lsh_bands(
        em.filter(F.col("vec_id") < N_PROBES).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
        ),
        "q_emb",
    )
    c = lsh_bands(
        em.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb")),
        "c_emb",
    )
    # dedupe on bare id pairs (two longs), not on the 64-float vectors —
    # the distinct's shuffle width is what dominates at scale
    cands = (
        q.select("band", "band_key", "q_id")
        .join(c.select("band", "band_key", "c_id"), ["band", "band_key"])
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id")
        .distinct()
    )
    qv = em.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    cv = em.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb"))
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("c_id"))
    return (
        cands.join(F.broadcast(qv), "q_id")
        .join(cv, "c_id")
        .select(
            "q_id", "c_id", dot6(F.col("q_emb"), F.col("c_emb")).alias("score")
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
    )


IVF_NLIST = 16  # inverted lists (clusters)
IVF_NPROBE = 8  # clusters probed per query (recall@k >= 0.9 floor:
# probing half the 16 lists measures 0.93 recall at ~0.5 candidate
# fraction on this structureless corpus — see lsh_bands docstring for
# why high recall is expensive here and cheap on real embeddings)


def _ivf_assign(vectors, centroids, keep_aff=False):
    """Max-dot cluster per vector; ties break to lowest cluster id.
    Broadcast-centroid map-only pass (the NLIST×64 table is tiny at
    any scale). ``keep_aff`` retains the winning dot — the residual
    the drift report aggregates."""
    w = Window.partitionBy("c_id").orderBy(F.desc("aff"), F.asc("cluster"))
    out_cols = ["c_id", "c_emb", "cluster"] + (["aff"] if keep_aff else [])
    return (
        vectors.crossJoin(F.broadcast(centroids))
        .select(
            "c_id",
            "c_emb",
            "cluster",
            dot6(F.col("c_emb"), F.col("centroid")).alias("aff"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(*out_cols)
    )


def _ivf_build_from(em):
    """IVF build over an arbitrary (vec_id, embedding) frame — the
    base of both the full-corpus build (_ivf_build) and the
    append lifecycle's frozen-centroid build over the pre-cut slice
    (sim_index_append)."""
    em = fan_out(em, "vec_id")
    c = em.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb"))

    seeds = (
        em.filter(F.col("vec_id") < IVF_NLIST)
        .select(F.col("vec_id").alias("cluster"), F.col("embedding").alias("centroid"))
    )

    assign = _ivf_assign

    # one Lloyd refinement: element-wise FLOOR-MEAN of each cluster's
    # members over micro-quantized ints (floor(v*1e6+0.5) BIGINTs,
    # exact sum+count, floor(sum/count) — sums ≤ 5e8, exact in
    # double), NOT F.avg: float avg is shuffle-order-dependent, and
    # the exact-integer form makes the whole index engine-independent
    # (sim_search_ivf's full value-hash oracle restates it)
    assigned0 = assign(c, seeds)
    refined = (
        assigned0.select("cluster", F.posexplode("c_emb").alias("pos", "v"))
        .withColumn(
            "vu", F.floor(F.col("v").cast("double") * 1_000_000 + F.lit(0.5)).cast("long")
        )
        .groupBy("cluster", "pos")
        .agg(
            (
                F.floor(F.sum("vu") / F.count(F.lit(1)).cast("double"))
                / F.lit(1_000_000.0)
            ).alias("m")
        )
        .groupBy("cluster")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm")
        )
        .select(
            "cluster",
            F.transform(F.col("pm"), lambda s: s["m"].cast("float")).alias("centroid"),
        )
    )
    return refined, assign(c, refined)


def _ivf_build(spark, sf_dir):
    """Shared IVF index build (seed -> assign -> one Lloyd refinement
    -> reassign) returning (centroids, inverted_lists). Both the
    in-memory search (sim_search_ivf) and the persisted lifecycle
    (sim_index_persist_probe) call THIS function, so the persist ≡
    rebuild property test pins one implementation, not two copies."""
    return _ivf_build_from(table(spark, sf_dir, "embeddings"))


def _ivf_probe(spark, sf_dir, cent, inv):
    """Probe the NPROBE nearest centroids per query, exact re-rank
    within the probed inverted lists (shared by both IVF ops)."""
    em = table(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    probe_w = Window.partitionBy("q_id").orderBy(F.desc("aff"), F.asc("cluster"))
    probes = (
        q.crossJoin(F.broadcast(cent))
        .select(
            "q_id", "q_emb", "cluster", dot6(F.col("q_emb"), F.col("centroid")).alias("aff")
        )
        .withColumn("rn", F.row_number().over(probe_w))
        .filter(F.col("rn") <= IVF_NPROBE)
        .select("q_id", "q_emb", "cluster")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("c_id"))
    return (
        probes.join(inv, "cluster")
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", dot6(F.col("q_emb"), F.col("c_emb")).alias("score"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
    )


IVF_SQL = f"""
    WITH seeds AS (SELECT vec_id AS cluster, embedding AS centroid
                   FROM embeddings WHERE vec_id < {IVF_NLIST}),
    a0 AS MATERIALIZED (
        SELECT c_id, cluster FROM (
            SELECT e.vec_id AS c_id, s.cluster,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {SQL_DOT.format(a='e.embedding', b='s.centroid')} DESC,
                                s.cluster) AS rn
            FROM embeddings e CROSS JOIN seeds s) WHERE rn = 1),
    eu AS MATERIALIZED (
        SELECT vec_id, u.i - 1 AS pos,
               CAST(floor(CAST(embedding[u.i] AS DOUBLE) * 1000000 + 0.5)
                    AS BIGINT) AS e_u
        FROM embeddings, unnest(range(1, len(embedding) + 1)) u(i)),
    cent AS MATERIALIZED (
        SELECT cluster,
               list(CAST(m / 1000000.0 AS FLOAT) ORDER BY pos) AS centroid
        FROM (SELECT a.cluster, eu.pos,
                     floor(CAST(sum(eu.e_u) AS DOUBLE) / count(*)) AS m
              FROM a0 a JOIN eu ON eu.vec_id = a.c_id
              GROUP BY 1, 2)
        GROUP BY cluster),
    a1 AS MATERIALIZED (
        SELECT c_id, c_emb, cluster FROM (
            SELECT e.vec_id AS c_id, e.embedding AS c_emb, s.cluster,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {SQL_DOT.format(a='e.embedding', b='s.centroid')} DESC,
                                s.cluster) AS rn
            FROM embeddings e CROSS JOIN cent s) WHERE rn = 1),
    probes AS MATERIALIZED (
        SELECT q_id, q_emb, cluster FROM (
            SELECT q.vec_id AS q_id, q.embedding AS q_emb, s.cluster,
                   row_number() OVER (PARTITION BY q.vec_id
                       ORDER BY {SQL_DOT.format(a='q.embedding', b='s.centroid')} DESC,
                                s.cluster) AS rn
            FROM embeddings q CROSS JOIN cent s
            WHERE q.vec_id < {N_PROBES}) WHERE rn <= {IVF_NPROBE})
    SELECT q_id, c_id, score, rank FROM (
        SELECT p.q_id, v.c_id,
               {SQL_DOT.format(a='p.q_emb', b='v.c_emb')} AS score,
               row_number() OVER (PARTITION BY p.q_id
                   ORDER BY {SQL_DOT.format(a='p.q_emb', b='v.c_emb')} DESC,
                            v.c_id) AS rank
        FROM probes p JOIN a1 v ON v.cluster = p.cluster
        WHERE p.q_id <> v.c_id)
    WHERE rank <= {TOP_K}
"""


@register("sim_search_ivf", oracle=IVF_SQL)
def sim_search_ivf(spark, sf_dir):
    """ANN via an IVF index built with one distributed Lloyd step (measured recall@5 = 0.93 vs the brute anchor at sf0.01, floor 0.9 in tests/test_llm_ops.py).

    Index build (all DataFrame ops, no collect on the data path):
    seed centroids = the NLIST lowest vec_ids → assign every vector to
    its max-dot centroid (broadcast NLIST×64 table) → recompute
    centroids as element-wise means via posexplode + groupBy(cluster,
    pos) → reassign. Search: probe the NPROBE nearest centroids per
    query, exact re-rank only within those inverted lists.

    At 100 TB the shape holds: the centroid table stays tiny (NLIST
    rows, always broadcast), assignment is a map-side pass, and the
    probe join fans each query out to NPROBE list-partitions instead
    of the whole corpus.
    """
    refined, lists = _ivf_build(spark, sf_dir)
    return _ivf_probe(spark, sf_dir, refined, lists)


NEARDUP_THRESHOLD = 0.40


@register(
    "embed_cosine_neardup",
    oracle=f"""
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               {SQL_DOT.format(a='a.embedding', b='b.embedding')} AS cosine
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE {SQL_DOT.format(a='a.embedding', b='b.embedding')} >= {NEARDUP_THRESHOLD}
    """,
)
def embed_cosine_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (all-pairs exact form —
    the oracle-checkable anchor; the LSH-blocked path is
    sim_search_blocked). Threshold 0.40 is data-calibrated: max
    pairwise cosine in the testdata is ~0.51.

    Execution shape: the corpus matrix is dim-table sized (≤2k×64
    floats here; at 100 TB the all-pairs *anchor* only ever runs on a
    sampled/blocked slice that is likewise broadcastable — the full
    corpus goes through sim_search_blocked). So one side is collected
    into an executor broadcast and each partition scores its rows
    against it with numpy rank-1 updates — one `acc += a_i ⊗ b_i` per
    dimension, the same left-to-right double addition order as the
    zip_with/aggregate fold, so scores are bit-identical to the
    DuckDB sequential-fold oracle (~20× over the interpreted HOF on
    2M pairs). Only pairs above a safety margin below the threshold
    leave Python; the exact round+filter happens JVM-side.
    """
    import numpy as np
    import pandas as pd

    em = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pdf = em.toPandas()
    ids = pdf["vec_id"].to_numpy()
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)
    # raw >= threshold - 1e-6 can't lose any pair that rounds to >= threshold
    margin = NEARDUP_THRESHOLD - 1e-6

    def score(batches):
        all_ids, all_mat = b_ids.value, b_mat.value
        for batch in batches:
            a_ids = batch["vec_id"].to_numpy()
            a_mat = np.stack(batch["embedding"].to_numpy()).astype(np.float64)
            acc = np.zeros((a_mat.shape[0], all_mat.shape[0]))
            for i in range(a_mat.shape[1]):
                acc += a_mat[:, i : i + 1] * all_mat[None, :, i]
            keep = (acc >= margin) & (a_ids[:, None] < all_ids[None, :])
            ai, bj = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "vec_a": a_ids[ai],
                    "vec_b": all_ids[bj],
                    "raw": acc[ai, bj],
                }
            )

    out = em.mapInPandas(score, "vec_a long, vec_b long, raw double")
    return out.select(
        "vec_a", "vec_b", F.round("raw", 6).alias("cosine")
    ).filter(F.col("cosine") >= NEARDUP_THRESHOLD)


@register(
    "knn_label_vote",
    oracle=f"""
        WITH r AS ({TOPK_SQL}),
        votes AS (
          SELECT r.q_id, e.label, count(*) AS votes
          FROM r JOIN embeddings e ON r.c_id = e.vec_id
          GROUP BY 1, 2
        ),
        ranked AS (
          SELECT q_id, label, votes,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY votes DESC, label) AS rn
          FROM votes
        )
        SELECT q_id, label AS predicted_label, votes FROM ranked WHERE rn = 1
    """,
)
def knn_label_vote(spark, sf_dir):
    """k-NN majority label among the top-k cosine neighbors; ties break
    to the smallest label."""
    em = table(spark, sf_dir, "embeddings")
    topk = sim_search_topk(spark, sf_dir)
    labels = em.select(F.col("vec_id").alias("c_id"), "label")
    votes = (
        topk.join(F.broadcast(labels), "c_id")
        .groupBy("q_id", "label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("votes"), F.asc("label"))
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("q_id", F.col("label").alias("predicted_label"), "votes")
    )


@register(
    "embed_normalize",
    oracle="""
        WITH n AS (
          SELECT vec_id,
                 sqrt(list_aggregate(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS norm
          FROM embeddings
        )
        SELECT vec_id, round(norm, 6) AS l2_norm,
               CAST(abs(norm - 1.0) < 0.001 AS BOOLEAN) AS is_unit
        FROM n
    """,
)
def embed_normalize(spark, sf_dir):
    """L2-norm computation/validation over the embedding column — the
    normalization gate an ingestion pipeline applies so that dot ==
    cosine downstream (FIXTURES.md says these are pre-normalized; the
    is_unit flag proves it query-side)."""
    em = table(spark, sf_dir, "embeddings")
    norm = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    return em.select(
        "vec_id",
        F.round(norm, 6).alias("l2_norm"),
        (F.abs(norm - 1.0) < 0.001).alias("is_unit"),
    )


Q_SCALE = 127


@register(
    "embed_quantize",
    oracle=f"""
        WITH q AS (
          SELECT vec_id,
                 list_transform(embedding,
                   x -> CAST(least(greatest(
                          floor(CAST(x AS DOUBLE) * {Q_SCALE} + 0.5),
                          -{Q_SCALE}), {Q_SCALE}) AS INT)) AS q8
          FROM embeddings
        )
        SELECT vec_id, array_to_string(q8, ',') AS q8,
               round(list_aggregate(
                 list_transform(range(1, len(q8) + 1),
                   i -> abs(CAST(embedding[i] AS DOUBLE) - q8[i] / {Q_SCALE}.0)),
                 'max'), 6) AS max_abs_err
        FROM q JOIN embeddings USING (vec_id)
    """,
)
def embed_quantize(spark, sf_dir):
    """Int8 embedding quantization (symmetric, scale 127) with per-
    vector max reconstruction error — the vector-index compression
    step before ANN serving. Rounding is floor(x*127 + 0.5) written
    out explicitly because Spark's round() and DuckDB's round() break
    half-way ties differently; floor-plus-half is bit-identical in
    both. Map-only, no shuffle; the q8 array is 4x smaller than the
    float32 input (16x vs float64) — the actual point at 100 TB."""
    em = table(spark, sf_dir, "embeddings")
    q8 = F.transform(
        "embedding",
        lambda x: F.least(
            F.greatest(
                F.floor(x.cast("double") * Q_SCALE + 0.5), F.lit(-Q_SCALE)
            ),
            F.lit(Q_SCALE),
        ).cast("int"),
    )
    err = F.round(
        F.array_max(
            F.zip_with(
                "embedding",
                F.col("q8"),
                lambda x, q: F.abs(x.cast("double") - q / Q_SCALE),
            )
        ),
        6,
    )
    return em.select("vec_id", "embedding", q8.alias("q8")).select(
        "vec_id",
        F.array_join(F.transform("q8", lambda x: x.cast("string")), ",").alias("q8"),
        err.alias("max_abs_err"),
    )


@register(
    "embed_dim_minmax",
    oracle="""
        SELECT label, i - 1 AS dim,
               min(embedding[i]) AS min_v, max(embedding[i]) AS max_v
        FROM embeddings, unnest(range(1, 65)) r(i)
        GROUP BY label, dim
        ORDER BY label, dim
    """,
)
def embed_dim_minmax(spark, sf_dir):
    """Per-label, per-dimension min/max over the embedding column —
    the feature-range profile used for quantization calibration and
    drift monitoring. posexplode fans each vector out map-side (64
    rows/vector, no Python), then one hash aggregation on the compact
    (label, dim) key; min/max are order-independent so float results
    are bit-exact across engines at any parallelism."""
    e = table(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.min("v").alias("min_v"), F.max("v").alias("max_v"))
        .orderBy("label", "dim")
    )


@register(
    "embed_centroid_per_label",
    oracle="""
        SELECT label, CAST(i AS INTEGER) AS dim,
               sum(CAST(round(CAST(embedding[i+1] AS DOUBLE)*10000000)
                        AS BIGINT))/count(*)/10000000.0 AS centroid,
               count(*) AS n_vecs
        FROM embeddings, unnest(range(0, 64)) r(i)
        GROUP BY label, i
        ORDER BY label, dim
    """,
)
def embed_centroid_per_label(spark, sf_dir):
    """Per-class centroid of the embedding space (label → 64-dim mean
    vector), the building block for nearest-centroid classification
    and IVF coarse quantizers (sim_search_ivf recomputes these each
    Lloyd step). posexplode flattens to (label, dim, value); the mean
    runs on a 1e-7-quantized integer so the merge order of partial
    sums can't flake the hash (float32→double is exact, the quantize
    is one correctly-rounded op on both engines).

    Scale: |labels|×64 groups — the agg output is tiny no matter the
    corpus size, and the partial agg collapses each task to ≤640
    rows before the one shuffle. No collect; the exploded relation
    is 64× rows but never materialized (pipelined into the agg)."""
    e = table(spark, sf_dir, "embeddings")
    ex = e.select(
        "label", F.posexplode("embedding").alias("dim", "x")
    )
    return (
        ex.groupBy("label", "dim")
        .agg(
            (
                F.sum(
                    F.round(F.col("x").cast("double") * 10000000.0).cast("long")
                )
                / F.count(F.lit(1))
                / 10000000.0
            ).alias("centroid"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
        .orderBy("label", "dim")
    )


@register(
    "embed_centroid_distance",
    oracle="""
        WITH c AS (
          SELECT label, i AS dim,
                 sum(CAST(round(CAST(embedding[i+1] AS DOUBLE)*10000000)
                          AS BIGINT))/count(*)/10000000.0 AS centroid
          FROM embeddings, unnest(range(0, 64)) r(i)
          GROUP BY label, i
        ), d AS (
          SELECT e.vec_id, e.label,
                 sum(CAST(round(
                   (CAST(e.embedding[c.dim+1] AS DOUBLE) - c.centroid)
                   * (CAST(e.embedding[c.dim+1] AS DOUBLE) - c.centroid)
                   * 1000000000) AS BIGINT)) AS sq_nano
          FROM embeddings e JOIN c ON e.label = c.label
          GROUP BY e.vec_id, e.label
        )
        SELECT vec_id, label,
               round(sqrt(CAST(sq_nano AS DOUBLE) / 1000000000.0), 6)
                 AS centroid_dist,
               CAST(row_number() OVER (PARTITION BY label
                    ORDER BY sq_nano DESC, vec_id) AS BIGINT) AS outlier_rank
        FROM d
        ORDER BY vec_id
    """,
)
def embed_centroid_distance(spark, sf_dir):
    """Distance of every embedding to its own label's centroid, with
    a per-label outlier rank — the mislabeled-example / outlier
    detector run before using labels for eval or distillation.
    Composes embed_centroid_per_label: the label×64 centroid
    relation (tiny at any scale) broadcasts onto the posexploded
    vectors; each per-dim squared deviation is quantized to exact
    integer nano-units BEFORE the per-vector sum, so the 64-way
    merge order can't flake the hash, and ranking keys on the
    integer. One broadcast join + one vec-keyed aggregation."""
    e = table(spark, sf_dir, "embeddings")
    ex = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "x")
    )
    cent = (
        ex.groupBy("label", "dim")
        .agg(
            (
                F.sum(
                    F.round(F.col("x").cast("double") * 10000000.0).cast("long")
                )
                / F.count(F.lit(1))
                / 10000000.0
            ).alias("centroid")
        )
    )
    diff = F.col("x").cast("double") - F.col("centroid")
    d = (
        ex.join(F.broadcast(cent), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(
                F.round(diff * diff * 1000000000.0).cast("long")
            ).alias("sq_nano")
        )
    )
    w = Window.partitionBy("label").orderBy(F.desc("sq_nano"), F.asc("vec_id"))
    return (
        d.select(
            "vec_id",
            "label",
            F.round(
                F.sqrt(F.col("sq_nano").cast("double") / 1000000000.0), 6
            ).alias("centroid_dist"),
            F.row_number().over(w).cast("long").alias("outlier_rank"),
        )
        .orderBy("vec_id")
    )


HARDNEG_SQL = f"""
    WITH q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS q_emb
               FROM embeddings WHERE vec_id < {N_PROBES}),
    c AS (SELECT vec_id AS c_id, label AS c_label, embedding AS c_emb
          FROM embeddings),
    s AS (
      SELECT q_id, q_label, c_id, c_label,
             {SQL_DOT.format(a='q_emb', b='c_emb')} AS score
      FROM q, c WHERE q_id <> c_id AND q_label <> c_label
    ),
    r AS (SELECT *, row_number() OVER (PARTITION BY q_id
                    ORDER BY score DESC, c_id) AS rank
          FROM s)
    SELECT q_id, q_label, c_id, c_label, score, rank
    FROM r WHERE rank <= {TOP_K}
"""


@register("embed_hard_negatives", oracle=HARDNEG_SQL)
def embed_hard_negatives(spark, sf_dir):
    """Hard-negative mining for retrieval/embedding training: per
    query, the top-k most-similar vectors with a DIFFERENT label —
    the near-misses that make contrastive batches informative
    (random negatives are too easy, same-label hits are false
    negatives). Identical brute-anchor discipline as
    sim_search_topk (broadcast probe set, exact fold-order dot),
    plus the label-inequality residual BEFORE ranking so the
    window only sees eligible candidates; the production-scale
    form swaps the candidate side to the LSH-bucketed join exactly
    as sim_search_blocked does."""
    em = table(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
    )
    c = em.select(
        F.col("vec_id").alias("c_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").alias("c_emb"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("c_id"))
    return (
        c.crossJoin(F.broadcast(q))
        .filter(
            (F.col("q_id") != F.col("c_id"))
            & (F.col("q_label") != F.col("c_label"))
        )
        .select(
            "q_id",
            "q_label",
            "c_id",
            "c_label",
            dot6(F.col("q_emb"), F.col("c_emb")).alias("score"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
    )


KMEANS_K = 8
KMEANS_ITERS = 3


# Micro-quantization scale for the exact-integer Lloyd loop: vector
# components become floor(x*1e6 + 0.5) BIGINTs, so dot products
# (≤ 64·1e12 ≈ 6.4e13 — inside int64 AND 2^53), centroid floor-mean
# updates, and argmax ties are all exact integer arithmetic that a
# SQL oracle restates bit-for-bit.
EMB_Q = 1_000_000


def _emb_u():
    """Embedding as a micro-quantized BIGINT array."""
    return F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * EMB_Q + F.lit(0.5)).cast("long"),
    )


def _kmeans_micro(pdf):
    """Exactly _emb_u() in numpy: float32 → float64 (lossless),
    ×Q, +0.5, floor, int64."""
    import numpy as np

    X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    return np.floor(X * EMB_Q + 0.5).astype(np.int64)


def _kmeans_assign(em, centroids):
    """Arrow-batched numpy assignment: one int64 matmul per batch
    against the broadcast k×d centroid matrix. Products are
    ≤ ~1e12 and row sums ≤ 64·1e12 < 2^63, so the int64 matmul
    is EXACT — the same BIGINT dot fold the oracle unrolls —
    and np.argmax's first-max rule is the coalesce-first-match
    tie-break. Replaces k interpreted zip_with folds per row
    (Catalyst HOFs are not codegen'd; measured 3.5× op speedup
    at sf0.1 with a bit-identical trajectory). Module-level so the
    incremental semantic tier can assign new BATCHES against frozen
    centroids."""
    import numpy as np

    C = np.array(centroids, dtype=np.int64)

    def assign_fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            D = _kmeans_micro(pdf) @ C.T  # n×k exact int64
            best = D.max(axis=1)
            # round-half-up of dot/Q² at 6 dp in exact form:
            # floor((dot + Q/2) / Q) / Q — matches both engines
            sim6 = np.floor((best + EMB_Q // 2) / float(EMB_Q)) / float(
                EMB_Q
            )
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "embedding": pdf["embedding"],
                    "cluster": D.argmax(axis=1).astype("int32"),
                    "sim_to_centroid": sim6,
                }
            )

    return em.mapInPandas(
        assign_fn,
        "vec_id long, embedding array<float>, cluster int, "
        "sim_to_centroid double",
    )


def _kmeans_fit(em, k: int, iters: int):
    """Shared Lloyd's loop (embed_kmeans_iterate, dedup_semantic_cluster):
    deterministic init = the k lowest vec_ids; per iteration a map-only
    argmax assignment against broadcast centroid literals, then ONE
    (cluster, dim) shuffle for the centroid update. All arithmetic is
    exact-integer over micro-quantized components (EMB_Q): assignment
    dots are BIGINT folds, the update is floor(sum/count) computed
    from exact sum+count partials — so the whole trajectory is
    engine-independent (the oracle unrolls it). Returns the fitted
    integer centroids and the assignment function."""

    import numpy as np

    def assign(centroids):
        return _kmeans_assign(em, centroids)

    import math

    init = em.orderBy("vec_id").limit(k).collect()
    centroids = [
        [math.floor(float(v) * EMB_Q + 0.5) for v in r["embedding"]]
        for r in init
    ]
    for _ in range(iters):
        C = np.array(centroids, dtype=np.int64)

        def partials_fn(batches, C=C):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                Xu = _kmeans_micro(pdf)
                cl = (Xu @ C.T).argmax(axis=1)
                rows = []
                for j in np.unique(cl):
                    m = cl == j
                    rows.append(
                        {
                            "cluster": int(j),
                            "s": Xu[m].sum(axis=0).tolist(),  # exact int64
                            "n": int(m.sum()),
                        }
                    )
                yield pd.DataFrame(rows)

        # k rows × #partitions reach the driver (≤ k×32 ×(64+2) ints);
        # the merge is integer addition — order-free
        partials = em.mapInPandas(
            partials_fn, "cluster int, s array<long>, n long"
        ).collect()
        sums: dict[int, np.ndarray] = {}
        counts: dict[int, int] = {}
        for r in partials:
            j = r["cluster"]
            sums[j] = sums.get(j, 0) + np.array(r["s"], dtype=object)
            counts[j] = counts.get(j, 0) + r["n"]
        centroids = [
            # Python // floors like DuckDB's explicit floor() — exact
            # on negative sums
            [int(s) // counts[j] for s in sums[j]]
            if j in counts
            else centroids[j]
            for j in range(k)
        ]
    return centroids, assign


def _kmeans_oracle_sql():
    """3-round unrolled Lloyd oracle over the micro-quantized integer
    arithmetic: argmax assignment = window top-1 (dot desc, j asc —
    the coalesce-first-match tie rule), floor-mean centroid update
    with empty clusters keeping their previous centroid via LEFT JOIN
    + coalesce."""
    rounds = []
    for r in range(KMEANS_ITERS):
        rounds.append(f"""
    dot{r} AS (SELECT p.vec_id, c.j, CAST(sum(p.e_u * c.c_u) AS BIGINT) AS dot
               FROM pts p JOIN cent{r} c USING (pos) GROUP BY 1, 2),
    asg{r} AS MATERIALIZED (
        SELECT vec_id, j, dot FROM (
            SELECT vec_id, j, dot,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dot DESC, j) AS rn
            FROM dot{r}) WHERE rn = 1),
    cent{r + 1} AS MATERIALIZED (
        SELECT c.j, c.pos, coalesce(u.m, c.c_u) AS c_u
        FROM cent{r} c LEFT JOIN (
            -- NOT `//`: DuckDB's integer // TRUNCATES toward zero
            -- (-7//2 = -3) where Python's floors (-4); the sums go
            -- negative, so spell floor explicitly (sum ≤ 5e8 — exact
            -- in double)
            SELECT a.j, p.pos,
                   CAST(floor(CAST(sum(p.e_u) AS DOUBLE) / count(*))
                        AS BIGINT) AS m
            FROM asg{r} a JOIN pts p USING (vec_id) GROUP BY 1, 2) u
        ON u.j = c.j AND u.pos = c.pos)""")
    R = KMEANS_ITERS
    prefix = f"""
    WITH pts AS MATERIALIZED (
        SELECT vec_id, u.i - 1 AS pos,
               CAST(floor(CAST(embedding[u.i] AS DOUBLE) * {EMB_Q} + 0.5)
                    AS BIGINT) AS e_u
        FROM embeddings, unnest(range(1, len(embedding) + 1)) u(i)),
    cent0 AS MATERIALIZED (
        SELECT ini.j, p.pos, p.e_u AS c_u
        FROM (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS j
              FROM embeddings ORDER BY vec_id LIMIT {KMEANS_K}) ini
        JOIN pts p USING (vec_id)),{",".join(rounds)},
    fin AS (SELECT p.vec_id, c.j,
                   CAST(sum(p.e_u * c.c_u) AS BIGINT) AS dot
            FROM pts p JOIN cent{R} c USING (pos) GROUP BY 1, 2),
    asgf AS MATERIALIZED (
        SELECT vec_id, j, dot FROM (
            SELECT vec_id, j, dot,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dot DESC, j) AS rn
            FROM fin) WHERE rn = 1)"""
    kmeans = f"""{prefix}
    SELECT vec_id, CAST(j AS INT) AS cluster,
           floor((dot + {EMB_Q // 2}) / {float(EMB_Q)}) / {float(EMB_Q)}
               AS sim_to_centroid
    FROM asgf
"""
    # SemDeDup on top of the SAME fitted clusters: within-cluster
    # lower-id cosine >= threshold marks a dup; the cosine is the raw
    # sequential list sum (the anchor's accumulation order) rounded
    # half-up at 6 dp exactly as the pandas mark() does
    raw_dot = (
        "list_aggregate(list_transform(list_zip(ea.embedding, eb.embedding),"
        " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')"
    )
    close_cte = f"""
    close AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM asgf a JOIN asgf b ON a.j = b.j AND a.vec_id < b.vec_id
        JOIN embeddings ea ON ea.vec_id = a.vec_id
        JOIN embeddings eb ON eb.vec_id = b.vec_id
        WHERE floor({raw_dot} * 1000000 + 0.5) / 1000000 >= {NEARDUP_THRESHOLD})"""
    semantic = f"""{prefix},{close_cte}
    SELECT a.vec_id, CAST(a.j AS BIGINT) AS cluster,
           CAST(CASE WHEN c.vec_b IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
               AS is_dup
    FROM asgf a LEFT JOIN (SELECT DISTINCT vec_b FROM close) c
    ON a.vec_id = c.vec_b
"""
    sem_pairs = f"""{prefix},{close_cte}
    SELECT vec_a, vec_b FROM close
"""
    return kmeans, semantic, sem_pairs


_KMEANS_SQL, _SEMANTIC_SQL, SEMANTIC_PAIRS_SQL = _kmeans_oracle_sql()


@register("embed_kmeans_iterate", oracle=_KMEANS_SQL)
def embed_kmeans_iterate(spark, sf_dir):
    """Full Lloyd's k-means over the embedding corpus (k=8, 3 fixed
    iterations, deterministic init = the k lowest vec_ids) — the
    corpus-clustering step behind IVF index build (sim_search_ivf runs
    exactly one of these steps) and topic-balanced data mixing.

    Per-iteration shape at 100 TB: centroids are a k×dim literal
    broadcast into a map-only argmax assignment (vectors normalized ⇒
    nearest centroid = max dot product, computed as a per-centroid
    zip_with fold); the update is ONE shuffle keyed (cluster, dim)
    after a posexplode — map-side partial sum/count compresses each
    task to ≤ k×dim rows — and only the k×dim centroid matrix ever
    reaches the driver. Empty clusters keep their previous centroid.
    Returns the final assignment plus each vector's similarity to its
    centroid (the IVF residual).

    Upgraded from rows-only in round 5: the loop runs in exact
    micro-quantized integer arithmetic (EMB_Q) — BIGINT dot folds,
    floor-mean updates, first-match argmax ties — so the full 3-round
    trajectory is engine-independent and the oracle unrolls it
    (assignment = window top-1 per round, update = floor(sum/count)
    with LEFT-JOIN-coalesce empty-cluster carryover)."""
    em = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroids, assign = _kmeans_fit(em, KMEANS_K, KMEANS_ITERS)
    return assign(centroids).select("vec_id", "cluster", "sim_to_centroid")


@register("dedup_semantic_cluster", oracle=_SEMANTIC_SQL)
def dedup_semantic_cluster(spark, sf_dir, k: int = KMEANS_K):
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540 — VERDICT r4 item 8): cluster the embedding
    corpus with k-means, then search for near-duplicate pairs ONLY
    within each cluster, dropping every vector whose cosine to a
    LOWER-id vector in the same cluster reaches the corpus near-dup
    threshold (keep-first rule, same threshold as the
    embed_cosine_neardup anchor).

    This is THE embedding-space dedup shape that fits 100 TB: the
    quadratic pair search runs per cluster (matrix bounded by the
    cluster size; in production k scales with the corpus so clusters
    stay ~constant-sized), clustering itself is the broadcast-argmax
    Lloyd loop shared with embed_kmeans_iterate, and the marking pass
    is one applyInPandas over cluster groups — no global all-pairs
    anywhere. Trade-off is recall: a near-dup pair split across a
    cluster boundary is missed, which is exactly SemDeDup's documented
    approximation. Property-tested in tests/test_llm_ops.py: the
    cluster-local drop set is a SUBSET of the global all-pairs drop
    set at the same threshold, and with k=1 the two are identical.

    Cosines use the same rank-1 accumulation order and round-to-6 as
    the anchor, so a pair scores bit-identically here and there."""
    import numpy as np
    import pandas as pd

    em = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroids, assign = _kmeans_fit(em, k, KMEANS_ITERS)
    assigned = assign(centroids).select(
        "vec_id", "embedding", F.col("cluster").cast("long").alias("cluster")
    )

    def mark(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        acc = np.zeros((len(X), len(X)))
        for i in range(X.shape[1]):
            acc += X[:, i : i + 1] * X[None, :, i]
        # half-up at 6 dp (floor(x*1e6+0.5)), NOT np.round: numpy
        # rounds ties to even where the anchor's F.round rounds half
        # away from zero — the exact cross-engine divergence the
        # round-4 review caught in the Arrow ops. Negative cosines
        # round differently under half-up but can never reach the
        # positive threshold, so the comparison is unaffected.
        close = np.floor(acc * 1e6 + 0.5) / 1e6 >= NEARDUP_THRESHOLD
        # drop j iff some lower-id i in the cluster is close (keep-first)
        dup = np.triu(close, k=1).any(axis=0)
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"],
                "cluster": pdf["cluster"],
                "is_dup": dup.astype("int64"),
            }
        )

    return assigned.groupBy("cluster").applyInPandas(
        mark, "vec_id long, cluster long, is_dup long"
    )


PCA_K = 4


@register("embed_pca_project")  # rows-only: eigendecomposition has no SQL oracle
def embed_pca_project(spark, sf_dir):
    """Distributed PCA over the embedding corpus, textbook scale
    shape: (1) ONE pass computes per-partition Gram matrices and mean
    sums via mapInPandas — each task emits a single flattened
    (d²+d+1)-float row regardless of row count, so the driver
    receives #partitions × ~4 KB, never data; (2) the d×d covariance
    eigendecomposition runs on the driver (d=64 — O(d³) is
    microseconds and independent of corpus size); (3) the top-k
    components broadcast back as literals into a map-only projection
    (zip_with dot products). This is the dimensionality-reduction
    step in front of cheaper ANN / clustering / visualization over a
    100 TB embedding corpus.

    Determinism: partial Gram rows are summed in sorted partition
    order; numpy eigh is deterministic; each component's sign is
    fixed by making its largest-|coordinate| entry positive.
    Rows-only (no SQL spelling of eig); the projection's variance
    ordering, component orthonormality, and variance-capture bounds
    are property-tested (tests/test_llm_ops.py::test_pca_properties).
    """
    import numpy as np

    em = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    d = EMB_DIM

    def partial_gram(batches):
        import pandas as _pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.vstack(pdf["embedding"].to_numpy()).astype("float64")
            g = X.T @ X  # d×d Gram
            s = X.sum(axis=0)  # d
            row = np.concatenate([g.ravel(), s, [float(len(X))]])
            # key = min vec_id in the batch: globally unique (vec_ids
            # are unique), so the fold order below is total — sorting
            # on row count would tie on uniform splits (ADVICE r4)
            yield _pd.DataFrame(
                {"part": [int(pdf["vec_id"].min())], "payload": [row.tolist()]}
            )

    parts = (
        em.select("vec_id", "embedding")
        .mapInPandas(partial_gram, "part long, payload array<double>")
        .collect()
    )
    acc = np.zeros(d * d + d + 1)
    for r in sorted(parts, key=lambda r: r["part"]):
        acc += np.asarray(r["payload"])
    n = acc[-1]
    mu = acc[d * d : d * d + d] / n
    cov = acc[: d * d].reshape(d, d) / n - np.outer(mu, mu)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:PCA_K]
    comps = []
    for j in order:
        v = vecs[:, j]
        if v[np.argmax(np.abs(v))] < 0:
            v = -v
        comps.append(v)

    proj_cols = []
    for k, v in enumerate(comps):
        centered_dot = F.aggregate(
            F.zip_with(
                "embedding",
                F.array(*[F.lit(float(x)) for x in v]),
                lambda x, y: (x.cast("double")) * y,
            ),
            F.lit(float(-np.dot(mu, v))),  # subtract μ·v ≡ center then dot
            lambda a, x: a + x,
        )
        proj_cols.append(F.round(centered_dot, 6).alias(f"pc{k + 1}"))
    return em.select("vec_id", *proj_cols)


LOGREG_ITERS = 12
LOGREG_LR = 2.0


def _logreg_fit(spark, sf_dir):
    """Distributed batch-gradient-descent logistic regression (binary:
    label==0 vs rest). Per iteration: broadcast w, ONE mapInPandas
    pass where each task emits a single (d+2)-float partial row
    (gradient sum + loss sum + count), driver sums partials in sorted
    order and steps. Returns (w, per-iteration losses)."""
    import numpy as np

    em = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding", "label")
        .persist()  # one parquet decode for the whole GD loop; the
        # iterations re-read cached rows (guide §5 — reuse across
        # LOGREG_ITERS actions; unpersisted after the loop)
    )
    d = EMB_DIM
    w = np.zeros(d + 1)
    losses = []
    for _ in range(LOGREG_ITERS):
        wb = spark.sparkContext.broadcast(w.tolist())

        def partial(batches):
            import numpy as _np
            import pandas as _pd

            W = _np.asarray(wb.value)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = _np.vstack(pdf["embedding"].to_numpy()).astype("float64")
                Xb = _np.hstack([X, _np.ones((len(X), 1))])
                y = (pdf["label"].to_numpy() == 0).astype("float64")
                p = 1.0 / (1.0 + _np.exp(-(Xb @ W)))
                g = Xb.T @ (p - y)
                ls = -_np.sum(
                    y * _np.log(p + 1e-12) + (1 - y) * _np.log(1 - p + 1e-12)
                )
                row = _np.concatenate([g, [ls, float(len(X))]])
                yield _pd.DataFrame(
                    {"k": [int(pdf["vec_id"].min())], "payload": [row.tolist()]}
                )

        parts = em.mapInPandas(partial, "k long, payload array<double>").collect()
        acc = np.zeros(d + 3)  # d+1 gradient terms + loss sum + count
        for r in sorted(parts, key=lambda r: r["k"]):
            acc += np.asarray(r["payload"])
        n = acc[-1]
        losses.append(acc[-2] / n)
        w = w - LOGREG_LR * acc[: d + 1] / n
    em.unpersist()
    return w, losses


@register("ml_logreg_train")  # rows-only: trained weights have no SQL oracle
def ml_logreg_train(spark, sf_dir):
    """Distributed logistic-regression training — the gradient-descent
    member of the iterative family (kmeans = EM, pagerank = power
    iteration, cc = label propagation, pca = closed-form): per
    iteration ONE distributed pass emits a single (d+2)-float partial
    per task (the same bounded-partials discipline as
    embed_pca_project), the driver steps the broadcast weight vector,
    and nothing data-sized ever leaves the executors. Scoring is a
    final map-only pass. Properties pinned in tests
    (test_logreg_loss_decreases): training loss strictly decreases
    every iteration and ends at/below the prior entropy — on THIS
    corpus labels are independent of the embeddings (the same
    structureless-fixture caveat as langid/ANN), so calibration to
    the base rate, not accuracy, is the correct learnable target."""
    w, _losses = _logreg_fit(spark, sf_dir)
    em = table(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    wlit = F.array(*[F.lit(float(v)) for v in w[:-1]])
    z = F.aggregate(
        F.zip_with("embedding", wlit, lambda x, y: x.cast("double") * y),
        F.lit(float(w[-1])),
        lambda a, x: a + x,
    )
    prob = 1.0 / (1.0 + F.exp(-z))
    return em.select(
        "vec_id",
        (F.col("label") == 0).alias("is_pos"),
        F.round(prob, 6).alias("prob"),
        (prob >= 0.5).alias("predicted"),
    )


MMR_LAMBDA = 0.7
MMR_CANDIDATES = 20
MMR_PICKS = 5


def _mmr_rerank(lam):
    """Per-probe greedy MMR over the candidate pandas frame, in exact
    integer arithmetic so the pick sequence is engine-independent:
    rel is the 6-dp-rounded cosine recovered as a micro BIGINT
    (floor(rel*1e6+0.5) — exact for |ulp error| < 0.4), candidate-
    candidate penalties are micro-quantized int64 dots (numpy integer
    matmul is exact, unlike the BLAS float path whose summation order
    is unspecified), and the score comparison is the ×1e13-scaled
    integer form lam10·1e6·rel_u − (10−lam10)·pen_int (λ in tenths —
    both registered values, 0.7 and the λ=1 test, are). Ties broken
    on c_id via the strict-> ascending scan."""
    lam10 = int(round(lam * 10))

    def rerank(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("c_id").reset_index(drop=True)
        X_u = np.floor(
            np.array(pdf["c_emb"].tolist(), dtype=np.float64) * 1e6 + 0.5
        ).astype(np.int64)
        rel = pdf["rel"].to_numpy(dtype=np.float64)
        rel_u = np.floor(rel * 1e6 + 0.5).astype(np.int64)
        n = len(pdf)
        picked: list[int] = []
        max_sim = np.zeros(n, dtype=np.int64)
        for rank in range(min(MMR_PICKS, n)):
            best, best_score = -1, None
            for i in range(n):
                if i in picked:
                    continue
                penalty = 0 if rank == 0 else int(max_sim[i])
                s = lam10 * 1_000_000 * int(rel_u[i]) - (10 - lam10) * penalty
                # strict > with c_id-ascending scan order = lowest
                # c_id wins ties
                if best_score is None or s > best_score:
                    best, best_score = i, s
            picked.append(best)
            sims = X_u @ X_u[best]
            max_sim = sims if rank == 0 else np.maximum(max_sim, sims)
        return pd.DataFrame(
            {
                "q_id": pdf["q_id"].iloc[:1].repeat(len(picked)).values,
                "c_id": pdf["c_id"].iloc[picked].values,
                "mmr_rank": np.arange(1, len(picked) + 1, dtype=np.int64),
                "rel6": rel[picked],
            }
        )

    return rerank


def _mmr_oracle_sql():
    """{MMR_PICKS}-stage unrolled greedy MMR: stage 1 is the cosine
    argmax; each later stage maxes the integer score over unpicked
    shortlist members, with penalties from exact micro-int pair dots
    against the accumulated picked set."""
    lam10 = int(round(MMR_LAMBDA * 10))
    stages = []
    for r in range(2, MMR_PICKS + 1):
        stages.append(f"""
    pk{r} AS MATERIALIZED (
        SELECT q_id, c_id, rel FROM (
            SELECT sl.q_id, sl.c_id, sl.rel,
                   row_number() OVER (PARTITION BY sl.q_id
                       ORDER BY {lam10} * 1000000 * sl.rel_u
                                - {10 - lam10} * pen.mx DESC,
                                sl.c_id) AS rn
            FROM sl
            JOIN (SELECT ps.q_id, ps.ca AS c_id, max(ps.simint) AS mx
                  FROM pairsim ps
                  JOIN all{r - 1} k ON ps.q_id = k.q_id AND ps.cb = k.c_id
                  GROUP BY 1, 2) pen
              ON pen.q_id = sl.q_id AND pen.c_id = sl.c_id
            LEFT JOIN all{r - 1} k2
              ON k2.q_id = sl.q_id AND k2.c_id = sl.c_id
            WHERE k2.c_id IS NULL) WHERE rn = 1),
    all{r} AS (SELECT q_id, c_id FROM all{r - 1}
               UNION ALL SELECT q_id, c_id FROM pk{r})""")
    out = "\n        UNION ALL ".join(
        f"SELECT q_id, c_id, CAST({r} AS BIGINT) AS mmr_rank, rel AS rel6"
        f" FROM pk{r}"
        for r in range(1, MMR_PICKS + 1)
    )
    return f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
               FROM embeddings WHERE vec_id < {N_PROBES}),
    c AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings),
    sl AS MATERIALIZED (
        SELECT q_id, c_id, rel,
               CAST(floor(rel * 1000000 + 0.5) AS BIGINT) AS rel_u
        FROM (SELECT q_id, c_id, rel,
                     row_number() OVER (PARTITION BY q_id
                                        ORDER BY rel DESC, c_id) AS rnk
              FROM (SELECT q_id, c_id,
                           {SQL_DOT.format(a='q_emb', b='c_emb')} AS rel
                    FROM q, c WHERE q_id <> c_id))
        WHERE rnk <= {MMR_CANDIDATES}),
    eu AS MATERIALIZED (
        SELECT vec_id, u.i - 1 AS pos,
               CAST(floor(CAST(embedding[u.i] AS DOUBLE) * 1000000 + 0.5)
                    AS BIGINT) AS e_u
        FROM embeddings, unnest(range(1, len(embedding) + 1)) u(i)),
    pairsim AS MATERIALIZED (
        SELECT a.q_id, a.c_id AS ca, b.c_id AS cb,
               CAST(sum(ea.e_u * eb.e_u) AS BIGINT) AS simint
        FROM sl a JOIN sl b ON a.q_id = b.q_id AND a.c_id <> b.c_id
        JOIN eu ea ON ea.vec_id = a.c_id
        JOIN eu eb ON eb.vec_id = b.c_id AND eb.pos = ea.pos
        GROUP BY 1, 2, 3),
    pk1 AS MATERIALIZED (
        SELECT q_id, c_id, rel FROM (
            SELECT q_id, c_id, rel,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY rel_u DESC, c_id) AS rn
            FROM sl) WHERE rn = 1),
    all1 AS (SELECT q_id, c_id FROM pk1),{",".join(stages)}
    SELECT * FROM ({out})
"""


@register("embed_mmr_diversify", oracle=_mmr_oracle_sql())
def embed_mmr_diversify(spark, sf_dir, lam=MMR_LAMBDA):
    """Maximal Marginal Relevance re-rank (Carbonell & Goldstein 1998):
    for each probe, pick {MMR_PICKS} of the top-{MMR_CANDIDATES}
    cosine candidates greedily maximizing
    lambda*sim(q,c) - (1-lambda)*max_sim(c, already_picked) — the
    diversified-retrieval step RAG pipelines run after ANN so the k
    results aren't k paraphrases of one passage.

    Scale shape: candidate generation is the existing distributed
    top-k (probes broadcast over the corpus scan, per-group window
    limit); the greedy loop — inherently sequential — runs per probe
    in applyInPandas over a {MMR_CANDIDATES}-row group (model-sized:
    the loop never sees the corpus, only each probe's shortlist).
    Property-tested: rank-1 pick equals the cosine argmax, picks are
    distinct members of the shortlist, and lambda=1 degenerates to
    the plain cosine order."""
    em = table(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    c = em.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("rel"), F.asc("c_id"))
    shortlist = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            "c_emb",
            dot6(F.col("q_emb"), F.col("c_emb")).alias("rel"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= MMR_CANDIDATES)
    )
    return shortlist.groupBy("q_id").applyInPandas(
        _mmr_rerank(lam), "q_id long, c_id long, mmr_rank long, rel6 double"
    )


@register("sim_index_persist_probe", oracle=IVF_SQL)  # persist ≡ rebuild
# property-tested, so the persisted probe shares sim_search_ivf's oracle
def sim_index_persist_probe(spark, sf_dir):
    """IVF index LIFECYCLE: build once, persist, serve many — the
    production ANN shape at 100 TB (nobody re-runs Lloyd per query).
    The index is two parquet tables: the NLIST centroids and the
    inverted lists (cluster, c_id, c_emb) written partitionBy(cluster)
    so a probe touches only its NPROBE cluster directories — the
    partition layout IS the index. Probing the LOADED index re-ranks
    exactly within the probed lists and must reproduce
    sim_search_ivf's in-memory answer bit-for-bit
    (tests/test_properties.py pins persist ≡ rebuild).

    Serving note: with the small probe set broadcast, Spark can DPP-
    prune the cluster partitions; at minimum the scan is limited to
    the joined clusters' row groups by partition-key filtering in the
    shuffle join. Centroids reload as float arrays unchanged (stored
    as float32, same type dot6 sees in the in-memory build)."""
    from ..registry import scratch_dir

    refined, lists = _ivf_build(spark, sf_dir)

    base = scratch_dir("sim_index_persist_probe")
    cent_path, list_path = f"{base}/centroids", f"{base}/lists"
    refined.write.mode("overwrite").parquet(cent_path)
    lists.repartition("cluster").write.mode("overwrite").partitionBy(
        "cluster"
    ).parquet(list_path)

    cent = spark.read.parquet(cent_path)
    inv = spark.read.parquet(list_path)
    return _ivf_probe(spark, sf_dir, cent, inv)


# ---- IVF index MAINTENANCE: append + drift (round-6 verdict ask) ----
# The growing-corpus lifecycle: new vectors are assigned against the
# FROZEN build-time centroids (map-only) and appended to the inverted
# lists as a new generation — no re-cluster per ingest. The cut between
# "built" and "appended" vectors is the 80% id point, spelled with the
# same integer arithmetic on both engines.
IVF_APPEND_CUT_SQL = "(SELECT 4 * (max(vec_id) + 1) // 5 FROM embeddings)"

_IVF_APPEND_CTES = f"""
    WITH seeds AS (SELECT vec_id AS cluster, embedding AS centroid
                   FROM embeddings WHERE vec_id < {IVF_NLIST}),
    a0 AS MATERIALIZED (
        SELECT c_id, cluster FROM (
            SELECT e.vec_id AS c_id, s.cluster,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {SQL_DOT.format(a='e.embedding', b='s.centroid')} DESC,
                                s.cluster) AS rn
            FROM embeddings e CROSS JOIN seeds s
            WHERE e.vec_id < {IVF_APPEND_CUT_SQL}) WHERE rn = 1),
    eu AS MATERIALIZED (
        SELECT vec_id, u.i - 1 AS pos,
               CAST(floor(CAST(embedding[u.i] AS DOUBLE) * 1000000 + 0.5)
                    AS BIGINT) AS e_u
        FROM embeddings, unnest(range(1, len(embedding) + 1)) u(i)
        WHERE vec_id < {IVF_APPEND_CUT_SQL}),
    cent AS MATERIALIZED (
        SELECT cluster,
               list(CAST(m / 1000000.0 AS FLOAT) ORDER BY pos) AS centroid
        FROM (SELECT a.cluster, eu.pos,
                     floor(CAST(sum(eu.e_u) AS DOUBLE) / count(*)) AS m
              FROM a0 a JOIN eu ON eu.vec_id = a.c_id
              GROUP BY 1, 2)
        GROUP BY cluster),
    a1 AS MATERIALIZED (
        SELECT c_id, c_emb, cluster, aff FROM (
            SELECT e.vec_id AS c_id, e.embedding AS c_emb, s.cluster,
                   {SQL_DOT.format(a='e.embedding', b='s.centroid')} AS aff,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {SQL_DOT.format(a='e.embedding', b='s.centroid')} DESC,
                                s.cluster) AS rn
            FROM embeddings e CROSS JOIN cent s) WHERE rn = 1)
"""

IVF_APPEND_SQL = f"""{_IVF_APPEND_CTES},
    probes AS MATERIALIZED (
        SELECT q_id, q_emb, cluster FROM (
            SELECT q.vec_id AS q_id, q.embedding AS q_emb, s.cluster,
                   row_number() OVER (PARTITION BY q.vec_id
                       ORDER BY {SQL_DOT.format(a='q.embedding', b='s.centroid')} DESC,
                                s.cluster) AS rn
            FROM embeddings q CROSS JOIN cent s
            WHERE q.vec_id < {N_PROBES}) WHERE rn <= {IVF_NPROBE})
    SELECT q_id, c_id, score, rank FROM (
        SELECT p.q_id, v.c_id,
               {SQL_DOT.format(a='p.q_emb', b='v.c_emb')} AS score,
               row_number() OVER (PARTITION BY p.q_id
                   ORDER BY {SQL_DOT.format(a='p.q_emb', b='v.c_emb')} DESC,
                            v.c_id) AS rank
        FROM probes p JOIN a1 v ON v.cluster = p.cluster
        WHERE p.q_id <> v.c_id)
    WHERE rank <= {TOP_K}
"""

DRIFT_TRIGGER_PCT = 25  # re-cluster when mean affinity drops > 25%

# The drift monitor's split: centroids train on the first 60%, the
# 60–80% slice is the build-time VALIDATION cohort, ≥80% is the
# appended cohort. Comparing validation vs appended keeps both sides
# OUT-OF-SAMPLE — comparing against the training members themselves
# reads ~26% too high on this structureless corpus (each member pulls
# its cluster centroid toward itself), which would false-alarm every
# stationary ingest.
IVF_TRAIN_CUT_SQL = "(SELECT 3 * (max(vec_id) + 1) // 5 FROM embeddings)"

# the appended tail's midpoint — the streamed rigs' second slice
# boundary, and the delete cohort's arrival horizon (vectors ARRIVED
# by the delete boundary = the stream's gens 0..N-2, i.e. vec_id
# below this midpoint; later arrivals sharing the id pattern are NOT
# taken down). Defined here, above the pq import point, because the
# pq module's oracle builders need it at decoration time.
IVF_MID_SQL = (
    "(SELECT (4 * (max(vec_id) + 1) // 5 + max(vec_id) + 1) // 2"
    " FROM embeddings)"
)

IVF_DRIFT_SQL = f"""
    WITH seeds AS (SELECT vec_id AS cluster, embedding AS centroid
                   FROM embeddings WHERE vec_id < {IVF_NLIST}),
    a0 AS MATERIALIZED (
        SELECT c_id, cluster FROM (
            SELECT e.vec_id AS c_id, s.cluster,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {SQL_DOT.format(a='e.embedding', b='s.centroid')} DESC,
                                s.cluster) AS rn
            FROM embeddings e CROSS JOIN seeds s
            WHERE e.vec_id < {IVF_TRAIN_CUT_SQL}) WHERE rn = 1),
    eu AS MATERIALIZED (
        SELECT vec_id, u.i - 1 AS pos,
               CAST(floor(CAST(embedding[u.i] AS DOUBLE) * 1000000 + 0.5)
                    AS BIGINT) AS e_u
        FROM embeddings, unnest(range(1, len(embedding) + 1)) u(i)
        WHERE vec_id < {IVF_TRAIN_CUT_SQL}),
    cent AS MATERIALIZED (
        SELECT cluster,
               list(CAST(m / 1000000.0 AS FLOAT) ORDER BY pos) AS centroid
        FROM (SELECT a.cluster, eu.pos,
                     floor(CAST(sum(eu.e_u) AS DOUBLE) / count(*)) AS m
              FROM a0 a JOIN eu ON eu.vec_id = a.c_id
              GROUP BY 1, 2)
        GROUP BY cluster),
    held AS MATERIALIZED (
        SELECT c_id, cluster, aff FROM (
            SELECT e.vec_id AS c_id, s.cluster,
                   {SQL_DOT.format(a='e.embedding', b='s.centroid')} AS aff,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {SQL_DOT.format(a='e.embedding', b='s.centroid')} DESC,
                                s.cluster) AS rn
            FROM embeddings e CROSS JOIN cent s
            WHERE e.vec_id >= {IVF_TRAIN_CUT_SQL}) WHERE rn = 1),
    st AS MATERIALIZED (
        SELECT CASE WHEN c_id < {IVF_APPEND_CUT_SQL}
                    THEN '0_validation' ELSE '1_append' END AS phase,
               CAST(count(*) AS BIGINT) AS n_vectors,
               CAST(floor(CAST(sum(CAST(floor(aff * 1000000 + 0.5) AS BIGINT))
                               AS DOUBLE) / count(*)) AS BIGINT)
                 AS mean_aff_micro
        FROM held GROUP BY 1)
    SELECT phase, n_vectors, mean_aff_micro,
           CASE WHEN phase = '0_validation' THEN FALSE
                ELSE ((SELECT mean_aff_micro FROM st WHERE phase = '0_validation')
                      - mean_aff_micro) * {100 // DRIFT_TRIGGER_PCT}
                     > (SELECT mean_aff_micro FROM st WHERE phase = '0_validation')
           END AS recluster_due
    FROM st ORDER BY phase
"""


N_SIM_BATCHES = 3  # batch 0 = the 80% base build; 1..2 = appended halves


def _ivf_cuts(mx):
    """The id-range cut points every IVF rig and oracle shares, from
    the corpus's max vec_id: (train_cut, append_cut, mid) = 60% / 80% /
    the midpoint of the appended tail. ONE derivation (round-8 review:
    three inline re-derivations had to stay bit-equal to the SQL
    constants' integer arithmetic)."""
    train_cut = 3 * (mx + 1) // 5
    append_cut = 4 * (mx + 1) // 5
    mid = (append_cut + mx + 1) // 2
    return train_cut, append_cut, mid


def _vec_increments(mx, split_train=False):
    """The vector rigs' id-range increments, cut at the append cut and
    the appended tail's midpoint (N_SIM_BATCHES increments; also at
    the train cut with ``split_train``): ``(firsts, batch_of)``, the
    first vec_id of each increment and the Column counting the cuts at
    or below an id (monotone in the id)."""
    train_cut, append_cut, mid = _ivf_cuts(mx)
    cuts = (train_cut, append_cut, mid) if split_train else (append_cut, mid)
    batch_of = sum((F.col("vec_id") >= c).cast("int") for c in cuts)
    return (0, *cuts), batch_of


def _ivf_append_cut(em):
    mx = em.agg(F.max("vec_id")).collect()[0][0]
    return _ivf_cuts(mx)[1]


def _ivf_lifecycle_layout(spark, em, base):
    """Build + persist the IVF LIFECYCLE layout under ``base``:
    centroids and ``lists/gen=0`` from the base slice (vec_id < the
    80% append cut), ``lists/gen=1`` = the later-arriving slice
    assigned against the frozen LOADED centroids — one broadcast
    map-only pass — both cluster-partitioned (one file per serving
    partition). Returns the loaded centroids. One spelling for
    sim_index_append, sim_index_delete and sim_index_compact (the
    `pq._ivfpq_lifecycle_layout` discipline)."""
    cut = _ivf_append_cut(em)
    refined, lists = _ivf_build_from(em.filter(F.col("vec_id") < cut))
    refined.write.mode("overwrite").parquet(f"{base}/centroids")
    lists.repartition("cluster").write.mode("overwrite").partitionBy(
        "cluster"
    ).parquet(f"{base}/lists/gen=0")
    cent = spark.read.parquet(f"{base}/centroids")
    batch = em.filter(F.col("vec_id") >= cut).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb")
    )
    _ivf_assign(batch, cent).repartition("cluster").write.mode(
        "overwrite"
    ).partitionBy("cluster").parquet(f"{base}/lists/gen=1")
    return cent


@register("sim_index_append", oracle=IVF_APPEND_SQL)
def sim_index_append(spark, sf_dir):
    """ANN index MAINTENANCE: append new vectors to a persisted IVF
    index without rebuilding (round-5 verdict ask #2). Build the index
    over the first 80% of the corpus (id cut, integer arithmetic both
    engines), persist centroids + inverted lists partitionBy(cluster)
    as generation 0; the remaining 20% "arrives later" and is assigned
    against the FROZEN loaded centroids — one broadcast map-only pass —
    then appended as generation 1 of the same list layout. Probing
    reads both generations.

    The oracle restates exactly this: Lloyd runs on the base slice
    only, the final assignment covers ALL vectors against the frozen
    base centroids. tests/test_properties.py pins appended-probe ≡
    in-memory frozen-centroid rebuild, and the drift twin
    (sim_index_drift_report) carries the re-cluster trigger.

    Scale: per ingest batch the cost is O(batch)·NLIST dot products +
    one partitioned append — never a corpus re-cluster; the list
    layout stays the partition-pruned serving index
    (sim_index_persist_probe's trick)."""
    from ..registry import scratch_dir

    base = scratch_dir("sim_index_append")
    cent = _ivf_lifecycle_layout(
        spark, table(spark, sf_dir, "embeddings"), base
    )
    # basePath makes gen a discovered partition column alongside
    # cluster, so the serving scan stays partition-prunable by BOTH
    list_path = f"{base}/lists"
    inv = spark.read.option("basePath", list_path).parquet(
        *gen_paths(list_path, 2)
    )
    return _ivf_probe(spark, sf_dir, cent, inv)


# Takedown cohort for the ANN delete op — every list generation loses
# these vec_ids. ~1/7 of the corpus, dense enough that probe answers
# visibly change (deleted vectors sat in top-K lists).
VEC_TD_MOD, VEC_TD_RES = 7, 1


def _sim_delete_sql():
    """IVF_APPEND_SQL with the takedown cohort excluded from SERVING:
    the codebook (cent) and the probe workload are unchanged — only
    the inverted-list membership loses the deleted vectors, exactly
    what the engine's generation purge does."""
    old = "WHERE p.q_id <> v.c_id)"
    assert IVF_APPEND_SQL.count(old) == 1
    return IVF_APPEND_SQL.replace(
        old,
        f"WHERE p.q_id <> v.c_id"
        f" AND v.c_id % {VEC_TD_MOD} <> {VEC_TD_RES})",
    )


@register("sim_index_delete", oracle=_sim_delete_sql())
def sim_index_delete(spark, sf_dir):
    """Vector DELETE propagation through the ANN index — the ANN twin
    of stream_dedup_delete_e2e (round-8 verdict item 4 named BOTH
    generation indexes): given a takedown cohort, every inverted-list
    generation is rewritten WITHOUT those vectors into purged twins
    (cluster-partitioned like the serving layout), a tombstone table
    records the deleted ids, and the write-last ``takedown_upto``
    marker publishes the swap atomically (one `generations.purge`) —
    serving probes the purged layout and a deleted vector can never
    again appear in any answer.

    The CODEBOOK is retained: centroids are statistical aggregates of
    the training pass, not retrievable member data, so takedown
    rewrites membership, not geometry — "from-scratch rebuild without
    those docs" therefore means re-ASSIGNING the reduced vector set
    against the frozen codebook, which the op proves in-op: the purged
    layout's probe answers must equal the probe over a clean
    reassignment of the reduced corpus (exceptAll both ways empty). If
    policy demands retraining the codebook itself, that is the
    re-cluster path (stream_sim_recluster_e2e) composed after this op.
    The oracle is the appended-index probe statement with the cohort
    excluded from list membership only.

    Scale shape: the purge is one filter-rewrite per generation (the
    filter rides the partition-pruned scan; no shuffle beyond the
    cluster repartition that keeps one file per serving partition),
    tombstones are O(cohort), and post-delete probes cost exactly what
    pre-delete probes cost."""
    from ..registry import scratch_dir

    em = table(spark, sf_dir, "embeddings")
    base = scratch_dir("sim_index_delete")
    cent = _ivf_lifecycle_layout(spark, em, base)

    # the takedown: purged per-generation twins, tombstones, marker
    _apply_cluster_takedown(spark, base, "lists", 1, "c_id")

    purged = read_gens(spark, gen_paths(f"{base}/lists", 2, purged=1))
    post = _ivf_probe(spark, sf_dir, cent, purged).localCheckpoint(
        eager=True
    )

    # frozen-codebook rebuild equivalence: purged serving must equal a
    # clean reassignment of the reduced corpus against the same cent
    reduced = em.filter(
        F.col("vec_id") % VEC_TD_MOD != VEC_TD_RES
    ).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb")
    )
    rb = _ivf_probe(
        spark, sf_dir, cent, _ivf_assign(reduced, cent)
    ).localCheckpoint(eager=True)
    diff = post.exceptAll(rb).unionByName(rb.exceptAll(post))
    if diff.limit(1).count() > 0:
        raise AssertionError(
            "post-delete probe diverges from the frozen-codebook"
            " rebuild on the reduced corpus"
        )
    return post


@register("sim_index_compact", oracle=IVF_APPEND_SQL)
def sim_index_compact(spark, sf_dir):
    """IVF list-generation COMPACTION with a probe-equivalence proof —
    the ANN twin of dedup_index_compact (the round-6 missing item
    named BOTH generation indexes): the append lifecycle leaves
    lists/gen=0 + lists/gen=1; this maintenance op rewrites all
    generations into ONE cluster-partitioned layout in a single
    distributed pass and proves the served answers are identical.

    The rewrite repartitions on `cluster` before partitionBy(cluster),
    so every serving partition lands as one file (the partition-pruned
    probe reads exactly the NPROBE directories it needs, now one file
    each instead of one-per-generation-per-writer). The probe runs
    TWICE through the shared `_ivf_probe` — against the two-generation
    layout and against the compacted one — and any differing row
    raises; the value hash is the appended-index probe oracle
    (IVF_APPEND_SQL), so correctness of the compacted index is checked
    against DuckDB, not just against the pre-compaction self. File
    shrink is asserted in-op and magnitude-checked in
    tests/test_plans.py."""
    from ..registry import scratch_dir

    base = scratch_dir("sim_index_compact")
    cent = _ivf_lifecycle_layout(
        spark, table(spark, sf_dir, "embeddings"), base
    )
    list_path = f"{base}/lists"
    lists_c = twin(list_path, "compacted")
    gens = gen_paths(list_path, 2)
    fold(
        list_path, 1,
        lambda: spark.read.option("basePath", list_path)
        .parquet(*gens)
        .drop("gen")
        .repartition("cluster")
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(lists_c),
    )
    pre = _ivf_probe(
        spark,
        sf_dir,
        cent,
        spark.read.option("basePath", list_path).parquet(*gens),
    ).localCheckpoint(eager=True)
    post = _ivf_probe(
        spark, sf_dir, cent, spark.read.parquet(lists_c)
    ).localCheckpoint(eager=True)
    diff = pre.exceptAll(post).unionByName(post.exceptAll(pre))
    if diff.limit(1).count() > 0:
        raise AssertionError(
            "probe answers diverge between generation and compacted lists"
        )
    return post


def _ivf_phase_stats(assigned, phase):
    """(phase, n_vectors, mean_aff_micro) from an affinity-carrying
    assignment — exact integers: micro-quantized winning dots, floored
    mean (sums < 2^53, exact in double on both engines)."""
    micro = F.floor(F.col("aff") * 1_000_000 + F.lit(0.5)).cast("long")
    return assigned.select(micro.alias("m")).agg(
        F.lit(phase).alias("phase"),
        F.count(F.lit(1)).alias("n_vectors"),
        F.floor(F.sum("m").cast("double") / F.count(F.lit(1)))
        .cast("long")
        .alias("mean_aff_micro"),
    )


@register("sim_index_drift_report", oracle=IVF_DRIFT_SQL)
def sim_index_drift_report(spark, sf_dir):
    """Index-staleness monitor for the append lifecycle: when should
    the frozen-centroid index be re-clustered? Centroids train on the
    first 60% of the corpus; the 60–80% slice is the build-time
    VALIDATION cohort and vectors ≥80% are the APPENDED cohort. The
    report compares the two cohorts' mean assignment affinity (winning
    centroid dot, micro-quantized floor-mean) and raises
    ``recluster_due`` when the appended cohort has dropped more than
    DRIFT_TRIGGER_PCT below validation — the signal that the data
    distribution drifted away from the frozen centroids.

    Both cohorts are OUT-OF-SAMPLE by construction: comparing against
    the training members themselves reads ~26% too optimistic on this
    structureless corpus (each member pulls its cluster centroid
    toward itself during the Lloyd step), which would false-alarm
    every stationary ingest — measured before this split was adopted.
    On the stationary fixture the flag stays False;
    tests/test_llm_ops.py force-drifts the appended cohort (negated
    vectors) and pins that the trigger fires.

    All arithmetic is exact BIGINT (micro dots, floored means, the
    threshold as an integer cross-multiply), so the monitor
    value-hashes against DuckDB. Scale: two broadcast assignment
    passes + two scalar aggregates — no index rebuild, no shuffle
    beyond the 2-row report."""
    em = table(spark, sf_dir, "embeddings")
    mx = em.agg(F.max("vec_id")).collect()[0][0]
    train_cut, append_cut, _ = _ivf_cuts(mx)
    refined, _ = _ivf_build_from(em.filter(F.col("vec_id") < train_cut))
    refined = refined.persist()

    def side(pred, phase):
        vecs = em.filter(pred).select(
            F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb")
        )
        return _ivf_phase_stats(
            _ivf_assign(vecs, refined, keep_aff=True), phase
        )

    both = side(
        (F.col("vec_id") >= train_cut) & (F.col("vec_id") < append_cut),
        "0_validation",
    ).unionByName(side(F.col("vec_id") >= append_cut, "1_append"))
    w = Window.partitionBy()
    ref_mean = F.max(
        F.when(F.col("phase") == "0_validation", F.col("mean_aff_micro"))
    ).over(w)
    flag = F.when(F.col("phase") == "0_validation", F.lit(False)).otherwise(
        (ref_mean - F.col("mean_aff_micro")) * (100 // DRIFT_TRIGGER_PCT)
        > ref_mean
    )
    report = both.select(
        "phase", "n_vectors", "mean_aff_micro", flag.alias("recluster_due")
    )
    # the 2-row report is cheap to materialize eagerly, which lets the
    # centroid cache be released instead of leaking to the
    # ContextCleaner (the cascade-fix discipline; review finding)
    report = report.localCheckpoint(eager=True)
    refined.unpersist()
    return report.orderBy("phase")


RECLUSTER_SUB_DIM = 4  # the drifted batch's true dimensionality
RECLUSTER_NORM = 0.6  # and its norm (a different embedding model)


def _drifted_corpus(em, append_cut):
    """The drifted-ingest fixture shared by sim_index_recluster and
    its streaming twin: vectors at/past ``append_cut`` arrive from a
    DIFFERENT embedding model — deterministically re-embedded into a
    RECLUSTER_SUB_DIM-dim subspace at norm RECLUSTER_NORM. The
    expression SHAPE (left-associated sum of squares, (0.6*e)/nrm
    double arithmetic) matches _recluster_drift_sql bit-for-bit."""
    em = fan_out(em, "vec_id")  # the re-embed chain is per-row CPU (guide §2.5)
    els = [
        F.element_at("embedding", i).cast("double")
        for i in range(1, RECLUSTER_SUB_DIM + 1)
    ]
    nrm = F.sqrt(sum(e * e for e in els))
    drifted = F.concat(
        F.array(
            *[
                ((F.lit(float(RECLUSTER_NORM)) * e) / nrm).cast("float")
                for e in els
            ]
        ),
        F.array_repeat(
            F.lit(0.0).cast("float"), EMB_DIM - RECLUSTER_SUB_DIM
        ),
    )
    return em.select(
        "vec_id",
        F.when(F.col("vec_id") < append_cut, F.col("embedding"))
        .otherwise(drifted)
        .alias("embedding"),
    )


def _drifted_ex_ctes():
    """The drifted-corpus WITH-prefix (ex + seeds + micro-quantized
    element table) shared by the recluster oracle and its streaming
    twin. The drifted appended cohort is restated with the exact same
    expression SHAPE the engine uses (left-associated sum of squares,
    (0.6*e)/nrm, double literals) so the re-embedded floats are
    bit-identical before any micro-quantization."""
    els = [
        f"CAST(embedding[{i}] AS DOUBLE)"
        for i in range(1, RECLUSTER_SUB_DIM + 1)
    ]
    nrm = "sqrt(" + " + ".join(f"{e}*{e}" for e in els) + ")"
    comps = ", ".join(
        f"CAST((CAST({RECLUSTER_NORM} AS DOUBLE) * {e}) / {nrm} AS FLOAT)"
        for e in els
    )
    pad = (
        f"list_transform(range({EMB_DIM - RECLUSTER_SUB_DIM}),"
        " x -> CAST(0.0 AS FLOAT))"
    )
    return f"""
    WITH ex AS MATERIALIZED (
        SELECT vec_id,
               CASE WHEN vec_id < {IVF_APPEND_CUT_SQL} THEN embedding
                    ELSE [{comps}] || {pad}
               END AS embedding
        FROM embeddings),
    seeds AS (SELECT vec_id AS cluster, embedding AS centroid
              FROM ex WHERE vec_id < {IVF_NLIST}),
    eu AS MATERIALIZED (
        SELECT vec_id, u.i - 1 AS pos,
               CAST(floor(CAST(embedding[u.i] AS DOUBLE) * 1000000 + 0.5)
                    AS BIGINT) AS e_u
        FROM ex, unnest(range(1, len(embedding) + 1)) u(i))"""


def _sql_codebook(p, where):
    """One frozen-seed Lloyd codebook over the drifted `ex` CTE,
    restated in DuckDB — shared by the recluster oracles."""
    return f"""
    {p}a0 AS MATERIALIZED (
        SELECT c_id, cluster FROM (
            SELECT e.vec_id AS c_id, s.cluster,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {SQL_DOT.format(a='e.embedding', b='s.centroid')} DESC,
                                s.cluster) AS rn
            FROM ex e CROSS JOIN seeds s{where}) WHERE rn = 1),
    {p}cent AS MATERIALIZED (
        SELECT cluster,
               list(CAST(m / 1000000.0 AS FLOAT) ORDER BY pos) AS centroid
        FROM (SELECT a.cluster, eu.pos,
                     floor(CAST(sum(eu.e_u) AS DOUBLE) / count(*)) AS m
              FROM {p}a0 a JOIN eu ON eu.vec_id = a.c_id
              GROUP BY 1, 2)
        GROUP BY cluster)"""


def _recluster_drift_sql():
    """The dual-codebook drift/recovery oracle for
    sim_index_recluster (see _drifted_ex_ctes for the corpus
    restatement)."""
    codebook = _sql_codebook

    def held(p):
        return f"""
    {p}held AS MATERIALIZED (
        SELECT c_id, aff FROM (
            SELECT e.vec_id AS c_id,
                   {SQL_DOT.format(a='e.embedding', b='s.centroid')} AS aff,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {SQL_DOT.format(a='e.embedding', b='s.centroid')} DESC,
                                s.cluster) AS rn
            FROM ex e CROSS JOIN {p}cent s
            WHERE e.vec_id >= {IVF_TRAIN_CUT_SQL}) WHERE rn = 1)"""

    def stat(era_ord, era, p):
        return f"""
        SELECT '{era_ord}' AS era,
               CASE WHEN c_id < {IVF_APPEND_CUT_SQL}
                    THEN 'validation' ELSE 'append' END AS cohort,
               CAST(count(*) AS BIGINT) AS n_vectors,
               CAST(floor(CAST(sum(CAST(floor(aff * 1000000 + 0.5) AS BIGINT))
                               AS DOUBLE) / count(*)) AS BIGINT)
                 AS mean_aff_micro
        FROM {p}held GROUP BY 1, 2"""

    return f"""{_drifted_ex_ctes()},
    {codebook('o', f' WHERE e.vec_id < {IVF_TRAIN_CUT_SQL}')},
    {codebook('n', '')},
    {held('o')},
    {held('n')},
    st AS MATERIALIZED ({stat('0_stale', 'stale', 'o')}
        UNION ALL {stat('1_fresh', 'fresh', 'n')})
    SELECT era || '_' || cohort AS phase, n_vectors, mean_aff_micro,
           CASE WHEN cohort = 'validation' THEN FALSE
                ELSE ((SELECT v.mean_aff_micro FROM st v
                       WHERE v.era = st.era AND v.cohort = 'validation')
                      - mean_aff_micro) * {100 // DRIFT_TRIGGER_PCT}
                     > (SELECT v.mean_aff_micro FROM st v
                        WHERE v.era = st.era AND v.cohort = 'validation')
           END AS recluster_due
    FROM st ORDER BY phase
"""


@register("sim_index_recluster", oracle=_recluster_drift_sql())
def sim_index_recluster(spark, sf_dir):
    """The index-lifecycle CLOSE (round-6 verdict item 7): when the
    drift monitor fires, re-cluster the codebook on the accumulated
    corpus, publish the re-clustered generation, and prove — in the
    value-hashed report itself — that the alarm CLEARS against the new
    codebook.

    The drifted scenario is the one that actually happens in corpus
    pipelines and that re-clustering genuinely fixes: the appended
    cohort arrives from a DIFFERENT embedding model (here
    deterministically re-embedded into a {RECLUSTER_SUB_DIM}-dim
    subspace at norm {RECLUSTER_NORM} — lower-dimensional, differently
    scaled). Against the stale codebook its mean assignment affinity
    drops ~38-41% (> the {DRIFT_TRIGGER_PCT}% trigger at every SF);
    after one re-cluster over base+appended the cohort gets dedicated
    centroids and its affinity lands ABOVE the validation cohort's
    (concentrated low-dim vectors match their centroid better than
    isotropic 64-dim ones), so the same cross-multiply test reads
    clear. Both flags are columns of the 4-row report, so fire AND
    recovery are value-hashed, and the op additionally raises if
    either reads wrong.

    Why not the naive drifts: directional drift (reversed/negated
    dims) leaves OUT-OF-SAMPLE max-dot affinity flat (~3% on this
    structureless corpus — measured; the 28% one sees against the
    training cohort is the in-sample bias the drift report's docstring
    rejects), and pure magnitude drift (rescale) can NEVER recover by
    re-clustering — affinity is linear in the vector norm, so the
    remedy there is re-embedding, not a new codebook. The
    subspace-re-embed drift is the case where re-clustering is the
    correct remedy, and the report shows exactly that.

    Lifecycle mechanics: the stale codebook persists as
    centroids/gen=0, the re-clustered one as centroids/gen=1 +
    lists/gen=1 (partitionBy cluster — the serving layout), and the
    fresh report is computed FROM THE LOADED gen=1 centroids, so the
    published generation is what's proven, not the in-memory frame.
    Scale: two codebook builds (broadcast-centroid map passes + one
    (cluster,dim) shuffle each) and two held-out assignment scans —
    O(corpus), no pairwise anything."""
    em = table(spark, sf_dir, "embeddings")
    mx = em.agg(F.max("vec_id")).collect()[0][0]
    train_cut, append_cut, _ = _ivf_cuts(mx)

    ex = _drifted_corpus(em, append_cut).persist()
    # try/finally so a failed drift/recovery assertion does not leak
    # the drifted-corpus cache for the session (ADVICE r7)
    try:
        report = _recluster_body(spark, ex, train_cut, append_cut)
    finally:
        ex.unpersist()
    flags = {
        r["phase"]: r["recluster_due"] for r in report.collect()
    }
    if not flags.get("0_stale_append"):
        raise AssertionError("drift did not fire against the stale codebook")
    if flags.get("1_fresh_append"):
        raise AssertionError("alarm failed to clear after re-clustering")
    return report.orderBy("phase")


def _recluster_body(spark, ex, train_cut, append_cut):
    from ..registry import scratch_dir

    c_old, _ = _ivf_build_from(ex.filter(F.col("vec_id") < train_cut))
    c_new, lists_new = _ivf_build_from(ex)
    base = scratch_dir("sim_index_recluster")
    c_old.write.mode("overwrite").parquet(f"{base}/centroids/gen=0")
    c_new.write.mode("overwrite").parquet(f"{base}/centroids/gen=1")
    lists_new.repartition("cluster").write.mode("overwrite").partitionBy(
        "cluster"
    ).parquet(f"{base}/lists/gen=1")

    held = ex.filter(F.col("vec_id") >= train_cut).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb")
    )

    def era_stats(era, cent):
        a = _ivf_assign(held, cent, keep_aff=True)
        cohort = F.when(
            F.col("c_id") < append_cut, F.lit("validation")
        ).otherwise(F.lit("append"))
        micro = F.floor(F.col("aff") * 1_000_000 + F.lit(0.5)).cast("long")
        return (
            a.select(cohort.alias("cohort"), micro.alias("m"))
            .groupBy("cohort")
            .agg(
                F.count(F.lit(1)).alias("n_vectors"),
                F.floor(F.sum("m").cast("double") / F.count(F.lit(1)))
                .cast("long")
                .alias("mean_aff_micro"),
            )
            .select(F.lit(era).alias("era"), "cohort", "n_vectors",
                    "mean_aff_micro")
        )

    both = era_stats("0_stale", spark.read.parquet(
        f"{base}/centroids/gen=0"
    )).unionByName(
        era_stats("1_fresh", spark.read.parquet(f"{base}/centroids/gen=1"))
    )
    w = Window.partitionBy("era")
    ref_mean = F.max(
        F.when(F.col("cohort") == "validation", F.col("mean_aff_micro"))
    ).over(w)
    flag = F.when(F.col("cohort") == "validation", F.lit(False)).otherwise(
        (ref_mean - F.col("mean_aff_micro")) * (100 // DRIFT_TRIGGER_PCT)
        > ref_mean
    )
    return both.select(
        F.concat_ws("_", "era", "cohort").alias("phase"),
        "n_vectors",
        "mean_aff_micro",
        flag.alias("recluster_due"),
    ).localCheckpoint(eager=True)


def _filtered_topk_sql():
    """TOPK_SQL with the CORPUS side restricted to the filtered-ANN
    predicate — the ideal answer set for the filtered search. The
    filter is spliced into the candidate CTE, never applied to the
    brute output: filtering the output would rank against vectors the
    predicate excludes and the ideal set would be wrong (round-11
    verdict item 2's explicit trap)."""
    from .pq import ANN_FILTER_MOD

    old = "c AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings),"
    assert TOPK_SQL.count(old) == 1
    return TOPK_SQL.replace(
        old,
        "c AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings"
        f" WHERE label % {ANN_FILTER_MOD} = 0),",
    )


def _recall_report_sql():
    """Composes the method oracles (blocked / ivf / pq / composed
    ivf+pq / filtered ivf+pq; the persisted probe shares IVF's)
    against their anchors — recall counts are exact integer joins, so
    the report is value-hashed. Every unfiltered method measures
    against the brute anchor; the FILTERED method measures against
    the label-filtered brute anchor (its own ideal set), so each row
    carries its anchor's n_expected. The PQ/IVFPQ oracles import from
    the round-10 pq module; every similarity name pq needs is bound
    before this line runs, so the mid-initialization import is
    safe."""
    from .pq import (
        _ivfpq_filtered_oracle_sql,
        _ivfpq_oracle_sql,
        _pq_oracle_sql,
    )

    methods = [
        ("sim_search_blocked", "blk", "brute"),
        ("sim_search_ivf", "ivf", "brute"),
        ("sim_search_ivfpq", "ivfpq", "brute"),
        ("sim_search_ivfpq_filtered", "ivfpqf", "brutef"),
        ("sim_search_pq", "pq", "brute"),
        ("sim_index_persist_probe", "ivf", "brute"),
    ]
    sel = "\n        UNION ALL ".join(
        f"SELECT '{name}' AS method,"
        f" (SELECT CAST(count(*) AS BIGINT) FROM {cte} a"
        f" JOIN {anchor} r ON a.q_id = r.q_id AND a.c_id = r.c_id)"
        f" AS n_hit,"
        f" (SELECT CAST(count(*) AS BIGINT) FROM {anchor}) AS n_expected"
        for name, cte, anchor in methods
    )
    return f"""
    WITH brute AS MATERIALIZED ({TOPK_SQL}),
    brutef AS MATERIALIZED ({_filtered_topk_sql()}),
    blk AS MATERIALIZED ({BLOCKED_SQL}),
    ivf AS MATERIALIZED ({IVF_SQL}),
    pq AS MATERIALIZED ({_pq_oracle_sql()}),
    ivfpq AS MATERIALIZED ({_ivfpq_oracle_sql()}),
    ivfpqf AS MATERIALIZED ({_ivfpq_filtered_oracle_sql()})
    SELECT method, n_hit, n_expected,
           round(100.0 * n_hit / n_expected, 2) AS recall_pct
    FROM ({sel}) ORDER BY method
"""


def _filtered_brute_anchor(spark, sf_dir, corpus_pred=None):
    """The predicate-filtered brute top-k — sim_search_topk's exact
    logic with the CORPUS side pre-filtered (the ideal set a filtered
    search is measured against). ``corpus_pred`` defaults to the
    filtered-ANN label predicate; `sim_search_ann_planner` passes its
    own registered predicates so the exact-rank block has ONE
    spelling (round-12 review — three near-identical copies of the
    dot6/window/rank chain would have to stay bit-equal by hand)."""
    from .pq import ANN_FILTER_MOD

    if corpus_pred is None:
        corpus_pred = F.col("label") % ANN_FILTER_MOD == 0
    em = table(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    c = em.filter(corpus_pred).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("c_id"))
    return (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id", "c_id", dot6(F.col("q_emb"), F.col("c_emb")).alias("score")
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
    )


@register("sim_recall_report", oracle=_recall_report_sql())
def sim_recall_report(spark, sf_dir):
    """ANN quality gate as a query: recall@{k} of every approximate
    search variant — LSH-blocked, IVF, PQ, persisted-IVF, the COMPOSED
    IVF+PQ (the repo's declared 100 TB serving architecture), and the
    FILTERED IVF+PQ — one row per method, the metric a production
    vector pipeline recomputes after each index rebuild and alerts on
    (tests pin floors; this op SERVES the number). Round-11 verdict
    item 2: the flagship composed paths previously had no served
    recall row, and the filtered path had no recall measurement
    anywhere.

    recall = |approx_top{k} ∩ anchor_top{k}| / |anchor|, computed as
    an inner join on (q_id, c_id) + exact integer counts; the one
    division happens once per method at the end (recall_pct, 2 dp).
    Unfiltered methods measure against the brute anchor; the filtered
    method measures against the label-FILTERED brute anchor — the
    corpus side is pre-filtered, never the brute output, or the ideal
    set would rank against vectors the predicate excludes. Composes
    the registered queries themselves, so the report can never drift
    from what the engine actually serves."""
    from ..registry import QUERIES

    # each anchor is a probes x corpus crossJoin — cache the 100-row
    # results so the counts + per-method joins don't each re-run the
    # scan (review finding)
    brute = (
        QUERIES["sim_search_topk"](spark, sf_dir)
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "c_id")
        .cache()
    )
    brutef = (
        _filtered_brute_anchor(spark, sf_dir)
        .select("q_id", "c_id")
        .cache()
    )
    n_brute = brute.count()  # |probes| * k; also materializes the cache
    n_brutef = brutef.count()
    reports = []
    for method, anchor, n_expected in (
        ("sim_search_blocked", brute, n_brute),
        ("sim_search_ivf", brute, n_brute),
        ("sim_search_ivfpq", brute, n_brute),
        ("sim_search_ivfpq_filtered", brutef, n_brutef),
        ("sim_search_pq", brute, n_brute),
        ("sim_index_persist_probe", brute, n_brute),
    ):
        approx = (
            QUERIES[method](spark, sf_dir)
            .filter(F.col("rank") <= TOP_K)
            .select("q_id", "c_id")
        )
        hits = approx.join(anchor, ["q_id", "c_id"]).agg(
            F.count(F.lit(1)).alias("n_hit")
        )
        reports.append(
            hits.select(
                F.lit(method).alias("method"),
                F.col("n_hit"),
                F.lit(n_expected).alias("n_expected"),
                F.round(100.0 * F.col("n_hit") / n_expected, 2).alias(
                    "recall_pct"
                ),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionAll(r)
    return out.orderBy("method")


MATRYOSHKA_DIM = 16


@register(
    "embed_matryoshka_recall",
    oracle=f"""
        WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
                   FROM embeddings WHERE vec_id < {N_PROBES}),
        c AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings),
        s AS (
          SELECT q_id, c_id,
                 {SQL_DOT.format(a='q_emb', b='c_emb')} AS score_full,
                 {SQL_DOT.format(a=f'q_emb[1:{MATRYOSHKA_DIM}]',
                                 b=f'c_emb[1:{MATRYOSHKA_DIM}]')} AS score_trunc
          FROM q, c WHERE q_id <> c_id
        ),
        r AS (
          SELECT q_id, c_id,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY score_full DESC, c_id) AS rf,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY score_trunc DESC, c_id) AS rt
          FROM s
        )
        SELECT count(DISTINCT q_id) AS n_probes,
               CAST(count(*) FILTER (WHERE rf <= {TOP_K} AND rt <= {TOP_K})
                 AS BIGINT) AS hits,
               round(CAST(count(*) FILTER (WHERE rf <= {TOP_K} AND rt <= {TOP_K})
                     AS DOUBLE) / ({TOP_K} * count(DISTINCT q_id)), 6) AS recall
        FROM r
    """,
)
def embed_matryoshka_recall(spark, sf_dir):
    """Matryoshka-truncation retrieval audit: recall@5 of the FIRST-16-
    dims ranking against the full-64-dim cosine ranking — the eval a
    corpus pipeline runs before shipping truncated (MRL) embeddings to
    cut index memory 4×. ONE broadcast crossJoin computes both scores
    per candidate pair (the sliced dot reuses the same fold), two
    row_number windows rank them, and the final aggregate counts
    top-5 agreements exactly; scores are 6dp-rounded like every other
    similarity op so the two engines rank identically.

    Scale: identical shape to sim_search_topk (declared brute anchor:
    probes broadcast, candidates partition-parallel); the marginal
    cost of auditing a second dimensionality is one extra fold per
    pair, not a second scan — at 100 TB this is how truncation-recall
    is measured on a sample before committing the index build."""
    em = table(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    c = em.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb"))
    s = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            dot6(F.col("q_emb"), F.col("c_emb")).alias("score_full"),
            dot6(
                F.slice(F.col("q_emb"), 1, MATRYOSHKA_DIM),
                F.slice(F.col("c_emb"), 1, MATRYOSHKA_DIM),
            ).alias("score_trunc"),
        )
    )
    wf = Window.partitionBy("q_id").orderBy(F.desc("score_full"), F.asc("c_id"))
    wt = Window.partitionBy("q_id").orderBy(F.desc("score_trunc"), F.asc("c_id"))
    r = s.select(
        "q_id",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wt).alias("rt"),
    )
    both = (F.col("rf") <= TOP_K) & (F.col("rt") <= TOP_K)
    return r.agg(
        F.countDistinct("q_id").alias("n_probes"),
        F.count_if(both).alias("hits"),
        F.round(
            F.count_if(both).cast("double")
            / (F.lit(TOP_K) * F.countDistinct("q_id")),
            6,
        ).alias("recall"),
    )


def semantic_close_pairs(spark, sf_dir, k=KMEANS_K):
    """(vec_a, vec_b) within-cluster cosine-close pairs — the pair
    form of dedup_semantic_cluster's mark phase with the identical
    rank-1 accumulation + half-up rounding, factored for the dedup
    cascade (dedup_cascade_report) which needs survivor-filterable
    PAIRS rather than per-vector verdicts."""
    em = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroids, assign = _kmeans_fit(em, k, KMEANS_ITERS)
    assigned = assign(centroids).select(
        "vec_id", "embedding", F.col("cluster").cast("long").alias("cluster")
    )
    return _close_pairs_in_clusters(assigned)


def _close_pairs_in_clusters(assigned):
    """(vec_a < vec_b) cosine-close pairs within each cluster of an
    assignment frame — the mark-phase arithmetic (rank-1 accumulation,
    half-up at 6 dp) shared by semantic_close_pairs (full-corpus Lloyd)
    and frozen_semantic_pairs (batch-0-trained centroids)."""
    import numpy as np
    import pandas as pd

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        acc = np.zeros((len(X), len(X)))
        for i in range(X.shape[1]):
            acc += X[:, i : i + 1] * X[None, :, i]
        close = np.floor(acc * 1e6 + 0.5) / 1e6 >= NEARDUP_THRESHOLD
        ai, bj = np.nonzero(np.triu(close, k=1))
        ids = pdf["vec_id"].to_numpy()
        return pd.DataFrame({"vec_a": ids[ai], "vec_b": ids[bj]})

    return assigned.groupBy("cluster").applyInPandas(
        pairs, "vec_a long, vec_b long"
    )


def frozen_semantic_pairs(spark, sf_dir):
    """Global close-pair set under FROZEN centroids trained on the
    first id-range tertile — the pair source dedup_incremental_semantic
    discovers per batch, computed corpus-wide for the incremental
    cascade's funnel algebra (membership filtering per batch/tier is
    then provably identical to per-batch discovery — see
    dedup_incremental_cascade)."""
    em = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    mx = em.agg(F.max("vec_id")).collect()[0][0]
    train = em.filter(F.expr(f"({N_INC_BATCHES} * vec_id) div {mx + 1}") == 0)
    centroids, _ = _kmeans_fit(train, KMEANS_K, KMEANS_ITERS)
    assigned = _kmeans_assign(em, centroids).select(
        "vec_id", "embedding", F.col("cluster").cast("long").alias("cluster")
    )
    return _close_pairs_in_clusters(assigned)


def frozen_sem_pair_ctes():
    """CTE chain (no leading WITH, no trailing comma) from a
    pre-existing `m(mx)` CTE to `sem(vec_a, vec_b, cos6)` — frozen
    batch-0-trained Lloyd, final assignment over all vectors,
    cluster-local lower-id cosine-close pairs. Shared by the
    dedup_incremental_semantic oracle and the incremental cascade's
    (engine/ops/dedup.py)."""
    rounds = []
    for r in range(KMEANS_ITERS):
        rounds.append(f"""
    dot{r} AS (SELECT p.vec_id, c.j, CAST(sum(p.e_u * c.c_u) AS BIGINT) AS dot
               FROM tr p JOIN cent{r} c USING (pos) GROUP BY 1, 2),
    asg{r} AS MATERIALIZED (
        SELECT vec_id, j, dot FROM (
            SELECT vec_id, j, dot,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dot DESC, j) AS rn
            FROM dot{r}) WHERE rn = 1),
    cent{r + 1} AS MATERIALIZED (
        SELECT c.j, c.pos, coalesce(u.m, c.c_u) AS c_u
        FROM cent{r} c LEFT JOIN (
            SELECT a.j, p.pos,
                   CAST(floor(CAST(sum(p.e_u) AS DOUBLE) / count(*))
                        AS BIGINT) AS m
            FROM asg{r} a JOIN tr p USING (vec_id) GROUP BY 1, 2) u
        ON u.j = c.j AND u.pos = c.pos)""")
    R = KMEANS_ITERS
    raw_dot = (
        "list_aggregate(list_transform(list_zip(ea.embedding, eb.embedding),"
        " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')"
    )
    return f"""pts AS MATERIALIZED (
        SELECT vec_id, u.i - 1 AS pos,
               CAST(floor(CAST(embedding[u.i] AS DOUBLE) * {EMB_Q} + 0.5)
                    AS BIGINT) AS e_u
        FROM embeddings, unnest(range(1, len(embedding) + 1)) u(i)),
    tr AS MATERIALIZED (
        SELECT p.* FROM pts p, m WHERE ({N_INC_BATCHES} * p.vec_id) // (m.mx + 1) = 0),
    cent0 AS MATERIALIZED (
        SELECT ini.j, p.pos, p.e_u AS c_u
        FROM (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS j
              FROM embeddings ORDER BY vec_id LIMIT {KMEANS_K}) ini
        JOIN tr p USING (vec_id)),{",".join(rounds)},
    fin AS (SELECT p.vec_id, c.j, CAST(sum(p.e_u * c.c_u) AS BIGINT) AS dot
            FROM pts p JOIN cent{R} c USING (pos) GROUP BY 1, 2),
    asgf AS MATERIALIZED (
        SELECT vec_id, j FROM (
            SELECT vec_id, j,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dot DESC, j) AS rn
            FROM fin) WHERE rn = 1),
    sem AS MATERIALIZED (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               floor({raw_dot} * 1000000 + 0.5) / 1000000 AS cos6
        FROM asgf a JOIN asgf b ON a.j = b.j AND a.vec_id < b.vec_id
        JOIN embeddings ea ON ea.vec_id = a.vec_id
        JOIN embeddings eb ON eb.vec_id = b.vec_id
        WHERE floor({raw_dot} * 1000000 + 0.5) / 1000000
              >= {NEARDUP_THRESHOLD})"""


def _inc_sem_oracle_sql():
    """Unrolled oracle for the incremental SemDeDup tier: the shared
    frozen-centroid pair CTEs plus the first-partner reduction — the
    incremental ≡ batch statement in SQL."""
    return f"""
    WITH m AS (SELECT max(vec_id) AS mx FROM embeddings),
    {frozen_sem_pair_ctes()},
    ranked AS (
        SELECT vec_b, vec_a, cos6,
               row_number() OVER (PARTITION BY vec_b ORDER BY vec_a) AS rn
        FROM sem)
    SELECT r.vec_b AS vec_id,
           CAST(({N_INC_BATCHES} * r.vec_b) // (m.mx + 1) AS BIGINT) AS batch_id,
           r.vec_a AS dup_of,
           r.cos6 AS cos6_first
    FROM ranked r, m WHERE r.rn = 1
"""


@register("dedup_incremental_semantic", oracle=_inc_sem_oracle_sql())
def dedup_incremental_semantic(spark, sf_dir):
    """Incremental SemDeDup — the third cascade tier in incremental
    form, completing the per-tier incremental story (exact:
    dedup_incremental_snapshot; near: dedup_incremental_lsh; semantic:
    this). Centroids are TRAINED ONCE on the first ingest batch
    (id-range tertile 0, the same exact-integer Lloyd as
    dedup_semantic_cluster) and frozen — the sim_index_append
    lifecycle; sim_index_drift_report is the monitor that schedules
    re-training. Each later batch is (1) assigned to the frozen
    centroids (Arrow int64 matmul, map-only), (2) compared
    cluster-locally against the ACCUMULATED index generations plus its
    own earlier rows — cosine at the SemDeDup threshold, rank-1
    accumulation order — and (3) appended as the next index
    generation. The index keeps every vector's embedding (dups
    included — same recall-maximizing choice as the LSH tier), which
    is what makes incremental(batches) ≡ batch SemDeDup on the union:
    the oracle restates the whole thing with Lloyd unrolled on the
    batch-0 slice and the close-pair first-partner reduction over all
    vectors.

    Output: (vec_id, batch_id, dup_of = lowest-id same-cluster
    cosine-close vector anywhere earlier, cos6_first).

    Scale shape: per increment — one broadcast assignment pass over
    the batch, one applyInPandas over cluster groups of
    (accumulated ∪ batch) rows, one partitioned append. Cluster
    groups bound the quadratic term exactly as in batch SemDeDup; at
    production scale the accumulated side is read cluster-pruned, and
    k grows with the corpus so groups stay model-sized."""
    import numpy as np
    import pandas as pd

    from ..registry import scratch_dir

    em = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    mx = em.agg(F.max("vec_id")).collect()[0][0]
    train = em.filter(F.expr(f"({N_INC_BATCHES} * vec_id) div {mx + 1}") == 0)
    centroids, _ = _kmeans_fit(train, KMEANS_K, KMEANS_ITERS)
    base = scratch_dir("dedup_incremental_semantic")

    out = None
    for b in range(N_INC_BATCHES):
        batch = em.filter(F.expr(f"({N_INC_BATCHES} * vec_id) div {mx + 1}") == b)
        # persist: the assignment pass (the dominant per-increment
        # cost) feeds BOTH the gen=b write and the pair search —
        # without it the Arrow matmul ran twice per batch (review)
        assigned = _kmeans_assign(batch, centroids).select(
            "vec_id", "embedding", F.col("cluster").cast("long").alias("cluster")
        ).persist()
        if b > 0:
            accum = spark.read.parquet(
                *[f"{base}/gen={g}" for g in range(b)]
            )
            group = assigned.unionByName(accum)
        else:
            group = assigned

        def make_pairs_fn(b: int, mx: int):
            def pairs_fn(pdf: pd.DataFrame) -> pd.DataFrame:
                pdf = pdf.sort_values("vec_id").reset_index(drop=True)
                X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                acc = np.zeros((len(X), len(X)))
                # rank-1 accumulation: identical float64 addition order to
                # the oracle's per-pair sequential list dot
                for i in range(X.shape[1]):
                    acc += X[:, i : i + 1] * X[None, :, i]
                cos6 = np.floor(acc * 1e6 + 0.5) / 1e6
                ids = pdf["vec_id"].to_numpy()
                in_batch = (N_INC_BATCHES * ids) // (mx + 1) == b
                rows = {"vec_id": [], "batch_id": [], "dup_of": [], "cos6_first": []}
                for i in np.nonzero(in_batch)[0]:
                    js = np.nonzero(cos6[:i, i] >= NEARDUP_THRESHOLD)[0]
                    if len(js):
                        rows["vec_id"].append(int(ids[i]))
                        rows["batch_id"].append(b)
                        rows["dup_of"].append(int(ids[js[0]]))
                        rows["cos6_first"].append(float(cos6[js[0], i]))
                return pd.DataFrame(rows).astype(
                    {
                        "vec_id": "int64",
                        "batch_id": "int64",
                        "dup_of": "int64",
                        "cos6_first": "float64",
                    }
                )

            return pairs_fn

        outb = group.groupBy("cluster").applyInPandas(
            make_pairs_fn(b, mx),
            "vec_id long, batch_id long, dup_of long, cos6_first double",
        )
        assigned.write.mode("overwrite").parquet(f"{base}/gen={b}")
        outb = outb.localCheckpoint(eager=True)
        assigned.unpersist()
        out = outb if out is None else out.unionByName(outb)
    return out


# ---- the ANN index ingest as a REAL checkpointed stream (round 8) --
# The streaming twin of sim_index_append + sim_index_compact, built on
# the same rig discipline as stream_dedup_incremental_e2e /
# stream_dedup_compact_e2e: batch 0 BUILDS the index (Lloyd on the
# base slice, centroids frozen), later increments assign map-only
# against the frozen centroids and append list generations, and a
# mid-stream compaction rewrites covered generations into the
# cluster-partitioned serving layout behind a write-last atomic
# marker. Every write is a deterministic overwrite keyed by a batch
# id derived from the DATA (id range, never the epoch counter), so
# offsets-log replay after a crash converges to the same bytes.


def _compact_cluster_generations(spark, idx, family, upto):
    """`generations.fold` of ``{family}/gen=0..upto`` into the ONE
    cluster-partitioned ``{family}_c`` layout — one spelling for the
    IVF list stream and the composed-index code stream."""
    root = f"{idx}/{family}"
    fold(
        root, upto,
        lambda: spark.read.option("basePath", root)
        .parquet(*gen_paths(root, upto + 1))
        .drop("gen")
        .repartition("cluster")
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(twin(root, "compacted")),
        idx=idx,
    )


def _apply_cluster_takedown(spark, idx, family, upto, id_col,
                            compact_upto=None):
    """`generations.purge` of a cluster-partitioned family: every
    covered generation (and, with ``compact_upto``, the compacted
    layout) is rewritten WITHOUT the vector takedown cohort into
    cluster-partitioned purged twins, tombstones record the
    ``id_col`` ids, and ``takedown_upto`` publishes LAST. The ANN
    streams' read side is serving-only, so the swap is purely a
    marker-gated serving decision. One spelling for the IVF list
    stream, the composed-code stream and its compacted form."""
    purge(
        spark, idx, (family,), upto,
        F.col(id_col) % VEC_TD_MOD == VEC_TD_RES, id_col,
        by=("cluster",), compact_upto=compact_upto,
    )


def run_sim_index_stream(
    spark, sf_dir, base, fail_at_batch=None, fail_phase="post_index",
    compact_after=None, serve_paths_log=None, delete_after=None,
):
    """The checkpointed-stream rig behind stream_sim_index_e2e,
    factored so tests can kill it mid-stream and restart it on the
    SAME checkpoint + index. ``fail_at_batch=b`` raises inside
    foreachBatch for increment ``b`` AFTER its index write but BEFORE
    the checkpoint commit (``fail_phase='post_index'``), or AFTER the
    mid-stream compaction has published its marker
    (``fail_phase='post_compact'``) — the two torn states.

    ``compact_after=k`` compacts list generations 0..k at the end of
    increment k's processing; the final SERVING read is marker-gated:
    lists_c plus only the generations past the marker. Unlike the
    dedup stream, increments never read the lists (assignment needs
    only the frozen centroids), so the compaction boundary's replay
    hazard is on the WRITE side — a replayed boundary batch rewrites
    its generation and redoes the compaction as deterministic
    overwrites, which the boundary-restart test pins byte-equal.
    ``serve_paths_log`` records the list paths the final probe read."""
    em = table(spark, sf_dir, "embeddings")
    mx = em.agg(F.max("vec_id")).collect()[0][0]
    # slices must match IVF_APPEND_SQL
    _firsts, batch_of = _vec_increments(mx)
    src, ckpt, idx = f"{base}/src", f"{base}/ckpt", f"{base}/index"
    cent_path, list_path = f"{idx}/centroids", f"{idx}/lists"

    stage_feed(
        em, base, src, batch_of, N_SIM_BATCHES,
        # takedown rigs stage PRIVATELY: every arrival copy must sit
        # inside the purge/audit perimeter — the same rule
        # run_inc_lsh_stream enforces (round-10 review finding,
        # extended to the vector rigs in round 11)
        feed_key=None
        if delete_after is not None
        else corpus_key(sf_dir, "sim", "embeddings"),
    )

    if compact_after is not None and delete_after is not None:
        raise ValueError("rig supports one maintenance mode per stream")

    def process(batch_df, b):
        if b == 0:
            refined, _lists = _ivf_build_from(batch_df)
            refined.write.mode("overwrite").parquet(cent_path)
            # assign against the PUBLISHED centroids (read-back):
            # the in-memory `lists` frame would re-run the whole
            # Lloyd chain for its own write, and serving must prove
            # the persisted artifact anyway
            cent0 = spark.read.parquet(cent_path)
            c = batch_df.select(
                F.col("vec_id").alias("c_id"),
                F.col("embedding").alias("c_emb"),
            )
            _ivf_assign(c, cent0).repartition("cluster").write.mode(
                "overwrite"
            ).partitionBy("cluster").parquet(f"{list_path}/gen=0")
        else:
            cent = spark.read.parquet(cent_path)
            batch = batch_df.select(
                F.col("vec_id").alias("c_id"),
                F.col("embedding").alias("c_emb"),
            )
            _ivf_assign(batch, cent).repartition("cluster").write.mode(
                "overwrite"
            ).partitionBy("cluster").parquet(f"{list_path}/gen={b}")
        fail_point(fail_at_batch, fail_phase, b, "post_index")
        if compact_after is not None and b == compact_after:
            _compact_cluster_generations(spark, idx, "lists", b)
            fail_point(fail_at_batch, fail_phase, b, "post_compact")
        if delete_after is not None and b == delete_after:
            _apply_cluster_takedown(spark, idx, "lists", b, "c_id")
            fail_point(fail_at_batch, fail_phase, b, "post_takedown")

    run_increments(
        spark, src, "vec_id bigint, embedding array<float>", ckpt,
        batch_of, process, "stream_sim_index_e2e", 600,
    )

    # marker-gated SERVING read: the compacted layout, or in delete
    # mode the purged twins, for the covered prefix plus the untouched
    # newer generations
    cent = spark.read.parquet(cent_path)
    paths = gen_paths(list_path, N_SIM_BATCHES, **markers(idx))
    if serve_paths_log is not None:
        serve_paths_log.append(list(paths))
    return _ivf_probe(spark, sf_dir, cent, read_gens(spark, paths))


@register("stream_sim_index_e2e", oracle=IVF_APPEND_SQL)
def stream_sim_index_e2e(spark, sf_dir):
    """The ANN index's ENTIRE ingest lifecycle as one checkpointed
    stream — the similarity twin of stream_dedup_compact_e2e:
    ``readStream`` over arriving embedding files → foreachBatch where
    batch 0 BUILDS the index (the exact `_ivf_build_from` Lloyd step
    sim_index_append uses, centroids frozen thereafter) and batches
    1..{N_SIM_BATCHES - 1} assign map-only against the frozen
    centroids and append list generations; after the boundary batch
    commits its generation, generations 0..boundary compact into the
    cluster-partitioned serving layout behind a write-last atomic
    marker. The final probe serves marker-gated — lists_c plus only
    post-boundary generations — and the op asserts exactly that from
    the recorded serving paths.

    Output ≡ sim_index_append ≡ IVF_APPEND_SQL: the appended range's
    slicing into increments cannot change the final index contents
    (every appended vector is assigned against the SAME frozen
    centroids), so the batch op's oracle is this op's oracle verbatim
    — the value hash proves the streaming machinery, the compaction,
    and the marker-gated serving read all changed nothing. The torn
    states (kill after a generation write; kill after the compaction
    marker, i.e. a restart ACROSS the boundary) are covered by
    tests/test_streaming.py::test_sim_index_stream_boundary_restart.

    Scale shape: batch 0's build is the one Lloyd pass the batch op
    pays; every later increment is O(batch)·NLIST broadcast dot
    products + one partitioned append; the compaction is one
    distributed pass repartitioned on the serving key, after which
    probes read one file per probed cluster instead of one per
    generation per writer."""
    from ..registry import scratch_dir

    base = scratch_dir("stream_sim_index_e2e")
    boundary = N_SIM_BATCHES - 2
    log = []
    out = run_sim_index_stream(
        spark, sf_dir, base, compact_after=boundary, serve_paths_log=log
    )
    assert log, "serving read did not record its paths"
    paths = log[-1]
    if twin(f"{base}/index/lists", "compacted") not in paths:
        raise AssertionError("probe did not serve from the compacted index")
    stale = [
        p
        for p in paths
        if "/lists/gen=" in p and int(p.rsplit("=", 1)[1]) <= boundary
    ]
    if stale:
        raise AssertionError(
            f"probe read compacted-away generations: {stale}"
        )
    return out


# ---- drift-triggered RE-CLUSTER inside the stream (round 8) -------
# stream_sim_index_e2e proves ingest + compaction in-stream;
# sim_index_recluster proves the drift-fire → re-cluster → recovery
# arc as a batch op. This closes the remaining gap: the drift monitor
# runs PER MICRO-BATCH inside the checkpointed stream, the re-cluster
# publishes a new codebook GENERATION mid-stream behind a write-last
# atomic marker, and later increments route to it by a rule derived
# from the BATCH ID, not from "latest on disk" — the distinction that
# keeps a crash-replayed pre-boundary batch on the OLD codebook.
RECLUSTER_MID_SQL = (
    "(SELECT (4 * (max(vec_id) + 1) // 5 + max(vec_id) + 1) // 2"
    " FROM embeddings)"
)


def _stream_recluster_sql():
    """Four-phase oracle for stream_sim_recluster_e2e: the stale
    codebook trains on the build slice, the FRESH codebook on
    everything that had ARRIVED when drift fired (strictly less than
    the post slice — the key difference from sim_index_recluster's
    full-corpus rebuild), and each phase's affinity stats are
    restated per id-range cohort with the integer drift test."""

    def held(name, cb, lo, hi=None):
        hi_pred = f" AND e.vec_id < {hi}" if hi is not None else ""
        return f"""
    {name} AS MATERIALIZED (
        SELECT c_id, aff FROM (
            SELECT e.vec_id AS c_id,
                   {SQL_DOT.format(a='e.embedding', b='s.centroid')} AS aff,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {SQL_DOT.format(a='e.embedding', b='s.centroid')} DESC,
                                s.cluster) AS rn
            FROM ex e CROSS JOIN {cb}cent s
            WHERE e.vec_id >= {lo}{hi_pred}) WHERE rn = 1)"""

    def stat(phase, src):
        return f"""
        SELECT '{phase}' AS phase,
               CAST(count(*) AS BIGINT) AS n_vectors,
               CAST(floor(CAST(sum(CAST(floor(aff * 1000000 + 0.5) AS BIGINT))
                               AS DOUBLE) / count(*)) AS BIGINT)
                 AS mean_aff_micro
        FROM {src}"""

    k = 100 // DRIFT_TRIGGER_PCT
    return f"""{_drifted_ex_ctes()},
    {_sql_codebook('o', f' WHERE e.vec_id < {IVF_TRAIN_CUT_SQL}')},
    {_sql_codebook('n', f' WHERE e.vec_id < {RECLUSTER_MID_SQL}')},
    {held('ovheld', 'o', IVF_TRAIN_CUT_SQL, IVF_APPEND_CUT_SQL)},
    {held('oaheld', 'o', IVF_APPEND_CUT_SQL, RECLUSTER_MID_SQL)},
    {held('nvheld', 'n', IVF_TRAIN_CUT_SQL, IVF_APPEND_CUT_SQL)},
    {held('npheld', 'n', RECLUSTER_MID_SQL)},
    st AS MATERIALIZED (
        {stat('0_stale_validation', 'ovheld')}
        UNION ALL {stat('0_stale_append', 'oaheld')}
        UNION ALL {stat('1_fresh_validation', 'nvheld')}
        UNION ALL {stat('1_fresh_post', 'npheld')})
    SELECT phase, n_vectors, mean_aff_micro,
           CASE phase
             WHEN '0_stale_append' THEN
               ((SELECT mean_aff_micro FROM st
                 WHERE phase = '0_stale_validation') - mean_aff_micro) * {k}
               > (SELECT mean_aff_micro FROM st
                  WHERE phase = '0_stale_validation')
             WHEN '1_fresh_post' THEN
               ((SELECT mean_aff_micro FROM st
                 WHERE phase = '1_fresh_validation') - mean_aff_micro) * {k}
               > (SELECT mean_aff_micro FROM st
                  WHERE phase = '1_fresh_validation')
             ELSE FALSE
           END AS recluster_due
    FROM st ORDER BY phase
"""


def run_sim_recluster_stream(
    spark, sf_dir, base, fail_at_batch=None, fail_phase="post_index",
    codebook_log=None,
):
    """The checkpointed-stream rig behind stream_sim_recluster_e2e.
    Four id-range increments of the DRIFTED corpus arrive as files:
    batch 0 builds codebook gen=0; batch 1 (validation cohort) and
    batch 2 (the drift cohort, re-embedded by a different model)
    assign against gen=0 and persist per-batch affinity stats; batch
    2's drift test fires (integer cross-multiply against batch 1's
    persisted stats), triggering the IN-STREAM re-cluster — codebook
    gen=1 rebuilt from every vector that has ARRIVED (list gens
    0..2), published behind the ``reclustered_upto`` marker — and
    batch 3 routes to gen=1 BY BATCH ID (marker < b), not by "latest
    on disk": a crash-replayed batch 2 sees marker == 2 and stays on
    gen=0, which is what makes the replay byte-deterministic.
    ``fail_phase='post_index'`` kills after a batch's index/stats
    writes; ``'post_recluster'`` kills after the marker publish — the
    torn state ACROSS the codebook boundary. ``codebook_log`` records
    (batch, generation) routing decisions."""
    em = table(spark, sf_dir, "embeddings")
    mx = em.agg(F.max("vec_id")).collect()[0][0]
    firsts, batch_of = _vec_increments(mx, split_train=True)
    ex = _drifted_corpus(em, _ivf_cuts(mx)[1])

    src, ckpt, idx = f"{base}/src", f"{base}/ckpt", f"{base}/index"
    phase_of = {1: "0_stale_validation", 2: "0_stale_append",
                3: "1_fresh_post"}

    stage_feed(
        ex, base, src, batch_of, len(firsts),
        feed_key=corpus_key(sf_dir, "simdrift", "embeddings"),
        heavy=True,  # the drift re-embed chain is per-row CPU
    )

    def mean_of(path):
        return spark.read.parquet(path).collect()[0]

    def process(batch_df, b):
        if b == 0:
            refined, _lists = _ivf_build_from(batch_df)
            refined.write.mode("overwrite").parquet(f"{idx}/centroids/gen=0")
            cent0 = spark.read.parquet(f"{idx}/centroids/gen=0")
            c = batch_df.select(
                F.col("vec_id").alias("c_id"),
                F.col("embedding").alias("c_emb"),
            )
            _ivf_assign(c, cent0).write.mode("overwrite").parquet(
                f"{idx}/lists/gen=0"
            )
        else:
            gen = 0 if marker(idx, "recoded", b) is None else 1
            if codebook_log is not None:
                codebook_log.append((b, gen))
            cent = spark.read.parquet(f"{idx}/centroids/gen={gen}")
            vecs = batch_df.select(
                F.col("vec_id").alias("c_id"),
                F.col("embedding").alias("c_emb"),
            )
            assigned = _ivf_assign(vecs, cent, keep_aff=True).persist()
            try:
                assigned.drop("aff").write.mode("overwrite").parquet(
                    f"{idx}/lists/gen={b}"
                )
                _ivf_phase_stats(assigned, phase_of[b]).coalesce(
                    1
                ).write.mode("overwrite").parquet(f"{idx}/stats/gen={b}")
            finally:
                assigned.unpersist()
        fail_point(fail_at_batch, fail_phase, b, "post_index")
        if b == 2:
            val = mean_of(f"{idx}/stats/gen=1")
            cur = mean_of(f"{idx}/stats/gen=2")
            k = 100 // DRIFT_TRIGGER_PCT
            fired = (
                val["mean_aff_micro"] - cur["mean_aff_micro"]
            ) * k > val["mean_aff_micro"]
            if not fired:
                raise AssertionError(
                    "drift did not fire on the drifted increment"
                )
            arrived = spark.read.parquet(
                *[f"{idx}/lists/gen={g}" for g in range(b + 1)]
            ).select(
                F.col("c_id").alias("vec_id"),
                F.col("c_emb").alias("embedding"),
            )
            refined, _lists = _ivf_build_from(arrived)
            refined.write.mode("overwrite").parquet(f"{idx}/centroids/gen=1")
            publish(idx, "recoded", b)
            fail_point(fail_at_batch, fail_phase, b, "post_recluster")

    run_increments(
        spark, src, "vec_id bigint, embedding array<float>", ckpt,
        batch_of, process, "stream_sim_recluster_e2e", 600,
    )

    # report assembly — from the PUBLISHED artifacts: the fresh-era
    # validation stats come from the loaded gen=1 centroids applied to
    # the validation vectors persisted in list gen=1, so the row
    # proves the published generation, not an in-memory frame
    cent1 = spark.read.parquet(f"{idx}/centroids/gen=1")
    val_vecs = spark.read.parquet(f"{idx}/lists/gen=1").select(
        "c_id", "c_emb"
    )
    fresh_val = _ivf_phase_stats(
        _ivf_assign(val_vecs, cent1, keep_aff=True), "1_fresh_validation"
    )
    st = (
        spark.read.parquet(*[f"{idx}/stats/gen={g}" for g in range(1, 4)])
        .unionByName(fresh_val)
    )
    k = 100 // DRIFT_TRIGGER_PCT
    vals = st.select(
        F.max(
            F.when(
                F.col("phase") == "0_stale_validation",
                F.col("mean_aff_micro"),
            )
        ).alias("stale_val"),
        F.max(
            F.when(
                F.col("phase") == "1_fresh_validation",
                F.col("mean_aff_micro"),
            )
        ).alias("fresh_val"),
    )
    return (
        st.crossJoin(F.broadcast(vals))
        .select(
            "phase",
            "n_vectors",
            "mean_aff_micro",
            F.when(
                F.col("phase") == "0_stale_append",
                (F.col("stale_val") - F.col("mean_aff_micro")) * k
                > F.col("stale_val"),
            )
            .when(
                F.col("phase") == "1_fresh_post",
                (F.col("fresh_val") - F.col("mean_aff_micro")) * k
                > F.col("fresh_val"),
            )
            .otherwise(F.lit(False))
            .alias("recluster_due"),
        )
        .orderBy("phase")
    )


@register("stream_sim_recluster_e2e", oracle=_stream_recluster_sql())
def stream_sim_recluster_e2e(spark, sf_dir):
    """Drift-triggered RE-CLUSTER inside the checkpointed stream —
    the lifecycle arc sim_index_recluster proves in batch, run where
    it actually happens: the drift monitor executes PER MICRO-BATCH
    against persisted per-batch affinity stats, fires on the
    re-embedded increment (integer cross-multiply, deterministic),
    re-clusters the codebook from every vector that has ARRIVED
    (list generations 0..2 — NOT the full corpus; the post increment
    hasn't landed yet, which is what distinguishes this from the
    batch op's oracle), publishes centroids gen=1 behind a write-last
    atomic marker, and the NEXT increment routes to the new
    generation by batch id (marker < b). The 4-row report value-hashes
    the whole arc: stale-era fire (recluster_due TRUE on the drift
    cohort), fresh-era recovery (FALSE on the post cohort against the
    fresh validation baseline), with the fresh-validation row computed
    FROM THE LOADED published generation.

    The replay hazard specific to a mid-stream codebook swap — a
    crash-replayed pre-boundary batch must stay on the OLD codebook
    even though gen=1 is already on disk — is exactly what the
    marker < b routing rule guarantees, and
    tests/test_streaming.py::test_sim_recluster_boundary_restart
    kills the stream after the marker publish and pins it: the
    replayed drift batch re-assigns against gen=0, the re-cluster
    redo is a deterministic overwrite, batch 3 routes to gen=1, and
    the final report is byte-equal.

    Scale shape: per increment one broadcast-centroid assignment pass
    + a 1-row stats write; the drift check reads two 1-row frames;
    the re-cluster is one Lloyd pass over arrived vectors, paid ONCE
    when the monitor fires instead of per ingest — the production
    economics of codebook maintenance."""
    from ..registry import scratch_dir

    base = scratch_dir("stream_sim_recluster_e2e")
    log = []
    out = run_sim_recluster_stream(spark, sf_dir, base, codebook_log=log)
    routing = dict(log)
    if routing != {1: 0, 2: 0, 3: 1}:
        raise AssertionError(
            f"codebook routing violated the marker<b rule: {routing}"
        )
    flags = {r["phase"]: r["recluster_due"] for r in out.collect()}
    if not flags["0_stale_append"]:
        raise AssertionError("drift did not fire against the stale codebook")
    if flags["1_fresh_post"]:
        raise AssertionError(
            "alarm failed to clear for the post-recluster increment"
        )
    return out


@register("stream_sim_gc_e2e", oracle=IVF_APPEND_SQL)
def stream_sim_gc_e2e(spark, sf_dir):
    """Generation GC for the ANN index, gated on the checkpoint
    commit watermark — closing the retention story for the SECOND
    generation index the same way stream_dedup_gc_e2e closed it for
    the LSH bands: after the compacting ingest stream finishes, the
    compacted-away list generations are deleted iff the compacted
    layout covers them AND the offsets/commits logs prove their
    batches can never replay; then the stream RESTARTS on the same
    checkpoint (recovery finds every file committed, runs nothing)
    and the final probe — served from the compacted layout — still
    value-hashes against the batch append oracle. The refusal guard
    in the post-compaction torn state is exercised by
    tests/test_streaming.py::test_sim_gc_refuses_inside_replay_horizon.

    Scale shape: identical to the dedup GC — the decision reads two
    tiny metadata logs and deletes directories; no data pass."""
    import os

    from ..registry import scratch_dir

    base = scratch_dir("stream_sim_gc_e2e")
    boundary = N_SIM_BATCHES - 2
    run_sim_index_stream(spark, sf_dir, base, compact_after=boundary)

    idx, ckpt = f"{base}/index", f"{base}/ckpt"
    removed = gc_generations(ckpt, idx)
    if len(removed) != boundary + 1:
        raise AssertionError(
            f"GC removed {removed}, expected list generations"
            f" 0..{boundary}"
        )
    for g in range(boundary + 1, N_SIM_BATCHES):
        if not os.path.exists(f"{idx}/lists/gen={g}"):
            raise AssertionError(
                f"GC overreached: post-boundary generation {g} deleted"
            )
    if not os.path.exists(f"{idx}/centroids"):
        raise AssertionError("GC must never touch the codebook")

    log = []
    out = run_sim_index_stream(
        spark, sf_dir, base, compact_after=boundary, serve_paths_log=log
    )
    if twin(f"{idx}/lists", "compacted") not in log[-1]:
        raise AssertionError("post-GC probe did not serve from lists_c")
    return out


# IVF_MID_SQL moved above the pq import point (round 11: the streamed
# recode oracle needs it at pq-module decoration time).


def _sim_stream_delete_sql():
    old = "WHERE p.q_id <> v.c_id)"
    assert IVF_APPEND_SQL.count(old) == 1
    return IVF_APPEND_SQL.replace(
        old,
        f"WHERE p.q_id <> v.c_id"
        f" AND NOT (v.c_id % {VEC_TD_MOD} = {VEC_TD_RES}"
        f" AND v.c_id < {IVF_MID_SQL}))",
    )


@register("stream_sim_delete_e2e", oracle=_sim_stream_delete_sql())
def stream_sim_delete_e2e(spark, sf_dir):
    """Vector DELETE propagation composed into the ANN index's
    STREAMING lifecycle — the similarity twin of
    stream_dedup_delete_e2e + its GC completion in one op: after the
    boundary increment commits, every covered list generation is
    rewritten WITHOUT the takedown cohort into cluster-partitioned
    purged twins behind the write-last ``takedown_upto`` marker (with
    tombstones); once the commit watermark passes the boundary, the
    ORIGINAL generations — which still hold the deleted vectors — are
    GC'd under the same marker-AND-watermark rule; completeness is
    proven from the filesystem (every surviving list shard semi-joined
    against the tombstone table comes back empty); and the restarted
    stream serves the purged prefix + untouched newer generations,
    value-hashing against the appended-probe statement with the
    cohort excluded from membership. The codebook is retained
    (aggregate, not member data — retraining is the recluster path).
    The torn state across the takedown boundary is pinned by
    tests/test_streaming.py::test_sim_takedown_boundary_restart.

    Scale shape: the purge is one filter-rewrite per covered
    generation riding the partition-pruned scan; the GC is driver-side
    fs metadata work; the audit is one union scan semi-joined against
    the O(cohort) broadcast tombstones; serving costs are unchanged.
    Unlike the dedup stream, ANN increments never read the lists, so
    the delete is purely a marker-gated serving swap — the cheapest
    takedown any generation index can offer."""
    import os

    from ..registry import scratch_dir

    base = scratch_dir("stream_sim_delete_e2e")
    boundary = N_SIM_BATCHES - 2
    run_sim_index_stream(spark, sf_dir, base, delete_after=boundary)

    idx, ckpt = f"{base}/index", f"{base}/ckpt"
    removed = gc_generations(ckpt, idx)
    if len(removed) != boundary + 1:
        raise AssertionError(
            f"takedown GC removed {removed}, expected original list"
            f" generations 0..{boundary}"
        )
    for g in range(boundary + 1, N_SIM_BATCHES):
        if not os.path.exists(f"{idx}/lists/gen={g}"):
            raise AssertionError(
                f"GC overreached: post-boundary generation {g} deleted"
            )
    if not os.path.exists(f"{idx}/centroids"):
        raise AssertionError("GC must never touch the codebook")

    # completeness: no surviving list shard holds a tombstoned id
    audit_no_tombstoned(
        spark,
        spark.read.parquet(f"{idx}/tombstones"),
        content_roots(idx, "lists"),
        id_col="c_id",
    )

    # restart on the gutted index: committed no-op; serving reads the
    # purged prefix + untouched newer generations (asserted from the
    # recorded paths)
    log = []
    out = run_sim_index_stream(
        spark, sf_dir, base, delete_after=boundary, serve_paths_log=log
    )
    served = log[-1]
    if served != gen_paths(
        f"{idx}/lists", N_SIM_BATCHES, purged=boundary
    ) or stale_reads(served, f"{idx}/lists", boundary):
        raise AssertionError(
            f"post-delete probe served {served}; expected purged twins"
            " for the covered prefix only"
        )
    return out
