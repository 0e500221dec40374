"""2.J dedup operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Scale shapes (the whole point of these ops at 100 TB):
- exact: one hash-groupBy, fully map-side-combinable.
- jaccard: shingle self-join — quadratic only within identical
  shingles; at production scale hot shingles get a document-frequency
  cap before the join (not applied here because the oracle must see
  identical semantics).
- minhash LSH: candidate generation is a bucket join on (band,
  band_key) — linear in data, no crossJoin anywhere; exact jaccard is
  re-verified only for candidates.
- simhash: 64-bit signature via bit-vote aggregation; candidates via
  16-bit band buckets (hamming ≤ 8 within 4 bands guarantees a
  matching band by pigeonhole... for hamming ≤ 3; wider distances are
  best-effort, as in practice).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..generations import fold, gen_paths, twin
from ..registry import register, table

JACCARD_THRESHOLD = 0.2
N_INC_BATCHES = 3  # ingest increments (id-range slices of the corpus);
# defined up top: engine/ops/similarity.py imports it while this
# module is still initializing (decoration-time cross-import)


def doc_batch_of(mx):
    """A document's increment: ``doc_id`` cut into N_INC_BATCHES equal
    id ranges over ``0..mx``, monotone in the id (the oracles spell it
    ``(N * doc_id) // (mx + 1)``)."""
    return F.expr(f"({N_INC_BATCHES} * doc_id) div {mx + 1}")


def _tokens():
    return F.split("text", " ")


def _shingle_array(toks):
    """Distinct 3-token shingles as an array column.

    Built by zipping the token array against itself at offsets 1 and 2
    (arrays_zip of three slices) rather than indexing with element_at
    inside a transform: Catalyst inlines the `toks` expression at every
    use site, so the element_at form re-splits the text 3× per shingle
    (measured 8× slower at sf0.1); the slice form evaluates it 3× per
    DOCUMENT. The greatest(size-2, 0) guard makes <3-token docs yield
    an empty shingle set, as the oracle's range() does."""
    n = F.greatest(F.size(toks) - 2, F.lit(0))
    zipped = F.arrays_zip(
        F.slice(toks, 1, n), F.slice(toks, 2, n), F.slice(toks, 3, n)
    )
    return F.array_distinct(
        F.transform(zipped, lambda s: F.concat_ws(" ", s["0"], s["1"], s["2"]))
    )


def shingles(docs):
    """(doc_id, shingle) rows, distinct per doc.

    Repartitions first: a small parquet table reads as ONE input split,
    which would run the whole tokenize→shingle→explode chain as a
    single task; spreading the docs lets every core shingle in parallel
    (at 100 TB the scan has thousands of natural splits and this
    repartition is unnecessary but harmless — it's load balancing)."""
    return docs.repartition(32, "doc_id").select(
        "doc_id", F.explode(_shingle_array(_tokens())).alias("shingle")
    )


@register(
    "dedup_exact",
    oracle="""
        WITH all_docs AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 100
        )
        SELECT sha256(text) AS content_hash,
               min(doc_id) AS keep_id,
               count(*) AS n_copies
        FROM all_docs GROUP BY sha256(text)
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup by content hash; keeps the lowest doc_id per group.
    The testdata has no duplicate texts (FIXTURES.md), so a copied
    slice is unioned in to make the operator observable."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    dupes = d.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return (
        d.unionByName(dupes)
        .groupBy(F.sha2("text", 256).alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


JACCARD_SQL = f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    sh AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
           FROM t, unnest(range(1, len(toks)-1)) r(i)),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT doc_a, doc_b, n_common / (sa.n + sb.n - n_common) AS jaccard
    FROM pairs JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
    WHERE n_common / (sa.n + sb.n - n_common) >= {JACCARD_THRESHOLD}
"""


@register("dedup_ngram_jaccard", oracle=JACCARD_SQL)
def dedup_ngram_jaccard(spark, sf_dir, max_doc_freq=None):
    """Exact n-gram (3-shingle) Jaccard similarity for all pairs
    sharing at least one shingle. jaccard = |∩| / (|A|+|B|-|∩|) is an
    integer/integer division — bit-deterministic across engines.

    Pair generation is grouped-inverted-index style: one shuffle to
    collect each shingle's sorted doc list, then the (i < j) pairs are
    emitted inside an array transform (whole-stage codegen, no
    shingle-level self-join — the self-join shuffles the shingle rows
    twice and re-hashes the join keys; this shuffles them once).
    Measured ~1.7× faster at sf0.1 with identical output.

    ``max_doc_freq`` is the 100 TB skew guard (VERDICT r3 item 7): a
    shingle appearing in more than ``max_doc_freq`` documents is
    dropped from PAIR GENERATION (doc sizes |A|,|B| stay uncapped),
    bounding the per-shingle fan-out at C(max_doc_freq, 2) — the
    quadratic term that otherwise explodes on boilerplate shingles
    ("in the the", license headers) in a web-scale corpus. Dropping
    hot shingles only LOWERS n_common, so jaccard estimates are
    monotone-conservative and the capped pair set is a subset of the
    uncapped one (property-tested;
    tests/test_llm_ops.py::test_jaccard_df_cap). Default None = exact
    semantics, which is what the registered oracle checks; BASELINE.md
    records the measured candidate-pair flattening."""
    d = table(spark, sf_dir, "documents")
    sh = shingles(d)
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    grouped = (
        sh.groupBy("shingle")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    if max_doc_freq is not None:
        grouped = grouped.filter(F.size("ids") <= max_doc_freq)
    # spread the pair emission: AQE coalesces the grouped-index
    # exchange by BYTES, but the C(|ids|,2) struct emission downstream
    # is CPU-heavy per byte — at sf0.1 the coalesced stage ran the
    # whole transform on 1-2 tasks (guide §2.5; explicit repartitions
    # are exempt from AQE coalescing, so the fan survives)
    grouped = grouped.repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions")), "shingle"
    )
    pairs = (
        grouped.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "ids",
                        lambda x, i: F.transform(
                            F.slice("ids", i + 2, F.size("ids")),
                            lambda y: F.struct(
                                x.alias("doc_a"), y.alias("doc_b")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sza = sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    szb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        pairs.join(sza, "doc_a")
        .join(szb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


N_MINHASH = 16
N_BANDS = 8  # 8 bands x 2 rows: P(candidate | j) = 1-(1-j^2)^8

# Portable MinHash permutation family: one md5 per shingle gives a
# 32-bit base b, then h_s(b) = (A_s*b + B_s) mod P with P = 2^31-1.
# A_s*b < 2^31 * 2^31 = 2^62 never overflows signed 64-bit, so the
# whole family is exact BIGINT arithmetic that DuckDB restates
# verbatim — which is what upgrades the LSH candidate set from
# "impl-defined" to fully value-hash-oracled. Constants are fixed
# (Knuth multiplicative stride) so both engines see literals.
MINHASH_P = 2147483647
MINHASH_A = [(s * 2654435761 + 40503) % MINHASH_P for s in range(N_MINHASH)]
MINHASH_B = [(s * 97 + 7) % MINHASH_P for s in range(N_MINHASH)]


def _mh_base(col="shingle"):
    """Portable 31-bit shingle hash: conv(md5 prefix) mod P."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")
        % F.lit(MINHASH_P)
    )


def _mh_sig_aggs():
    """16 min-hash agg expressions over the per-row base hash `hb`."""
    return [
        F.min(
            (F.lit(MINHASH_A[s]) * F.col("hb") + F.lit(MINHASH_B[s]))
            % F.lit(MINHASH_P)
        ).alias(f"mh{s}")
        for s in range(N_MINHASH)
    ]


def _mh_band_structs():
    """8 (band, band_key) structs; band_key = mh_even*P + mh_odd is
    injective since each mh < P — no re-hash needed, so DuckDB can
    reproduce the bucket ids exactly."""
    return [
        F.struct(
            F.lit(band).alias("band"),
            (
                F.col(f"mh{2 * band}") * F.lit(MINHASH_P)
                + F.col(f"mh{2 * band + 1}")
            ).alias("band_key"),
        )
        for band in range(N_BANDS)
    ]


_MH_SIG_SQL = ",\n           ".join(
    f"min(({MINHASH_A[s]}*hb + {MINHASH_B[s]}) % {MINHASH_P}) AS mh{s}"
    for s in range(N_MINHASH)
)
_MH_BAND_CASE_SQL = (
    "CASE band "
    + " ".join(
        f"WHEN {b} THEN mh{2 * b}*{MINHASH_P}+mh{2 * b + 1}"
        for b in range(N_BANDS)
    )
    + " END"
)
_MH_COMMON_CTES = f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    sh AS MATERIALIZED (
        SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
        FROM t, unnest(range(1, len(toks)-1)) r(i)),
    hb AS (SELECT doc_id,
                  CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) % {MINHASH_P} AS hb
           FROM sh),
    mh AS MATERIALIZED (
        SELECT doc_id,
           {_MH_SIG_SQL}
        FROM hb GROUP BY doc_id),
    bands AS (SELECT doc_id, band, {_MH_BAND_CASE_SQL} AS band_key
              FROM mh, unnest(range(0, {N_BANDS})) r(band)),
    cand AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
"""

MINHASH_SQL = f"""{_MH_COMMON_CTES},
    common AS (SELECT c.doc_a, c.doc_b, count(*) AS n_common
               FROM cand c
               JOIN sh x ON x.doc_id = c.doc_a
               JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
               GROUP BY 1, 2)
    SELECT doc_a, doc_b, n_common / (sa.n + sb.n - n_common) AS jaccard
    FROM common JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
    WHERE n_common / (sa.n + sb.n - n_common) >= {JACCARD_THRESHOLD}
"""


def _minhash_pairs(doc_sh, bucket_cap=None):
    """LSH near-dup pairs from a (doc_id, sh shingle-array) frame —
    the shared core of dedup_near_minhash, dedup_incremental_lsh's
    within-batch path, and dedup_cascade_report's tier 2 (which feeds
    it from the cascade's ONE persisted scan instead of re-reading
    documents — the round-5 perf watch item).

    shingle → 16 minhashes (portable affine family over a md5-derived
    31-bit base, mod 2^31-1) → 8 bands of 2 → grouped inverted index
    on (band, band_key) with in-array (i < j) pair emission → exact
    jaccard re-verification of candidates only, via per-doc shingle
    ARRAY intersection (no shingle-level self-join). The 16
    signatures are 16 agg expressions in ONE map-side-combinable
    pass (not a 16× row fan-out); quadratic work happens only inside
    LSH buckets.

    ``bucket_cap``: drop buckets with more than this many members
    before pair emission — the production STOP-BUCKET guard
    (dedup_near_minhash_capped documents the economics)."""
    grouped = (
        _lsh_band_rows(doc_sh)
        .groupBy("band", "band_key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
    )
    if bucket_cap is not None:
        grouped = grouped.filter(F.size("ids") <= bucket_cap)
    cands = _lsh_bucket_pairs(grouped).distinct()
    return _jaccard_verify(cands, doc_sh)


def _jaccard_verify(cands, doc_sh):
    """Exact-jaccard verification of (doc_a < doc_b) candidate pairs
    against per-doc shingle ARRAYS (no shingle-level self-join) — the
    tail of _minhash_pairs, factored so the capped-recall audit can
    verify two candidate sets against one cached shingle frame."""
    sa = doc_sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
    sb = doc_sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
    sized = (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sha", "shb")).alias("n_common"),
            F.size("sha").alias("na"),
            F.size("shb").alias("nb"),
        )
    )
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return sized.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )


@register("dedup_near_minhash", oracle=MINHASH_SQL)
def dedup_near_minhash(spark, sf_dir):
    """MinHash + banded LSH near-dup detection, pure DataFrame ops
    (see _minhash_pairs for the pipeline and its scale shape).
    Because the permutation family is exact BIGINT arithmetic, the
    LSH candidate set itself is engine-independent and the op carries
    a FULL value-hash oracle (upgraded from rows-only); the
    output ⊆ exact-jaccard-pairs property test in tests/test_llm_ops.py
    still holds on top."""
    d = table(spark, sf_dir, "documents")
    doc_sh = d.repartition(32, "doc_id").select(
        "doc_id", _shingle_array(_tokens()).alias("sh")
    )
    return _minhash_pairs(doc_sh)


# SimHash portable spelling: the 64 signature bits come from a md5
# token digest split into two 32-bit halves (lo = hex 9..16, hi =
# hex 1..8); bit i reads lo for i<32, hi for i>=32. The signature is
# materialized as FOUR 16-bit band values (b0..b3) instead of one
# 64-bit long — b3 would need bit 63 (1<<63 overflows signed BIGINT
# in DuckDB), and the bands are what the LSH bucketing keys on
# anyway. hamming(a, b) = sum of bit_count(xor) over the 4 bands.
_SIMHASH_VOTE_SQL = ",\n           ".join(
    f"sum(CASE WHEN (({'lo' if i < 32 else 'hi'} >> {i % 32}) & 1) = 1"
    f" THEN cnt ELSE -cnt END) AS v{i}"
    for i in range(64)
)
_SIMHASH_BANDVAL_SQL = ",\n           ".join(
    "("
    + " + ".join(
        f"CASE WHEN v{16 * b + j} > 0 THEN {1 << j} ELSE 0 END"
        for j in range(16)
    )
    + f") AS b{b}"
    for b in range(4)
)
SIMHASH_SQL = f"""
    WITH tok AS (
        SELECT doc_id, t AS token, count(*) AS cnt
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
        GROUP BY 1, 2),
    th AS (SELECT doc_id, cnt,
                  CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) AS hi,
                  CAST(('0x' || substr(md5(token), 9, 8)) AS BIGINT) AS lo
           FROM tok),
    votes AS (SELECT doc_id,
           {_SIMHASH_VOTE_SQL}
        FROM th GROUP BY doc_id),
    sig AS MATERIALIZED (SELECT doc_id,
           {_SIMHASH_BANDVAL_SQL}
        FROM votes),
    bands AS (SELECT doc_id, band,
                     CASE band WHEN 0 THEN b0 WHEN 1 THEN b1
                               WHEN 2 THEN b2 ELSE b3 END AS band_val,
                     b0, b1, b2, b3
              FROM sig, unnest(range(0, 4)) r(band))
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
              + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) AS BIGINT) AS hamming
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
        + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 8
"""


@register("dedup_simhash", oracle=SIMHASH_SQL)
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup candidates: 64-bit signature from weighted
    token-hash bit votes; candidate pairs share a 16-bit band and have
    hamming distance <= 8.

    The token hash is a md5 digest split into two 32-bit BIGINT
    halves, so every bit vote — and therefore the signature, the
    bucket ids, and the candidate set — is exact integer arithmetic
    DuckDB restates verbatim: full value-hash oracle (upgraded from
    rows-only). The signature lives as four 16-bit band values (the
    LSH keys), never as one 64-bit long, which also sidesteps the
    1<<63 signed-overflow edge both engines would hit."""
    d = table(spark, sf_dir, "documents")
    tok = (
        d.repartition(32, "doc_id")
        .select("doc_id", F.explode(_tokens()).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "hi", F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("long")
        )
        .withColumn(
            "lo", F.conv(F.substring(F.md5("token"), 9, 8), 16, 10).cast("long")
        )
    )
    # 64 per-bit vote sums as ONE wide aggregation (map-side
    # combinable) instead of a 64× row explosion + second shuffle
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("lo" if i < 32 else "hi"), i % 32)
                    .bitwiseAND(F.lit(1))
                    == 1,
                    F.col("cnt"),
                ).otherwise(-F.col("cnt"))
            ).alias(f"v{i}")
            for i in range(64)
        ]
    )
    def _band_val(b):
        col = F.lit(0)
        for j in range(16):
            col = col + F.when(F.col(f"v{16 * b + j}") > 0, F.lit(1 << j)).otherwise(
                F.lit(0)
            )
        return col.alias(f"b{b}")

    sig = votes.select("doc_id", *[_band_val(b) for b in range(4)])
    bands = sig.select(
        "doc_id",
        "b0",
        "b1",
        "b2",
        "b3",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("band"),
    ).withColumn(
        "band_val",
        F.element_at(F.array("b0", "b1", "b2", "b3"), F.col("band") + 1),
    )
    # candidate pairs per (band, band_val) bucket via grouped inverted
    # index (one shuffle, in-array i<j pair emission) — same shape as
    # dedup_ngram_jaccard; signatures ride along in the struct so the
    # hamming distance is computed in the same codegen stage
    grouped = (
        bands.groupBy("band", "band_val")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "b0", "b1", "b2", "b3"))
            ).alias("ds")
        )
        .filter(F.size("ds") >= 2)
    )
    ham = lambda x, y: (  # noqa: E731
        F.bit_count(x["b0"].bitwiseXOR(y["b0"]))
        + F.bit_count(x["b1"].bitwiseXOR(y["b1"]))
        + F.bit_count(x["b2"].bitwiseXOR(y["b2"]))
        + F.bit_count(x["b3"].bitwiseXOR(y["b3"]))
    )
    return (
        grouped.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "ds",
                        lambda x, i: F.transform(
                            F.slice("ds", i + 2, F.size("ds")),
                            lambda y: F.struct(
                                x["doc_id"].alias("doc_a"),
                                y["doc_id"].alias("doc_b"),
                                ham(x, y).cast("long").alias("hamming"),
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b", "p.hamming")
        .distinct()
        .filter(F.col("hamming") <= 8)
    )


EDIT_PREFIX = 60
EDIT_MAX = 45


@register(
    "dedup_edit_distance",
    oracle=f"""
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               levenshtein(substr(a.text, 1, {EDIT_PREFIX}),
                           substr(b.text, 1, {EDIT_PREFIX})) AS edit_dist
        FROM documents a
        JOIN documents b
          ON a.lang = b.lang
         AND len(a.text) = len(b.text)
         AND a.doc_id < b.doc_id
        WHERE levenshtein(substr(a.text, 1, {EDIT_PREFIX}),
                          substr(b.text, 1, {EDIT_PREFIX})) <= {EDIT_MAX}
    """,
)
def dedup_edit_distance(spark, sf_dir):
    """Edit-distance near-dup with equi-join blocking: candidate pairs
    must share (lang, exact length) — an equi-join Spark hash-partitions,
    never an all-pairs product — then Levenshtein on a fixed prefix
    (bounding the O(len²) cost per pair) filters survivors. At 100 TB
    the blocking key generalizes (length band + simhash band); the
    quadratic work stays confined inside blocks."""
    d = table(spark, sf_dir, "documents")
    a = d.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("lang_a"),
        F.length("text").alias("len_a"),
        F.substring("text", 1, EDIT_PREFIX).alias("pre_a"),
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.length("text").alias("len_b"),
        F.substring("text", 1, EDIT_PREFIX).alias("pre_b"),
    )
    return (
        a.join(
            b,
            (F.col("lang_a") == F.col("lang_b"))
            & (F.col("len_a") == F.col("len_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("pre_a", "pre_b").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= EDIT_MAX)
    )


CC_MAX_ITERS = 20

_EDGE_CACHE: dict = {}


def _neardup_edges(spark, sf_dir):
    """Both-direction near-dup edge list, localCheckpointed and cached
    per (application, sf_dir). dedup_cluster_cc and graph_pagerank both
    consume the same pair graph; recomputing the shingle→jaccard
    pipeline per consumer would dominate their cost. The cache holds the
    materialized checkpoint — functionally transparent (same rows as
    recomputing), i.e. a shared materialized CTE."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _EDGE_CACHE:
        pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
        _EDGE_CACHE[key] = pairs.unionByName(
            pairs.select(
                F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
            )
        ).localCheckpoint()
    return _EDGE_CACHE[key]


@register(
    "dedup_cluster_cc",
    oracle=f"""
        WITH RECURSIVE edges AS (SELECT doc_a, doc_b FROM ({JACCARD_SQL}) j),
        und AS (
          SELECT doc_a AS u, doc_b AS v FROM edges
          UNION ALL
          SELECT doc_b AS u, doc_a AS v FROM edges
        ),
        reach(node, r) AS (
          SELECT DISTINCT u, u FROM und
          UNION
          SELECT und.v, reach.r FROM reach JOIN und ON und.u = reach.node
        )
        SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
        FROM reach GROUP BY 1
    """,
)
def dedup_cluster_cc(spark, sf_dir):
    """Duplicate-cluster assignment: connected components over the
    exact-Jaccard near-dup pair graph by iterative min-label
    propagation — each doc ends up labeled with the smallest doc_id in
    its component (the canonical survivor).

    This is the genuinely iterative operator class (driver-side loop,
    one distributed join per round, O(graph diameter) rounds) — and
    since round 5 it is fully VALUE-HASHED against a recursive
    transitive-closure oracle (min-label CC is deterministic: every
    node converges to its component's smallest doc_id), upgrading it
    from the rows-only tier.
    localCheckpoint() each round truncates the lineage so round N's
    plan doesn't re-derive rounds 1..N-1. Convergence is detected via
    sum(label): min-label propagation is monotone non-increasing per
    node, so the label sum strictly decreases until the fixpoint —
    equal consecutive sums ⟺ no label changed. That makes the check
    one tiny aggregation over the just-checkpointed labels instead of
    a labels⨝old-labels join + count per round. At 100 TB this is the
    standard large-graph CC shape (alternating small-star/large-star
    is the proven variant for skewed graphs).
    """
    edges = _neardup_edges(spark, sf_dir)

    labels = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint()
    )
    prev_sum = None
    for _ in range(CC_MAX_ITERS):
        msgs = (
            edges.join(labels, edges.doc_a == labels.doc_id)
            .select(F.col("doc_b").alias("doc_id"), "label")
        )
        labels = (
            labels.unionByName(msgs)
            .groupBy("doc_id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("label").alias("s")).collect()[0]["s"]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


PR_ITERS = 10
PR_DAMPING = 0.85


@register(
    "graph_pagerank",
    oracle=f"""
        WITH edges AS MATERIALIZED (SELECT doc_a, doc_b FROM ({JACCARD_SQL}) j),
        und AS MATERIALIZED (
          SELECT doc_a AS u, doc_b AS v FROM edges
          UNION ALL
          SELECT doc_b AS u, doc_a AS v FROM edges
        ),
        deg AS MATERIALIZED (SELECT u, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY 1),
        p0 AS MATERIALIZED (SELECT u AS node, d, CAST(1000000 AS BIGINT) AS r FROM deg),
        p1 AS MATERIALIZED (
          SELECT b.node, b.d,
                 CAST(round(150000 + 0.85 * coalesce(m.s, 0)) AS BIGINT)
                   AS r
          FROM p0 b LEFT JOIN (
            SELECT und.v AS node,
                   CAST(sum(p0.r // p0.d) AS BIGINT) AS s
            FROM p0 JOIN und ON und.u = p0.node GROUP BY 1
          ) m ON m.node = b.node
        ),
        p2 AS MATERIALIZED (
          SELECT b.node, b.d,
                 CAST(round(150000 + 0.85 * coalesce(m.s, 0)) AS BIGINT)
                   AS r
          FROM p1 b LEFT JOIN (
            SELECT und.v AS node,
                   CAST(sum(p1.r // p1.d) AS BIGINT) AS s
            FROM p1 JOIN und ON und.u = p1.node GROUP BY 1
          ) m ON m.node = b.node
        ),
        p3 AS MATERIALIZED (
          SELECT b.node, b.d,
                 CAST(round(150000 + 0.85 * coalesce(m.s, 0)) AS BIGINT)
                   AS r
          FROM p2 b LEFT JOIN (
            SELECT und.v AS node,
                   CAST(sum(p2.r // p2.d) AS BIGINT) AS s
            FROM p2 JOIN und ON und.u = p2.node GROUP BY 1
          ) m ON m.node = b.node
        ),
        p4 AS MATERIALIZED (
          SELECT b.node, b.d,
                 CAST(round(150000 + 0.85 * coalesce(m.s, 0)) AS BIGINT)
                   AS r
          FROM p3 b LEFT JOIN (
            SELECT und.v AS node,
                   CAST(sum(p3.r // p3.d) AS BIGINT) AS s
            FROM p3 JOIN und ON und.u = p3.node GROUP BY 1
          ) m ON m.node = b.node
        ),
        p5 AS MATERIALIZED (
          SELECT b.node, b.d,
                 CAST(round(150000 + 0.85 * coalesce(m.s, 0)) AS BIGINT)
                   AS r
          FROM p4 b LEFT JOIN (
            SELECT und.v AS node,
                   CAST(sum(p4.r // p4.d) AS BIGINT) AS s
            FROM p4 JOIN und ON und.u = p4.node GROUP BY 1
          ) m ON m.node = b.node
        ),
        p6 AS MATERIALIZED (
          SELECT b.node, b.d,
                 CAST(round(150000 + 0.85 * coalesce(m.s, 0)) AS BIGINT)
                   AS r
          FROM p5 b LEFT JOIN (
            SELECT und.v AS node,
                   CAST(sum(p5.r // p5.d) AS BIGINT) AS s
            FROM p5 JOIN und ON und.u = p5.node GROUP BY 1
          ) m ON m.node = b.node
        ),
        p7 AS MATERIALIZED (
          SELECT b.node, b.d,
                 CAST(round(150000 + 0.85 * coalesce(m.s, 0)) AS BIGINT)
                   AS r
          FROM p6 b LEFT JOIN (
            SELECT und.v AS node,
                   CAST(sum(p6.r // p6.d) AS BIGINT) AS s
            FROM p6 JOIN und ON und.u = p6.node GROUP BY 1
          ) m ON m.node = b.node
        ),
        p8 AS MATERIALIZED (
          SELECT b.node, b.d,
                 CAST(round(150000 + 0.85 * coalesce(m.s, 0)) AS BIGINT)
                   AS r
          FROM p7 b LEFT JOIN (
            SELECT und.v AS node,
                   CAST(sum(p7.r // p7.d) AS BIGINT) AS s
            FROM p7 JOIN und ON und.u = p7.node GROUP BY 1
          ) m ON m.node = b.node
        ),
        p9 AS MATERIALIZED (
          SELECT b.node, b.d,
                 CAST(round(150000 + 0.85 * coalesce(m.s, 0)) AS BIGINT)
                   AS r
          FROM p8 b LEFT JOIN (
            SELECT und.v AS node,
                   CAST(sum(p8.r // p8.d) AS BIGINT) AS s
            FROM p8 JOIN und ON und.u = p8.node GROUP BY 1
          ) m ON m.node = b.node
        ),
        p10 AS MATERIALIZED (
          SELECT b.node, b.d,
                 CAST(round(150000 + 0.85 * coalesce(m.s, 0)) AS BIGINT)
                   AS r
          FROM p9 b LEFT JOIN (
            SELECT und.v AS node,
                   CAST(sum(p9.r // p9.d) AS BIGINT) AS s
            FROM p9 JOIN und ON und.u = p9.node GROUP BY 1
          ) m ON m.node = b.node
        )
        SELECT node AS doc_id, r AS rank_micro,
               round(r / 1000000.0, 6) AS rank
        FROM p10
    """,
)
def graph_pagerank(spark, sf_dir):
    """PageRank over the near-dup pair graph (undirected → both edge
    directions): rank = (1-d) + d·Σ rank_in/deg_out, PR_ITERS rounds.
    The second iterative-algorithm shape next to dedup_cluster_cc —
    fractional mass propagation instead of min-label — with the same
    scale discipline: one join + one aggregation per round,
    localCheckpoint lineage truncation, only scalars to the driver.
    Round 5 upgraded the op from rows-only to FULLY VALUE-HASHED: rank
    mass is carried as integer micro-units every round (per-edge
    contribution = floor(r/deg), an exact int64 sum; the damped update
    re-quantizes once per round), so the 10-round trajectory is
    bit-identical in both engines and the oracle restates it as ten
    unrolled SQL stages over the same edge list. The truncation loses
    <deg micro-units per node per round — mass conservation still
    property-tested within 1%."""
    edges = _neardup_edges(spark, sf_dir)
    deg = edges.groupBy("doc_a").agg(F.count(F.lit(1)).alias("deg"))
    nodes = deg.select(F.col("doc_a").alias("doc_id"), "deg")
    ranks = nodes.withColumn(
        "r", F.lit(1000000).cast("long")
    ).localCheckpoint()
    for _ in range(PR_ITERS):
        contribs = (
            edges.join(
                ranks.select(F.col("doc_id").alias("doc_a"), "deg", "r"),
                "doc_a",
            )
            .select(
                F.col("doc_b").alias("doc_id"),
                F.floor(F.col("r") / F.col("deg")).cast("long").alias("c"),
            )
            .groupBy("doc_id")
            .agg(F.sum("c").alias("mass"))
        )
        ranks = (
            nodes.join(contribs, "doc_id", "left")
            .select(
                "doc_id",
                "deg",
                F.round(
                    F.lit((1.0 - PR_DAMPING) * 1000000)
                    + F.lit(PR_DAMPING)
                    * F.coalesce("mass", F.lit(0)).cast("double")
                )
                .cast("long")
                .alias("r"),
            )
            .localCheckpoint()
        )
    return ranks.select(
        "doc_id",
        F.col("r").alias("rank_micro"),
        F.round(F.col("r") / 1000000.0, 6).alias("rank"),
    )


@register(
    "graph_degree_centrality",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    sh AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
           FROM t, unnest(range(1, len(toks)-1)) r(i)),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    edges AS (
      SELECT doc_a, doc_b, n_common / (sa.n + sb.n - n_common) AS jaccard
      FROM pairs JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
      WHERE n_common / (sa.n + sb.n - n_common) >= {JACCARD_THRESHOLD}
    ),
    directed AS (
      SELECT doc_a AS doc_id, jaccard FROM edges
      UNION ALL
      SELECT doc_b AS doc_id, jaccard FROM edges
    )
    SELECT doc_id, count(*) AS degree,
           CAST(sum(CAST(round(jaccard*1000000.0) AS BIGINT)) AS BIGINT)
             AS wdegree_micro
    FROM directed GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def graph_degree_centrality(spark, sf_dir):
    """Degree and weighted degree per document over the exact-Jaccard
    near-dup graph — the cheapest centrality, and the quantity a
    curation pipeline thresholds to drop 'template' documents that
    near-duplicate half the corpus.

    Weighted degree is summed in exact micro-jaccard integers
    (jaccard itself is an int/int division, so round(j*1e6) is
    engine-identical); count/sum are one map-side-combinable
    aggregation over the symmetrized edge list."""
    # localCheckpoint: both union branches consume the edge list —
    # without the pin each re-derives the shingle→jaccard pipeline
    edges = dedup_ngram_jaccard(spark, sf_dir).localCheckpoint()
    directed = edges.select("doc_a", "jaccard").withColumnsRenamed(
        {"doc_a": "doc_id"}
    ).unionByName(
        edges.select("doc_b", "jaccard").withColumnsRenamed({"doc_b": "doc_id"})
    )
    return (
        directed.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("degree"),
            F.sum(F.round(F.col("jaccard") * 1000000.0).cast("long")).alias(
                "wdegree_micro"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "dedup_containment",
    oracle="""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        sh AS (SELECT DISTINCT doc_id,
                      toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
               FROM t, unnest(range(1, len(toks)-1)) r(i)),
        sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                         count(*) AS n_common
                  FROM sh a JOIN sh b
                    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
        dir AS (
          SELECT doc_a AS src_doc, doc_b AS dst_doc, n_common,
                 sa.n AS n_src
          FROM pairs JOIN sz sa ON doc_a = sa.doc_id
          UNION ALL
          SELECT doc_b, doc_a, n_common, sb.n
          FROM pairs JOIN sz sb ON doc_b = sb.doc_id
        )
        SELECT src_doc, dst_doc, n_common, n_src,
               round(CAST(n_common AS DOUBLE) / n_src, 6) AS containment
        FROM dir
        WHERE 2 * n_common >= n_src
        ORDER BY src_doc, dst_doc
    """,
)
def dedup_containment(spark, sf_dir):
    """Shingle CONTAINMENT |A∩B|/|A| — the asymmetric near-dup signal
    Jaccard misses: a short doc pasted inside a long one scores high
    containment but low Jaccard (the union is dominated by the long
    doc). Pair intersections reuse the shingle equi-join (quadratic
    only within identical shingles); each undirected pair then fans
    into both directions with its own denominator. The ≥0.5 gate is
    evaluated as 2·n_common ≥ n_src — pure integer comparison, so
    threshold membership can't float-drift; the ratio itself is one
    division at output."""
    docs = table(spark, sf_dir, "documents")
    sh = shingles(docs)
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sz_a = sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sz_b = sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    both = pairs.join(F.broadcast(sz_a), "doc_a").join(F.broadcast(sz_b), "doc_b")
    fwd = both.select(
        F.col("doc_a").alias("src_doc"),
        F.col("doc_b").alias("dst_doc"),
        "n_common",
        F.col("n_a").alias("n_src"),
    )
    rev = both.select(
        F.col("doc_b").alias("src_doc"),
        F.col("doc_a").alias("dst_doc"),
        "n_common",
        F.col("n_b").alias("n_src"),
    )
    return (
        fwd.unionByName(rev)
        .filter(2 * F.col("n_common") >= F.col("n_src"))
        .select(
            "src_doc",
            "dst_doc",
            "n_common",
            "n_src",
            F.round(F.col("n_common").cast("double") / F.col("n_src"), 6).alias(
                "containment"
            ),
        )
        .orderBy("src_doc", "dst_doc")
    )


@register(
    "graph_triangle_count",
    oracle=f"""
        WITH edges AS (SELECT doc_a, doc_b FROM ({JACCARD_SQL}) j),
        tri AS (
          SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
          FROM edges e1
          JOIN edges e2 ON e2.doc_a = e1.doc_b
          JOIN edges e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
        )
        SELECT doc_id, count(*) AS n_triangles
        FROM (SELECT unnest([a, b, c]) AS doc_id FROM tri)
        GROUP BY doc_id ORDER BY doc_id
    """,
)
def graph_triangle_count(spark, sf_dir):
    """Per-node triangle participation over the near-dup graph — the
    clustering-coefficient numerator used to find tightly-knit
    duplicate neighborhoods (template families) that pairwise scores
    miss.

    Each triangle is counted exactly once via the a<b<c orientation the
    Jaccard edge list already carries: wedges (a<b<c) form by joining
    edges on the middle vertex, then a third equi-join checks the
    closing (a,c) edge. Both joins are hash-partitioned equi-joins —
    never an all-pairs product — and the wedge fan-out is bounded by
    per-vertex degree, the standard distributed-triangle-count shape
    (degree-ordered orientation caps skew at 100 TB). The edge list is
    localCheckpointed so the shingle→Jaccard pipeline runs once, not
    three times."""
    edges = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    e1 = edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = edges.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    wedges = e1.join(e2, "b")
    e3 = edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    tri = wedges.join(e3, ["a", "c"])
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy("doc_id")
    )


@register(
    "dedup_savings_report",
    oracle="""
        WITH all_docs AS (
          SELECT doc_id, source, text, n_chars FROM documents
          UNION ALL
          SELECT doc_id + 100000, source, text, n_chars
          FROM documents WHERE doc_id < 100
        ),
        ranked AS (
          SELECT source, n_chars,
                 row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
          FROM all_docs
        )
        SELECT source, count(*) AS n_docs,
               CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dropped,
               CAST(sum(CASE WHEN rn > 1 THEN n_chars ELSE 0 END) AS BIGINT)
                 AS bytes_saved
        FROM ranked GROUP BY source ORDER BY source
    """,
)
def dedup_savings_report(spark, sf_dir):
    """Survivorship accounting for exact dedup: per source, how many
    docs would be dropped (lowest-doc_id-wins, the dedup_exact rule)
    and how many bytes that saves — the what-did-dedup-buy-us report
    every pipeline run emits. Duplicates are synthesized by re-adding
    the first 100 docs under shifted ids (the corpus has none at
    sf0.01, FIXTURES.md). One text-keyed window then one source-keyed
    aggregation; survivor choice never leaves the text's hash
    partition."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text", "n_chars"
    )
    dup = d.filter(F.col("doc_id") < 100).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    w = Window.partitionBy("text").orderBy("doc_id")
    ranked = d.unionByName(dup).withColumn("rn", F.row_number().over(w))
    dropped = F.when(F.col("rn") > 1, 1).otherwise(0)
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(dropped).cast("long").alias("n_dropped"),
            F.sum(F.when(F.col("rn") > 1, F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("bytes_saved"),
        )
        .orderBy("source")
    )


CDC_SHINGLE = 3  # rolling-hash window (tokens)
CDC_MOD = 8  # boundary when md5-prefix-hash(window) % MOD == 0 → ~MOD-token chunks


CDC_SQL = f"""
    WITH toks AS (
        SELECT doc_id, i - 1 AS pos, toks[i] AS tok
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             unnest(range(1, len(toks) + 1)) r(i)
        WHERE len(toks[i]) > 0),
    flagged AS (
        SELECT doc_id, pos, tok,
               CASE WHEN lag(tok, {CDC_SHINGLE - 1}) OVER w IS NOT NULL
                     AND CAST(('0x' || substr(md5(concat_ws(' ',
                           lag(tok, 2) OVER w, lag(tok, 1) OVER w, tok)), 1, 8))
                         AS BIGINT) % {CDC_MOD} = 0
                    THEN 1 ELSE 0 END AS boundary
        FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
    chunked AS (
        SELECT doc_id, pos, tok,
               coalesce(sum(boundary) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
        FROM flagged),
    chunks AS (
        SELECT DISTINCT doc_id,
               sha256(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
        FROM chunked GROUP BY doc_id, chunk_id)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           count(*) AS n_shared_chunks
    FROM chunks a JOIN chunks b
      ON a.chunk_hash = b.chunk_hash AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 2
"""


@register("dedup_cdc_chunks", oracle=CDC_SQL)
def dedup_cdc_chunks(spark, sf_dir):
    """Content-defined chunking (CDC) dedup — the block-level family
    member (exact: dedup_exact; shingle: dedup_ngram_jaccard;
    sketch: minhash/simhash): each document's token stream is split at
    positions where a rolling hash of the last CDC_SHINGLE tokens hits
    0 mod CDC_MOD, so chunk boundaries are CONTENT-anchored — insert a
    sentence and only the chunks it touches change, unlike fixed-size
    blocks where one insertion shifts every later boundary (the
    rsync/LBFS/backup-dedup insight). Shared-chunk pairs then surface
    partially-overlapping documents that whole-doc hashing misses and
    jaccard underweights.

    All JVM: posexplode → two lag()s build the rolling window, a
    portable md5-prefix hash % MOD flags boundaries, a prefix-sum
    assigns chunk ids, listagg WITHIN GROUP rebuilds chunk text, sha2
    fingerprints it, and the pair search is the grouped inverted
    index on chunk_hash (bucketed by construction — no all-pairs).
    md5/sha2 were chosen over xxhash64 deliberately: hashlib.md5 and
    hashlib.sha256 reproduce them exactly (bit-for-bit test replica
    in tests/test_llm_ops.py), and DuckDB computes the same digests —
    so the whole chunking carries a full value-hash oracle (upgraded
    from rows-only in round 5). Scale: one shuffle to tokens' doc
    partition (window), one to (doc, chunk), one index join keyed
    chunk_hash."""
    return _cdc_pairs(table(spark, sf_dir, "documents").select("doc_id", "text"))


def _cdc_pairs(d):
    """CDC chunking + shared-pair search over a (doc_id, text) frame —
    factored so tests can drive it with crafted inputs (irregular
    whitespace) beyond the single-spaced fixture."""
    from pyspark.sql import Window

    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    ).filter(F.length("tok") > 0)
    w = Window.partitionBy("doc_id").orderBy("pos")
    sh = F.concat_ws(
        " ", F.lag("tok", 2).over(w), F.lag("tok", 1).over(w), F.col("tok")
    )
    flagged = toks.withColumn(
        "boundary",
        F.when(
            # guard on the LAGGED token, not the raw pos: pos counts
            # pre-filter positions, so a doc with consecutive spaces
            # would otherwise test sub-3-token windows the replica
            # never sees (round-5 third-review finding; latent on the
            # single-spaced fixture, real on arbitrary input)
            F.lag("tok", CDC_SHINGLE - 1).over(w).isNotNull()
            & (
                F.conv(F.substring(F.md5(sh), 1, 8), 16, 10).cast("long")
                % CDC_MOD
                == 0
            ),
            1,
        ).otherwise(0),
    )
    # a boundary closes the chunk AT this token; the next token starts
    # a new chunk → chunk_id = exclusive prefix sum of boundaries
    wx = w.rowsBetween(Window.unboundedPreceding, -1)
    chunked = flagged.withColumn(
        "chunk_id", F.coalesce(F.sum("boundary").over(wx), F.lit(0))
    )
    chunks = (
        chunked.groupBy("doc_id", "chunk_id")
        .agg(
            F.expr("listagg(tok, ' ') WITHIN GROUP (ORDER BY pos)").alias(
                "chunk_text"
            )
        )
        .select("doc_id", F.sha2("chunk_text", 256).alias("chunk_hash"))
        .distinct()
    )
    a = chunks.select(F.col("doc_id").alias("doc_a"), "chunk_hash")
    b = chunks.select(F.col("doc_id").alias("doc_b"), "chunk_hash")
    return (
        a.join(b, "chunk_hash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_chunks"))
        .filter(F.col("n_shared_chunks") >= 2)
    )


LPA_ROUNDS = 5


@register(
    "graph_label_propagation",
    oracle=f"""
        WITH edges AS MATERIALIZED (
          SELECT doc_a, doc_b FROM ({JACCARD_SQL}) j
          UNION ALL
          SELECT doc_b, doc_a FROM ({JACCARD_SQL}) j2
        ),
        und AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM edges),
        l0 AS MATERIALIZED (SELECT DISTINCT doc_a AS node, doc_a AS label FROM edges),
        l1 AS MATERIALIZED (
          SELECT n.node, CAST(coalesce(p.new_label, n.label) AS BIGINT)
                 AS label
          FROM l0 n LEFT JOIN (
            SELECT node, label AS new_label FROM (
              SELECT und.v AS node, l0.label,
                     row_number() OVER (PARTITION BY und.v
                       ORDER BY count(*) DESC, l0.label) AS rn
              FROM l0 JOIN und ON und.u = l0.node
              GROUP BY 1, 2
            ) WHERE rn = 1
          ) p ON p.node = n.node
        ),
        l2 AS MATERIALIZED (
          SELECT n.node, CAST(coalesce(p.new_label, n.label) AS BIGINT)
                 AS label
          FROM l1 n LEFT JOIN (
            SELECT node, label AS new_label FROM (
              SELECT und.v AS node, l1.label,
                     row_number() OVER (PARTITION BY und.v
                       ORDER BY count(*) DESC, l1.label) AS rn
              FROM l1 JOIN und ON und.u = l1.node
              GROUP BY 1, 2
            ) WHERE rn = 1
          ) p ON p.node = n.node
        ),
        l3 AS MATERIALIZED (
          SELECT n.node, CAST(coalesce(p.new_label, n.label) AS BIGINT)
                 AS label
          FROM l2 n LEFT JOIN (
            SELECT node, label AS new_label FROM (
              SELECT und.v AS node, l2.label,
                     row_number() OVER (PARTITION BY und.v
                       ORDER BY count(*) DESC, l2.label) AS rn
              FROM l2 JOIN und ON und.u = l2.node
              GROUP BY 1, 2
            ) WHERE rn = 1
          ) p ON p.node = n.node
        ),
        l4 AS MATERIALIZED (
          SELECT n.node, CAST(coalesce(p.new_label, n.label) AS BIGINT)
                 AS label
          FROM l3 n LEFT JOIN (
            SELECT node, label AS new_label FROM (
              SELECT und.v AS node, l3.label,
                     row_number() OVER (PARTITION BY und.v
                       ORDER BY count(*) DESC, l3.label) AS rn
              FROM l3 JOIN und ON und.u = l3.node
              GROUP BY 1, 2
            ) WHERE rn = 1
          ) p ON p.node = n.node
        ),
        l5 AS MATERIALIZED (
          SELECT n.node, CAST(coalesce(p.new_label, n.label) AS BIGINT)
                 AS label
          FROM l4 n LEFT JOIN (
            SELECT node, label AS new_label FROM (
              SELECT und.v AS node, l4.label,
                     row_number() OVER (PARTITION BY und.v
                       ORDER BY count(*) DESC, l4.label) AS rn
              FROM l4 JOIN und ON und.u = l4.node
              GROUP BY 1, 2
            ) WHERE rn = 1
          ) p ON p.node = n.node
        )
        SELECT node AS doc_id, label AS community FROM l5
    """,
)
def graph_label_propagation(spark, sf_dir):
    """Community detection by synchronous label propagation over the
    near-dup pair graph: each round every node adopts its neighbors'
    most frequent label (ties broken by smallest label), isolated
    semantics preserved by keeping the own label when no message
    arrives. Complements dedup_cluster_cc: CC answers "which docs are
    transitively connected", LPA carves DENSE regions inside a
    component into communities — the structure SemDeDup-style corpus
    curation keys on.

    Determinism: synchronous rounds (labels(t+1) from labels(t) only),
    count-desc + label-asc row_number pick, fixed LPA_ROUNDS — the
    result is a pure function of the edge list, pinned by a
    double-run equality test AND (since round 5) value-hashed against
    a five-stage unrolled SQL oracle restating the identical mode-
    with-tiebreak rounds. Scale shape: per round one join on
    doc_id (graph partitioned by node), one (node,label) count
    aggregate (map-side combinable), one per-node WindowGroupLimit
    pick; localCheckpoint truncates lineage like the CC loop. 100 TB
    graphs run the identical plan with the node id as the partition
    key."""
    edges = _neardup_edges(spark, sf_dir)
    labels = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint()
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("cnt"), F.asc("label")
    )
    for _ in range(LPA_ROUNDS):
        msgs = (
            edges.join(labels, edges.doc_a == labels.doc_id)
            .select(F.col("doc_b").alias("doc_id"), "label")
        )
        pick = (
            msgs.groupBy("doc_id", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", F.col("label").alias("new_label"))
        )
        labels = (
            labels.join(pick, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("new_label", "label").alias("label"),
            )
            .localCheckpoint()
        )
    return labels.select("doc_id", F.col("label").alias("community"))


_MH_EST_SQL = (
    "("
    + " + ".join(
        f"CASE WHEN a.mh{s} = b.mh{s} THEN 1 ELSE 0 END"
        for s in range(N_MINHASH)
    )
    + f") / {N_MINHASH}.0"
)

MINHASH_AUDIT_SQL = f"""{_MH_COMMON_CTES},
    common AS (SELECT c.doc_a, c.doc_b, count(*) AS n_common
               FROM cand c
               JOIN sh x ON x.doc_id = c.doc_a
               JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
               GROUP BY 1, 2),
    perr AS MATERIALIZED (
        SELECT c.doc_a, c.doc_b,
               CAST(round(abs({_MH_EST_SQL}
                     - coalesce(cm.n_common, 0) / (sa.n + sb.n - coalesce(cm.n_common, 0))
                    ) * 1e6) AS BIGINT) AS err_u
        FROM cand c
        JOIN mh a ON a.doc_id = c.doc_a
        JOIN mh b ON b.doc_id = c.doc_b
        JOIN sz sa ON sa.doc_id = c.doc_a
        JOIN sz sb ON sb.doc_id = c.doc_b
        LEFT JOIN common cm ON cm.doc_a = c.doc_a AND cm.doc_b = c.doc_b)
    SELECT (SELECT count(*) FROM perr) AS n_pairs,
           (SELECT CAST(floor(sum(err_u) / count(*)) AS BIGINT) FROM perr) AS mae_u,
           (SELECT max(err_u) FROM perr) AS max_err_u,
           doc_a AS worst_a, doc_b AS worst_b
    FROM perr ORDER BY err_u DESC, doc_a, doc_b LIMIT 1
"""


@register("dedup_minhash_error_audit", oracle=MINHASH_AUDIT_SQL)
def dedup_minhash_error_audit(spark, sf_dir):
    """Sketch-quality audit for the MinHash estimator: for every LSH
    candidate pair, the 16-signature match fraction (the MinHash
    jaccard ESTIMATE) is compared against the EXACT shingle-set
    jaccard, and the op reports the error distribution (n_pairs, mean
    |err|, max |err|, worst pair) in 1e-6 units. This is the
    completeness-critic op for the dedup tier: dedup_near_minhash
    asserts its candidates are real (exact re-verify); this op
    MEASURES how trustworthy the sketch itself is — the number you
    need before raising the band threshold at 100 TB. E[|err|] for a
    16-perm sketch is ≈ √(j(1−j)/16) ≤ 0.125; the property test pins
    MAE ≤ 0.25 with slack.

    Scale: identical plan skeleton to dedup_near_minhash (one wide
    sig aggregate, bucket join, array-intersect verify) plus one
    zip_with over the 16-long sig arrays per candidate — no new
    shuffle shape. Uses the same portable affine permutation family
    as dedup_near_minhash, so the whole audit — candidate set,
    estimates, error stats — carries a full value-hash oracle
    (upgraded from rows-only)."""
    d = table(spark, sf_dir, "documents")
    # persist both shared frames: doc_sh feeds the sig aggregation AND
    # two verification joins, mh_cols feeds sigs AND bands — without
    # the pins Catalyst re-derives the shingle scan+agg subtree per
    # consumer (measured 2.6x the whole-op time at sf0.1)
    doc_sh = (
        d.repartition(32, "doc_id")
        .select("doc_id", _shingle_array(_tokens()).alias("sh"))
        .persist()
    )
    sh = doc_sh.select(
        "doc_id", F.explode("sh").alias("shingle")
    ).withColumn("hb", _mh_base())
    mh_cols = sh.groupBy("doc_id").agg(*_mh_sig_aggs()).persist()
    mh = mh_cols.select(
        "doc_id",
        F.array(*[F.col(f"mh{s}") for s in range(N_MINHASH)]).alias("sig"),
    )
    bands = mh_cols.select(
        "doc_id",
        F.explode(F.array(*_mh_band_structs())).alias("bk"),
    ).select("doc_id", "bk.band", "bk.band_key")
    cands = (
        bands.groupBy("band", "band_key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        "ids",
                        lambda x, i: F.transform(
                            F.slice("ids", i + 2, F.size("ids")),
                            lambda y: F.struct(
                                x.alias("doc_a"), y.alias("doc_b")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    siga = mh.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("siga"))
    sigb = mh.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sigb"))
    sha = doc_sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
    shb = doc_sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
    est = (
        F.aggregate(
            F.zip_with(
                "siga", "sigb", lambda x, y: F.when(x == y, 1).otherwise(0)
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        ).cast("double")
        / N_MINHASH
    )
    n_common = F.size(F.array_intersect("sha", "shb"))
    exact = n_common.cast("double") / (
        F.size("sha") + F.size("shb") - n_common
    )
    pairs = (
        cands.join(siga, "doc_a")
        .join(sigb, "doc_b")
        .join(sha, "doc_a")
        .join(shb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.abs(est - exact) * 1e6).cast("long").alias("err_u"),
        )
    )
    w = Window.partitionBy().orderBy(
        F.desc("err_u"), F.asc("doc_a"), F.asc("doc_b")
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .select(
            F.count(F.lit(1)).over(Window.partitionBy()).alias("n_pairs"),
            (
                F.sum("err_u").over(Window.partitionBy())
                / F.count(F.lit(1)).over(Window.partitionBy())
            ).cast("long").alias("mae_u"),
            F.max("err_u").over(Window.partitionBy()).alias("max_err_u"),
            "doc_a",
            "doc_b",
            "rn",
        )
        .filter(F.col("rn") == 1)
        .select("n_pairs", "mae_u", "max_err_u",
                F.col("doc_a").alias("worst_a"), F.col("doc_b").alias("worst_b"))
    )


AA_EDGE_THRESHOLD = 0.975


@register(
    "graph_adamic_adar",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    sh AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
           FROM t, unnest(range(1, len(toks)-1)) r(i)),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    prs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
    edges AS (
      SELECT doc_a, doc_b
      FROM prs JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
      WHERE n_common / (sa.n + sb.n - n_common) >= {AA_EDGE_THRESHOLD}
    ),
    bidir AS (
      SELECT doc_a, doc_b FROM edges
      UNION ALL
      SELECT doc_b AS doc_a, doc_a AS doc_b FROM edges
    ),
    deg AS (SELECT doc_a AS z, count(*) AS d FROM bidir GROUP BY 1),
    cand AS (
      SELECT e1.doc_b AS x, e2.doc_b AS y, e1.doc_a AS z
      FROM bidir e1 JOIN bidir e2
        ON e1.doc_a = e2.doc_a AND e1.doc_b < e2.doc_b
    ),
    nonadj AS (
      SELECT c.x, c.y, c.z FROM cand c
      LEFT JOIN bidir b ON b.doc_a = c.x AND b.doc_b = c.y
      WHERE b.doc_a IS NULL
    ),
    aa AS (
      SELECT n.x AS doc_a, n.y AS doc_b,
             CAST(sum(CAST(round(1000000.0 / ln(deg.d)) AS BIGINT))
                  AS BIGINT) AS aa_micro,
             count(*) AS n_common_neighbors
      FROM nonadj n JOIN deg ON n.z = deg.z
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, aa_micro, n_common_neighbors
    FROM aa
    ORDER BY aa_micro DESC, doc_a, doc_b
    LIMIT 20
    """,
)
def graph_adamic_adar(spark, sf_dir):
    """Adamic-Adar link prediction over the near-dup document graph:
    for every NON-adjacent pair (x, y), score
    sum over common neighbors z of 1/ln(degree(z)) — the classic
    common-neighbor predictor that up-weights rare shared neighbors.
    Per-neighbor terms are micro-nat-quantized to int64 before the
    per-pair sum (shuffle-order-proof; only nodes with degree >= 2 can
    be common neighbors, so ln(d) > 0 by construction). Top-20 under
    the deterministic total order (aa_micro, doc_a, doc_b).

    Scale: the wedge join (z's neighbor list squared) is the standard
    triangle/wedge enumeration shape — bounded by sum over z of
    deg(z)^2, the quantity production systems cap by truncating
    hot-node neighbor lists to top-N by weight; degrees are a
    broadcast-sized dim here and the scoring aggregation is
    map-side-combinable. The base graph is THINNED to
    jaccard >= AA_EDGE_THRESHOLD (the near-dup graph at 0.2 is a
    union of cliques with no non-adjacent wedge pairs); the dropped
    clique edges are exactly the links the predictor should — and
    does — rediscover."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).filter(
        F.col("jaccard") >= AA_EDGE_THRESHOLD
    ).select("doc_a", "doc_b")
    # persist: edges feeds FOUR consumers (degrees, both wedge sides,
    # the adjacency anti-join) and each would otherwise re-derive the
    # whole shingle-jaccard subtree (measured ~4x the op's total time
    # at sf0.1); the thinned near-dup edge list is tiny
    edges = pairs.unionByName(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).persist()
    deg = edges.groupBy(F.col("doc_a").alias("z")).agg(
        F.count(F.lit(1)).alias("d")
    )
    e1 = edges.select(F.col("doc_a").alias("z"), F.col("doc_b").alias("x"))
    e2 = edges.select(F.col("doc_a").alias("z2"), F.col("doc_b").alias("y"))
    cand = e1.join(
        e2, (F.col("z") == F.col("z2")) & (F.col("x") < F.col("y"))
    ).select("x", "y", "z")
    nonadj = cand.join(
        edges.select(F.col("doc_a").alias("x"), F.col("doc_b").alias("y")),
        ["x", "y"],
        "left_anti",
    )
    inv = F.round(F.lit(1000000.0) / F.log(F.col("d"))).cast("long")
    aa = (
        nonadj.join(F.broadcast(deg), "z")
        .groupBy(F.col("x").alias("doc_a"), F.col("y").alias("doc_b"))
        .agg(
            F.sum(inv).alias("aa_micro"),
            F.count(F.lit(1)).alias("n_common_neighbors"),
        )
    )
    return aa.orderBy(
        F.desc("aa_micro"), F.asc("doc_a"), F.asc("doc_b")
    ).limit(20)


KCORE_K = 2
KCORE_MAX_ITERS = 20


@register(
    "graph_kcore",
    oracle=f"""
        WITH edges AS MATERIALIZED (
          SELECT doc_a, doc_b FROM ({JACCARD_SQL}) j
          UNION ALL
          SELECT doc_b, doc_a FROM ({JACCARD_SQL}) j2
        ),
        n0 AS MATERIALIZED (SELECT DISTINCT doc_a AS id FROM edges),
        n1 AS MATERIALIZED (
          SELECT edges.doc_a AS id FROM edges
          JOIN n0 a ON a.id = edges.doc_a
          JOIN n0 b ON b.id = edges.doc_b
          GROUP BY 1 HAVING count(*) >= 2
        ),
        n2 AS MATERIALIZED (
          SELECT edges.doc_a AS id FROM edges
          JOIN n1 a ON a.id = edges.doc_a
          JOIN n1 b ON b.id = edges.doc_b
          GROUP BY 1 HAVING count(*) >= 2
        ),
        n3 AS MATERIALIZED (
          SELECT edges.doc_a AS id FROM edges
          JOIN n2 a ON a.id = edges.doc_a
          JOIN n2 b ON b.id = edges.doc_b
          GROUP BY 1 HAVING count(*) >= 2
        ),
        n4 AS MATERIALIZED (
          SELECT edges.doc_a AS id FROM edges
          JOIN n3 a ON a.id = edges.doc_a
          JOIN n3 b ON b.id = edges.doc_b
          GROUP BY 1 HAVING count(*) >= 2
        ),
        n5 AS MATERIALIZED (
          SELECT edges.doc_a AS id FROM edges
          JOIN n4 a ON a.id = edges.doc_a
          JOIN n4 b ON b.id = edges.doc_b
          GROUP BY 1 HAVING count(*) >= 2
        ),
        n6 AS MATERIALIZED (
          SELECT edges.doc_a AS id FROM edges
          JOIN n5 a ON a.id = edges.doc_a
          JOIN n5 b ON b.id = edges.doc_b
          GROUP BY 1 HAVING count(*) >= 2
        ),
        n7 AS MATERIALIZED (
          SELECT edges.doc_a AS id FROM edges
          JOIN n6 a ON a.id = edges.doc_a
          JOIN n6 b ON b.id = edges.doc_b
          GROUP BY 1 HAVING count(*) >= 2
        ),
        n8 AS MATERIALIZED (
          SELECT edges.doc_a AS id FROM edges
          JOIN n7 a ON a.id = edges.doc_a
          JOIN n7 b ON b.id = edges.doc_b
          GROUP BY 1 HAVING count(*) >= 2
        ),
        n9 AS MATERIALIZED (
          SELECT edges.doc_a AS id FROM edges
          JOIN n8 a ON a.id = edges.doc_a
          JOIN n8 b ON b.id = edges.doc_b
          GROUP BY 1 HAVING count(*) >= 2
        ),
        n10 AS MATERIALIZED (
          SELECT edges.doc_a AS id FROM edges
          JOIN n9 a ON a.id = edges.doc_a
          JOIN n9 b ON b.id = edges.doc_b
          GROUP BY 1 HAVING count(*) >= 2
        ),
        n11 AS MATERIALIZED (
          SELECT edges.doc_a AS id FROM edges
          JOIN n10 a ON a.id = edges.doc_a
          JOIN n10 b ON b.id = edges.doc_b
          GROUP BY 1 HAVING count(*) >= 2
        ),
        n12 AS MATERIALIZED (
          SELECT edges.doc_a AS id FROM edges
          JOIN n11 a ON a.id = edges.doc_a
          JOIN n11 b ON b.id = edges.doc_b
          GROUP BY 1 HAVING count(*) >= 2
        ),
        n13 AS MATERIALIZED (
          SELECT edges.doc_a AS id FROM edges
          JOIN n12 a ON a.id = edges.doc_a
          JOIN n12 b ON b.id = edges.doc_b
          GROUP BY 1 HAVING count(*) >= 2
        ),
        n14 AS MATERIALIZED (
          SELECT edges.doc_a AS id FROM edges
          JOIN n13 a ON a.id = edges.doc_a
          JOIN n13 b ON b.id = edges.doc_b
          GROUP BY 1 HAVING count(*) >= 2
        ),
        n15 AS MATERIALIZED (
          SELECT edges.doc_a AS id FROM edges
          JOIN n14 a ON a.id = edges.doc_a
          JOIN n14 b ON b.id = edges.doc_b
          GROUP BY 1 HAVING count(*) >= 2
        ),
        n16 AS MATERIALIZED (
          SELECT edges.doc_a AS id FROM edges
          JOIN n15 a ON a.id = edges.doc_a
          JOIN n15 b ON b.id = edges.doc_b
          GROUP BY 1 HAVING count(*) >= 2
        ),
        n17 AS MATERIALIZED (
          SELECT edges.doc_a AS id FROM edges
          JOIN n16 a ON a.id = edges.doc_a
          JOIN n16 b ON b.id = edges.doc_b
          GROUP BY 1 HAVING count(*) >= 2
        ),
        n18 AS MATERIALIZED (
          SELECT edges.doc_a AS id FROM edges
          JOIN n17 a ON a.id = edges.doc_a
          JOIN n17 b ON b.id = edges.doc_b
          GROUP BY 1 HAVING count(*) >= 2
        ),
        n19 AS MATERIALIZED (
          SELECT edges.doc_a AS id FROM edges
          JOIN n18 a ON a.id = edges.doc_a
          JOIN n18 b ON b.id = edges.doc_b
          GROUP BY 1 HAVING count(*) >= 2
        ),
        n20 AS MATERIALIZED (
          SELECT edges.doc_a AS id FROM edges
          JOIN n19 a ON a.id = edges.doc_a
          JOIN n19 b ON b.id = edges.doc_b
          GROUP BY 1 HAVING count(*) >= 2
        )
        SELECT edges.doc_a AS doc_id,
               CAST(count(*) AS BIGINT) AS core_degree
        FROM edges
        JOIN n20 a ON a.id = edges.doc_a
        JOIN n20 b ON b.id = edges.doc_b
        GROUP BY 1
    """,
)
def graph_kcore(spark, sf_dir):
    """k-core decomposition (k=2) of the near-dup document graph:
    iteratively peel nodes with degree < k until the fixpoint — the
    remaining maximal subgraph where every node keeps >= k neighbors,
    the standard dense-region extractor (spam rings, tight duplicate
    communities) that degree centrality alone cannot find. Each round
    recomputes induced degrees with one join + groupBy and
    localCheckpoints the shrinking node set; convergence is detected
    by node-count stability (peeling is monotone decreasing).
    tests/test_llm_ops.py recomputes the peel in pure Python from the
    exact pair list and compares node-by-node; since round 5 the op is
    also VALUE-HASHED against a 20-stage unrolled peeling oracle —
    sound because peeling is idempotent at the fixpoint, so a fixed
    stage count computes the same maximal subgraph the convergence
    loop does.

    Scale: the iterative-join family shape shared with
    dedup_cluster_cc — O(diameter-ish) rounds, each one keyed shuffle
    of the surviving edge set; production variant peels all k
    simultaneously (core-number propagation), same per-round cost."""
    edges = _neardup_edges(spark, sf_dir)
    nodes = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .localCheckpoint()
    )
    prev_n = None
    for _ in range(KCORE_MAX_ITERS):
        alive = edges.join(
            nodes.withColumnsRenamed({"doc_id": "doc_a"}), "doc_a"
        ).join(nodes.withColumnsRenamed({"doc_id": "doc_b"}), "doc_b")
        deg = alive.groupBy("doc_a").agg(F.count(F.lit(1)).alias("deg"))
        nodes = (
            deg.filter(F.col("deg") >= KCORE_K)
            .select(F.col("doc_a").alias("doc_id"))
            .localCheckpoint()
        )
        n = nodes.count()
        if n == prev_n:
            break
        prev_n = n
    alive = edges.join(
        nodes.withColumnsRenamed({"doc_id": "doc_a"}), "doc_a"
    ).join(nodes.withColumnsRenamed({"doc_id": "doc_b"}), "doc_b")
    return (
        alive.groupBy(F.col("doc_a").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .orderBy("doc_id")
    )


@register(
    "dedup_token_sort_exact",
    oracle="""
        WITH c AS (
          SELECT doc_id,
                 md5(array_to_string(list_sort(string_split(text, ' ')),
                     ' ')) AS canon
          FROM documents
        ),
        g AS (
          SELECT canon, CAST(count(*) AS BIGINT) AS group_size,
                 CAST(min(doc_id) AS BIGINT) AS keeper
          FROM c GROUP BY 1
        )
        SELECT c.doc_id, substr(c.canon, 1, 16) AS canon_prefix,
               g.group_size,
               CAST(c.doc_id = g.keeper AS BIGINT) AS is_keeper
        FROM c JOIN g USING (canon)
    """,
)
def dedup_token_sort_exact(spark, sf_dir):
    """Token-sort canonical dedup — fuzzywuzzy's token_sort_ratio at
    exact-match strength: sort each document's whitespace tokens,
    rejoin, and hash, so word-order-shuffled near-duplicates ("the
    cat sat" vs "sat the cat") collapse into one group that plain
    exact dedup (dedup_exact) misses. Every doc gets its canonical
    signature, group size, and a deterministic min-doc_id keeper
    flag — the production output a dedup pipeline feeds into its
    filter stage.

    Scale: canonicalization is map-only (token sort is per-row,
    bounded by doc length); grouping is a hash groupBy on the digest
    (map-side combinable) and the join back to docs co-shuffles on
    the same digest key — the same O(corpus) contract as dedup_exact,
    one extra sort per row."""
    d = table(spark, sf_dir, "documents")
    c = d.select(
        "doc_id",
        F.md5(
            F.array_join(F.sort_array(F.split("text", " ")), " ")
        ).alias("canon"),
    )
    g = c.groupBy("canon").agg(
        F.count(F.lit(1)).alias("group_size"),
        F.min("doc_id").alias("keeper"),
    )
    return c.join(g, "canon").select(
        "doc_id",
        F.substring("canon", 1, 16).alias("canon_prefix"),
        "group_size",
        (F.col("doc_id") == F.col("keeper")).cast("long").alias("is_keeper"),
    )


BP_MIN_DF = 3


@register(
    "text_boilerplate_coverage",
    oracle=f"""
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ),
        sh AS (
          SELECT DISTINCT doc_id,
                 toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
          FROM t, unnest(range(1, len(toks)-1)) r(i)
        ),
        df AS (
          SELECT shingle, CAST(count(*) AS BIGINT) AS df
          FROM sh GROUP BY 1
        )
        SELECT sh.doc_id,
               CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(sum(CAST(df.df >= {BP_MIN_DF} AS BIGINT)) AS BIGINT)
                 AS n_boilerplate,
               round(CAST(sum(CAST(df.df >= {BP_MIN_DF} AS BIGINT))
                     AS DOUBLE) / count(*), 6) AS bp_share
        FROM sh JOIN df USING (shingle)
        GROUP BY sh.doc_id
    """,
)
def text_boilerplate_coverage(spark, sf_dir):
    """Boilerplate coverage per document — the share of a doc's
    distinct 3-token shingles that are corpus-repeated (document
    frequency >= 3): the cleaning signal that catches license headers,
    navigation chrome, and template text which near-dup pair mining
    (dedup_ngram_jaccard) deliberately ignores because no single pair
    crosses its threshold. High-bp_share docs are dropped or stripped
    before pretraining; integer counting throughout.

    Scale: reuses the registry's shingle relation (map-only explode);
    the document-frequency table is a map-side-combinable groupBy on
    the shingle key and joins back co-shuffled on that same key — the
    inverted-index contract, never a doc×doc pair. The df table is
    Heaps-sublinear in corpus size."""
    d = table(spark, sf_dir, "documents")
    sh = shingles(d)
    df = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    hot = (F.col("df") >= BP_MIN_DF).cast("long")
    return (
        sh.join(df, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(hot).alias("n_boilerplate"),
            F.round(
                F.sum(hot).cast("double") / F.count(F.lit(1)), 6
            ).alias("bp_share"),
        )
    )


@register(
    "graph_clustering_coefficient",
    oracle=f"""
        WITH edges AS (SELECT doc_a, doc_b FROM ({JACCARD_SQL}) j),
        und AS (
          SELECT doc_a AS u, doc_b AS v FROM edges
          UNION ALL
          SELECT doc_b AS u, doc_a AS v FROM edges
        ),
        deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY 1),
        tri AS (
          SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
          FROM edges e1
          JOIN edges e2 ON e2.doc_a = e1.doc_b
          JOIN edges e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
        ),
        tn AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tri
          FROM (SELECT unnest([a, b, c]) AS doc_id FROM tri)
          GROUP BY 1
        )
        SELECT deg.u AS doc_id, deg.d AS degree,
               CAST(coalesce(tn.n_tri, 0) AS BIGINT) AS n_triangles,
               round(CASE WHEN deg.d < 2 THEN 0.0
                     ELSE 2.0 * coalesce(tn.n_tri, 0)
                          / (deg.d * (deg.d - 1)) END, 6)
                 AS clustering_coef
        FROM deg LEFT JOIN tn ON deg.u = tn.doc_id
    """,
)
def graph_clustering_coefficient(spark, sf_dir):
    """Local clustering coefficient per node of the near-dup graph —
    closed wedges over possible wedges, C(v) = 2·tri(v)/(deg·(deg−1)):
    C ≈ 1 marks template FAMILIES (every neighbor also similar to
    each other — safe to keep one exemplar), C ≈ 0 marks hub docs
    that merely chain-link distinct clusters (collapsing those loses
    real content). Triangle counts ride the registry's oriented
    wedge-join (a<b<c, no all-pairs product); degrees come from the
    undirected edge expansion; the ratio is one zero-guarded double
    over exact ints.

    Scale: same contract as graph_triangle_count (hash-partitioned
    equi-joins bounded by per-vertex degree, edge list
    localCheckpointed so the Jaccard pipeline runs once); the degree
    table is node-spine sized."""
    edges = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    und = edges.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionAll(
        edges.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    e1 = edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = edges.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    e3 = edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    tn = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    return (
        deg.join(tn, deg.u == tn.doc_id, "left")
        .select(
            F.col("u").alias("doc_id"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("n_tri"), F.lit(0)).alias("n_triangles"),
            F.round(
                F.when(F.col("d") < 2, F.lit(0.0)).otherwise(
                    2.0
                    * F.coalesce(F.col("n_tri"), F.lit(0))
                    / (F.col("d") * (F.col("d") - 1))
                ),
                6,
            ).alias("clustering_coef"),
        )
    )


BFS_MAX_HOPS = 4


@register(
    "graph_bfs_distance",
    oracle=f"""
        WITH RECURSIVE edges AS (SELECT doc_a, doc_b FROM ({JACCARD_SQL}) j),
        und AS (
          SELECT doc_a AS u, doc_b AS v FROM edges
          UNION ALL
          SELECT doc_b AS u, doc_a AS v FROM edges
        ),
        deg0 AS (
          SELECT u, count(*) AS d FROM und GROUP BY 1
        ),
        src AS (
          SELECT u AS s FROM deg0
          ORDER BY d DESC, u LIMIT 1
        ),
        walk(node, dist) AS (
          SELECT s, 0 FROM src
          UNION ALL
          SELECT und.v, walk.dist + 1
          FROM walk JOIN und ON und.u = walk.node
          WHERE walk.dist < {BFS_MAX_HOPS}
        )
        SELECT CAST(node AS BIGINT) AS doc_id,
               CAST(min(dist) AS BIGINT) AS dist
        FROM walk GROUP BY 1
    """,
)
def graph_bfs_distance(spark, sf_dir):
    """Bounded BFS shortest-path distances over the near-dup graph
    from its highest-degree vertex (min-id tiebreak) — "how many
    similarity hops away is this
    doc from the seed": the contamination-spread primitive (a known-
    bad doc's 2-hop neighborhood is the quarantine set). Distances
    are EXACT integers, so unlike pagerank/label-propagation this
    iterative op value-hashes against a recursive-CTE oracle — the
    registry's only fully-oracled iterative graph algorithm. Spark
    side runs frontier BFS: each hop joins the frontier to the
    undirected edge list, anti-joins already-settled nodes, and
    localCheckpoints (bounded lineage, the same discipline as
    dedup_cluster_cc).

    Scale: frontier BFS is THE distributed BFS — per-hop cost is
    |frontier|·avg-degree with hash-partitioned joins, and the hop
    bound caps total work; settled-set anti-join keeps each node
    processed once."""
    edges = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    und = edges.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionAll(
        edges.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    ).localCheckpoint()
    deg0 = und.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    src = (
        deg0.orderBy(F.desc("d"), F.asc("u"))
        .limit(1)
        .select(F.col("u").alias("node"), F.lit(0).alias("dist"))
    )
    dist = src.localCheckpoint()
    frontier = dist
    for hop in range(1, BFS_MAX_HOPS + 1):
        nxt = (
            frontier.join(und, frontier.node == und.u)
            .select(F.col("v").alias("node"))
            .distinct()
        )
        new = nxt.join(dist.select("node"), "node", "left_anti").select(
            "node", F.lit(hop).alias("dist")
        )
        dist = dist.unionAll(new).localCheckpoint()
        frontier = new
    return dist.select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("dist").cast("long").alias("dist"),
    )


@register(
    "graph_degree_assortativity",
    oracle=f"""
        WITH edges AS (SELECT doc_a, doc_b FROM ({JACCARD_SQL}) j),
        und AS (
          SELECT doc_a AS u, doc_b AS v FROM edges
          UNION ALL
          SELECT doc_b AS u, doc_a AS v FROM edges
        ),
        deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY 1),
        de AS (
          SELECT da.d AS x, db.d AS y
          FROM und
          JOIN deg da ON da.u = und.u
          JOIN deg db ON db.u = und.v
        ),
        m AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * x) AS BIGINT) AS sxx,
                 CAST(sum(y * y) AS BIGINT) AS syy,
                 CAST(sum(x * y) AS BIGINT) AS sxy
          FROM de
        )
        SELECT n AS n_directed_edges,
               round((n * sxy - CAST(sx AS DOUBLE) * sy)
                     / sqrt((n * sxx - CAST(sx AS DOUBLE) * sx)
                            * (n * syy - CAST(sy AS DOUBLE) * sy)), 6)
                 AS assortativity
        FROM m
    """,
)
def graph_degree_assortativity(spark, sf_dir):
    """Degree assortativity of the near-dup graph — the Pearson
    correlation of endpoint degrees over every (directed) edge:
    positive means duplicate-heavy docs link to each other (template
    families, collapse-safe), negative means hub-and-spoke (one
    canonical doc with many one-off variants — collapse the spokes,
    keep the hub). Endpoint degrees join from the node spine; all six
    moments are exact int64 sums over the edge list and the
    coefficient is one identical double expression.

    Scale: degree spine is node-sized and broadcast; the moment pass
    is one combinable fold over edges — O(E), the graph-level scalar
    at scan cost."""
    edges = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    und = edges.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionAll(
        edges.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    da = deg.select(F.col("u").alias("ju"), F.col("d").alias("x"))
    db = deg.select(F.col("u").alias("jv"), F.col("d").alias("y"))
    de = und.join(F.broadcast(da), und.u == da.ju).join(
        F.broadcast(db), und.v == db.jv
    )
    m = de.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    return m.select(
        F.col("n").alias("n_directed_edges"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx").cast("double") * F.col("sy"))
            / F.sqrt(
                (
                    F.col("n") * F.col("sxx")
                    - F.col("sx").cast("double") * F.col("sx")
                )
                * (
                    F.col("n") * F.col("syy")
                    - F.col("sy").cast("double") * F.col("sy")
                )
            ),
            6,
        ).alias("assortativity"),
    )


@register(
    "dedup_cluster_canonical_pick",
    oracle=f"""
        WITH RECURSIVE edges AS (SELECT doc_a, doc_b FROM ({JACCARD_SQL}) j),
        und AS (
          SELECT doc_a AS u, doc_b AS v FROM edges
          UNION ALL
          SELECT doc_b AS u, doc_a AS v FROM edges
        ),
        reach(node, r) AS (
          SELECT DISTINCT u, u FROM und
          UNION
          SELECT und.v, reach.r FROM reach JOIN und ON und.u = reach.node
        ),
        comp AS (
          SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
          FROM reach GROUP BY 1
        ),
        scored AS (
          SELECT comp.doc_id, comp.cluster_id, d.n_chars,
                 row_number() OVER (PARTITION BY comp.cluster_id
                   ORDER BY d.n_chars DESC, comp.doc_id) AS rn
          FROM comp JOIN documents d ON d.doc_id = comp.doc_id
        )
        SELECT doc_id, cluster_id, CAST(n_chars AS BIGINT) AS n_chars,
               CAST(rn = 1 AS BIGINT) AS is_canonical
        FROM scored
    """,
)
def dedup_cluster_canonical_pick(spark, sf_dir):
    """Canonical-survivor selection per duplicate cluster — the
    finishing step every dedup pipeline needs after clustering: for
    each near-dup connected component, keep the LONGEST document
    (min-doc_id tiebreak) and mark the rest for dropping. Clusters
    come from the registry's iterative min-label CC
    (dedup_cluster_cc's exact shape — labels are the deterministic
    min doc_id of each component), which lets this op carry a FULL
    recursive-transitive-closure oracle: the first value-hashed proof
    that the distributed CC loop computes the same components SQL
    does. Quality-based survivor choice (not min-id) is what keeps
    the best copy when near-dups differ by truncation.

    Scale: CC as in dedup_cluster_cc (O(diameter) rounds, checkpointed);
    the pick is one per-cluster window over the component-sized
    spine joined broadcast-free on doc_id."""
    labels = dedup_cluster_cc(spark, sf_dir)
    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    scored = labels.join(d, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return scored.select(
        "doc_id",
        "cluster_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        (F.row_number().over(w) == 1).cast("long").alias("is_canonical"),
    )


def _cascade_oracle_sql():
    from .similarity import SEMANTIC_PAIRS_SQL

    return f"""
    WITH near AS MATERIALIZED ({MINHASH_SQL}),
    sem AS MATERIALIZED ({SEMANTIC_PAIRS_SQL}),
    ex_pairs AS (
        SELECT a.doc_id AS pa, b.doc_id AS pb
        FROM documents a JOIN documents b
          ON sha256(a.text) = sha256(b.text) AND a.doc_id < b.doc_id),
    s0 AS (SELECT doc_id FROM documents),
    d1 AS (SELECT DISTINCT pb AS doc_id FROM ex_pairs),
    s1 AS (SELECT doc_id FROM s0 EXCEPT SELECT doc_id FROM d1),
    d2 AS (SELECT DISTINCT n.doc_b AS doc_id FROM near n
           JOIN s1 x ON x.doc_id = n.doc_a
           JOIN s1 y ON y.doc_id = n.doc_b),
    s2 AS (SELECT doc_id FROM s1 EXCEPT SELECT doc_id FROM d2),
    d3 AS (SELECT DISTINCT p.vec_b AS doc_id FROM sem p
           JOIN s2 x ON x.doc_id = p.vec_a
           JOIN s2 y ON y.doc_id = p.vec_b),
    s3 AS (SELECT doc_id FROM s2 EXCEPT SELECT doc_id FROM d3)
    SELECT '0_input' AS tier, CAST(0 AS BIGINT) AS n_dropped,
           (SELECT CAST(count(*) AS BIGINT) FROM s0) AS n_remaining
    UNION ALL
    SELECT '1_exact', (SELECT CAST(count(*) AS BIGINT) FROM d1),
           (SELECT CAST(count(*) AS BIGINT) FROM s1)
    UNION ALL
    SELECT '2_near', (SELECT CAST(count(*) AS BIGINT) FROM d2),
           (SELECT CAST(count(*) AS BIGINT) FROM s2)
    UNION ALL
    SELECT '3_semantic', (SELECT CAST(count(*) AS BIGINT) FROM d3),
           (SELECT CAST(count(*) AS BIGINT) FROM s3)
    ORDER BY tier
"""


@register("dedup_cascade_report", oracle=_cascade_oracle_sql())
def dedup_cascade_report(spark, sf_dir):
    """The production dedup CASCADE as one query — cheap-to-expensive
    tiers in the order a corpus pipeline runs them, each over the
    previous tier's survivors: (1) exact content-hash keep-first,
    (2) MinHash-LSH near-dup pairs (exact-jaccard-verified, the
    dedup_near_minhash machinery), (3) SemDeDup embedding-space pairs
    within kmeans clusters (the dedup_semantic_cluster machinery,
    doc_id ≡ vec_id per FIXTURES.md). Drop rule per tier is
    keep-first over the tier's input: a doc drops iff a LOWER-id
    partner exists with both endpoints surviving the prior tiers —
    so later (expensive) tiers never rescan what cheaper tiers
    already removed, which is the entire economics of cascaded dedup
    at 100 TB. Report: per tier, docs dropped and docs remaining.
    Every tier is engine-exact (portable minhash, integer Lloyd,
    anchored cosine), so the whole funnel value-hashes.

    Scale: tier costs are the constituent ops' (bucketed LSH, bounded
    cluster-local pair search); survivor filtering is two semi-joins
    per tier on the doc-id spine."""
    report, cached = _cascade_build(spark, sf_dir)
    # materialize the 4-row report eagerly, then release every cached
    # frame — the previous form leaked all five persists to the
    # ContextCleaner (ADVICE r5)
    report = report.localCheckpoint(eager=True)
    for f in cached:
        f.unpersist()
    return report.orderBy("tier")


def _cascade_build(spark, sf_dir):
    """Lazy cascade report + the frames it persists. Factored so the
    plan-pin suite can assert on the PRE-checkpoint plan (the
    registered op returns a localCheckpoint, whose plan is just the
    checkpoint scan)."""
    from .similarity import semantic_close_pairs

    # ONE scan + tokenize feeds BOTH cheap tiers: tier 1 reads the
    # sha256 column, tier 2 the shingle arrays — previously each tier
    # re-read and re-tokenized documents (round-5 perf watch item,
    # 9.6 s → see BASELINE.md round-6 notes)
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    base = (
        d.repartition(32, "doc_id")
        .select(
            "doc_id",
            F.sha2("text", 256).alias("h"),
            _shingle_array(_tokens()).alias("sh"),
        )
        .persist()
    )
    s0 = base.select("doc_id")
    ex_a = base.select(F.col("doc_id").alias("pa"), "h")
    ex_b = base.select(F.col("doc_id").alias("pb"), "h")
    # every drop set feeds BOTH the survivor anti-join and its report
    # row — persist each so tier machinery (LSH chain, Lloyd loop)
    # runs once, not twice
    d1 = (
        ex_a.join(ex_b, "h")
        .filter(F.col("pa") < F.col("pb"))
        .select(F.col("pb").alias("doc_id"))
        .distinct()
        .persist()
    )
    s1 = s0.join(d1, "doc_id", "left_anti").persist()
    near = _minhash_pairs(base.select("doc_id", "sh")).select("doc_a", "doc_b")
    d2 = (
        near.join(s1.withColumnsRenamed({"doc_id": "doc_a"}), "doc_a")
        .join(s1.withColumnsRenamed({"doc_id": "doc_b"}), "doc_b")
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .persist()
    )
    s2 = s1.join(d2, "doc_id", "left_anti").persist()
    sem = semantic_close_pairs(spark, sf_dir)
    d3 = (
        sem.join(s2.withColumnsRenamed({"doc_id": "vec_a"}), "vec_a")
        .join(s2.withColumnsRenamed({"doc_id": "vec_b"}), "vec_b")
        .select(F.col("vec_b").alias("doc_id"))
        .distinct()
        .persist()
    )
    s3 = s2.join(d3, "doc_id", "left_anti")

    def row(tier, drops, surv):
        return (
            drops.agg(F.count(F.lit(1)).alias("n_dropped"))
            .crossJoin(surv.agg(F.count(F.lit(1)).alias("n_remaining")))
            .select(F.lit(tier).alias("tier"), "n_dropped", "n_remaining")
        )

    empty = s0.limit(0)
    report = (
        row("0_input", empty, s0)
        .unionByName(row("1_exact", d1, s1))
        .unionByName(row("2_near", d2, s2))
        .unionByName(row("3_semantic", d3, s3))
    )
    return report, (base, d1, s1, d2, s2, d3)


def _lsh_band_rows(doc_sh):
    """(doc_id, band, band_key) LSH band rows from (doc_id, sh-array)
    rows — the exact dedup_near_minhash banding (16 portable minhashes,
    8 bands of 2), factored so the batch path and the persisted index
    share one spelling."""
    sh = doc_sh.select("doc_id", F.explode("sh").alias("shingle")).withColumn(
        "hb", _mh_base()
    )
    mh = sh.groupBy("doc_id").agg(*_mh_sig_aggs())
    return mh.select(
        "doc_id", F.explode(F.array(*_mh_band_structs())).alias("bk")
    ).select("doc_id", "bk.band", "bk.band_key")


def _lsh_bucket_pairs(ids_df):
    """(doc_a < doc_b) pairs emitted inside each bucket's sorted id
    array (the grouped-inverted-index idiom shared with
    dedup_near_minhash)."""
    return (
        ids_df.filter(F.size("ids") >= 2)
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        "ids",
                        lambda x, i: F.transform(
                            F.slice("ids", i + 2, F.size("ids")),
                            lambda y: F.struct(
                                x.alias("doc_a"), y.alias("doc_b")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
    )




def _lsh_verify_first_partner(cands, partner_sh, probe_sh):
    """Exact-jaccard verification of LSH candidate pairs + reduction
    to each probe doc's FIRST (lowest-id) verified partner — shared by
    the incremental-dedup core and the index-compaction probe.
    ``cands``: (doc_a = partner side, doc_b = probe side);
    ``partner_sh``/``probe_sh``: (doc_id, sh) shingle arrays."""
    sa = partner_sh.select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha")
    )
    sb = probe_sh.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb")
    )
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    verified = (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sha", "shb")).alias("n_common"),
            F.size("sha").alias("na"),
            F.size("shb").alias("nb"),
        )
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    w = Window.partitionBy("doc_b").orderBy("doc_a")
    return (
        verified.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("doc_b").alias("doc_id"),
            F.col("doc_a").alias("dup_of"),
            F.col("jaccard").alias("jaccard_first"),
        )
    )






def _inc_cascade_oracle_sql():
    """Sequential 3-batch × 3-tier funnel restated CTE by CTE: per
    batch, tier drops may cite a partner in the accumulated SURVIVOR
    set or an eligible within-batch partner (tier-1: any lower-id
    batch member; tiers 2-3: a tier-survivor), exactly the membership
    conditions the engine's survivor-indexed joins realize. Pair
    sources are the proven portable ones: sha equality, MINHASH_SQL's
    verified pairs, and the frozen-centroid semantic pairs shared with
    dedup_incremental_semantic."""
    from .similarity import frozen_sem_pair_ctes

    parts = [
        "WITH m AS (SELECT max(doc_id) AS mx FROM documents)",
        frozen_sem_pair_ctes(),
        f"near AS MATERIALIZED ({MINHASH_SQL})",
        """ids AS MATERIALIZED (
        SELECT d.doc_id, sha256(d.text) AS h,
               ({N_INC_BATCHES} * d.doc_id) // (m.mx + 1) AS batch
        FROM documents d, m)""".format(N_INC_BATCHES=N_INC_BATCHES),
    ]
    for b in range(N_INC_BATCHES):
        sv = f"s{b - 1}"
        d1_cross = (
            f"""
      UNION
        SELECT x.doc_id FROM b{b} x
        JOIN ids i ON i.h = x.h
        JOIN {sv} s ON s.doc_id = i.doc_id"""
            if b > 0
            else ""
        )
        or_surv2 = (
            f" OR n.doc_a IN (SELECT doc_id FROM {sv})" if b > 0 else ""
        )
        or_surv3 = (
            f" OR p.vec_a IN (SELECT doc_id FROM {sv})" if b > 0 else ""
        )
        acc = (
            f" UNION SELECT doc_id FROM {sv}" if b > 0 else ""
        )
        parts.append(f"""b{b} AS MATERIALIZED (
        SELECT doc_id, h FROM ids WHERE batch = {b})""")
        parts.append(f"""d1_{b} AS MATERIALIZED (
        SELECT DISTINCT x.doc_id FROM b{b} x
        JOIN b{b} a ON a.h = x.h AND a.doc_id < x.doc_id{d1_cross})""")
        parts.append(f"""t1_{b} AS MATERIALIZED (
        SELECT doc_id FROM b{b} EXCEPT SELECT doc_id FROM d1_{b})""")
        parts.append(f"""d2_{b} AS MATERIALIZED (
        SELECT DISTINCT n.doc_b AS doc_id FROM near n
        JOIN t1_{b} y ON y.doc_id = n.doc_b
        WHERE n.doc_a IN (SELECT doc_id FROM t1_{b}){or_surv2})""")
        parts.append(f"""t2_{b} AS MATERIALIZED (
        SELECT doc_id FROM t1_{b} EXCEPT SELECT doc_id FROM d2_{b})""")
        parts.append(f"""d3_{b} AS MATERIALIZED (
        SELECT DISTINCT p.vec_b AS doc_id FROM sem p
        JOIN t2_{b} y ON y.doc_id = p.vec_b
        WHERE p.vec_a IN (SELECT doc_id FROM t2_{b}){or_surv3})""")
        parts.append(f"""t3_{b} AS MATERIALIZED (
        SELECT doc_id FROM t2_{b} EXCEPT SELECT doc_id FROM d3_{b})""")
        parts.append(f"""s{b} AS MATERIALIZED (
        SELECT doc_id FROM t3_{b}{acc})""")
    rows = []
    for b in range(N_INC_BATCHES):
        rows.append(
            f"SELECT CAST({b} AS BIGINT) AS batch_id, '0_input' AS tier,"
            f" CAST(0 AS BIGINT) AS n_dropped,"
            f" (SELECT CAST(count(*) AS BIGINT) FROM b{b}) AS n_remaining"
        )
        for t, name in ((1, "1_exact"), (2, "2_near"), (3, "3_semantic")):
            rows.append(
                f"SELECT CAST({b} AS BIGINT), '{name}',"
                f" (SELECT CAST(count(*) AS BIGINT) FROM d{t}_{b}),"
                f" (SELECT CAST(count(*) AS BIGINT) FROM t{t}_{b})"
            )
    return (
        ",\n    ".join(parts)
        + "\n    "
        + "\n    UNION ALL ".join(rows)
        + "\n    ORDER BY batch_id, tier"
    )


@register("dedup_incremental_cascade", oracle=_inc_cascade_oracle_sql())
def dedup_incremental_cascade(spark, sf_dir):
    """The INCREMENTAL dedup cascade — the composed production
    pipeline: each ingest batch runs the cheap-to-expensive funnel
    (exact sha → verified MinHash-LSH → frozen-centroid SemDeDup)
    against the ACCUMULATED SURVIVOR set, and only its own tier
    survivors; batch survivors then join the index. This is the
    composition of the three per-tier incremental ops
    (dedup_incremental_snapshot / _lsh / _semantic) with the batch
    cascade's funnel economics (dedup_cascade_report): a doc dropped
    by a cheap tier never reaches an expensive one, and a doc dropped
    in an earlier batch never re-enters any comparison.

    Mechanically the funnel is id-set algebra over the three pair
    sources, each computed once from shared scans (one tokenize+sha
    pass, one frozen-centroid assignment): membership-filtering the
    global verified pair sets per batch/tier is provably identical to
    the per-batch index joins the _lsh/_semantic ops perform —
    candidates surface iff the lower endpoint is an accumulated
    survivor or an eligible within-batch partner — and those ops pin
    the index/generation protocol itself. Report: per (batch, tier),
    docs dropped and remaining; 12 rows, fully value-hashed by a
    sequential 3×3 CTE oracle.

    Note the funnel is NOT order-independent (a batch-0 doc dropped
    by the semantic tier no longer shields a batch-1 doc with its
    sha), which is exactly why the oracle restates the sequence
    rather than the union — incremental cascade ≡ sequential batch
    cascades, not ≡ one global cascade.

    Cost profile (sf0.1 local, warm ~9 s): ≈ the sum of its parts —
    one tokenize+sha scan (~1.5 s), the verified-LSH pair machinery
    (~2.5 s), frozen-centroid semantic pairs (~2 s), plus ~10 eager
    checkpoints for the compounding survivor sets. A composite
    audit-class query (the dedup_cascade_report /
    sim_recall_report family): each tier is the bucketed op, nothing
    here is all-pairs or corpus-rescanning."""
    from .similarity import frozen_semantic_pairs

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    mx = d.agg(F.max("doc_id")).collect()[0][0]
    base = (
        d.repartition(32, "doc_id")
        .select(
            "doc_id",
            F.sha2("text", 256).alias("h"),
            _shingle_array(_tokens()).alias("sh"),
        )
        .persist()
    )
    # every intermediate id-set below is an EAGER localCheckpoint, not
    # a lazy persist: the 12-row report over a 3-batch chained funnel
    # otherwise replicates the pair-set subtrees into each union
    # branch and the planned tree blows the driver heap (observed
    # OOM); checkpointing truncates lineage so each tier plans against
    # materialized id sets. The frames are tiny (id lists, pair
    # lists), so the materialization cost is noise.
    near = (
        _minhash_pairs(base.select("doc_id", "sh"))
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    sem = frozen_semantic_pairs(spark, sf_dir).localCheckpoint(eager=True)
    batch_col = doc_batch_of(mx)

    def drops(pairs, a_col, b_col, tier_surv, surv):
        """b-side rows of `pairs` whose b endpoint is a tier survivor
        and whose a endpoint is an accumulated survivor or a tier
        survivor."""
        hits = pairs.join(
            tier_surv.withColumnRenamed("doc_id", b_col), b_col
        )
        own = hits.join(
            tier_surv.withColumnRenamed("doc_id", a_col), a_col, "left_semi"
        )
        if surv is not None:
            ext = hits.join(
                surv.withColumnRenamed("doc_id", a_col), a_col, "left_semi"
            )
            own = own.unionByName(ext)
        return own.select(F.col(b_col).alias("doc_id")).distinct()

    surv = None
    row_frames = []
    ck = lambda df: df.localCheckpoint(eager=True)  # noqa: E731
    for b in range(N_INC_BATCHES):
        # only the tier-SURVIVOR sets are checkpointed: they compound
        # across tiers and batches (t3 feeds surv feeds three later
        # tiers), so left lazy their lineage re-replicates the whole
        # funnel into every report branch. Bb and the drop sets plan
        # shallowly over checkpointed/persisted inputs and are cheaper
        # to recompute than to checkpoint (each saved job ~0.25 s,
        # measured 9.6 -> ~6 s at sf0.1).
        Bb = base.select("doc_id", "h").filter(batch_col == b)
        win = (
            Bb.alias("x")
            .join(Bb.alias("a"), "h")
            .filter(F.col("a.doc_id") < F.col("x.doc_id"))
            .select(F.col("x.doc_id").alias("doc_id"))
        )
        if surv is not None:
            surv_h = surv.join(base.select("doc_id", "h"), "doc_id").select("h")
            cross = Bb.join(surv_h, "h", "left_semi").select("doc_id")
            d1 = win.unionByName(cross).distinct()
        else:
            d1 = win.distinct()
        t1 = ck(Bb.select("doc_id").join(d1, "doc_id", "left_anti"))
        d2 = drops(near, "doc_a", "doc_b", t1, surv)
        t2 = ck(t1.join(d2, "doc_id", "left_anti"))
        d3 = drops(sem, "vec_a", "vec_b", t2, surv)
        t3 = ck(t2.join(d3, "doc_id", "left_anti"))

        def row(tier, dframe, sframe, b=b):
            return (
                dframe.agg(F.count(F.lit(1)).alias("n_dropped"))
                .crossJoin(
                    sframe.agg(F.count(F.lit(1)).alias("n_remaining"))
                )
                .select(
                    F.lit(b).cast("long").alias("batch_id"),
                    F.lit(tier).alias("tier"),
                    "n_dropped",
                    "n_remaining",
                )
            )

        empty = Bb.select("doc_id").limit(0)
        row_frames += [
            row("0_input", empty, Bb),
            row("1_exact", d1, t1),
            row("2_near", d2, t2),
            row("3_semantic", d3, t3),
        ]
        surv = t3 if surv is None else ck(surv.unionByName(t3))

    report = row_frames[0]
    for r in row_frames[1:]:
        report = report.unionByName(r)
    report = report.localCheckpoint(eager=True)
    base.unpersist()
    return report.orderBy("batch_id", "tier")


COMPACT_FILES = 4  # target file count for the compacted index


@register(
    "dedup_index_compact",
    oracle=f"""
        WITH near AS MATERIALIZED ({MINHASH_SQL}),
        m AS (SELECT max(doc_id) AS mx FROM documents),
        probe AS (
          SELECT doc_id FROM documents, m
          WHERE ({N_INC_BATCHES} * doc_id) // (m.mx + 1)
                = {N_INC_BATCHES - 1}),
        sym AS (
          SELECT doc_b AS x, doc_a AS partner, jaccard FROM near
          UNION ALL
          SELECT doc_a AS x, doc_b AS partner, jaccard FROM near
          UNION ALL
          SELECT doc_id AS x, doc_id AS partner,
                 CAST(1.0 AS DOUBLE) AS jaccard
          FROM documents),
        ranked AS (
          SELECT p.doc_id, s.partner, s.jaccard,
                 row_number() OVER (PARTITION BY p.doc_id
                                    ORDER BY s.partner) AS rn
          FROM probe p JOIN sym s ON s.x = p.doc_id)
        SELECT doc_id, partner AS dup_of, jaccard AS jaccard_first
        FROM ranked WHERE rn = 1
    """,
)
def dedup_index_compact(spark, sf_dir):
    """LSH band-index GENERATION COMPACTION with an equivalence proof
    (round-6 verdict ask #5): the incremental dedup's index grows one
    ``bands/gen=N`` + ``shingles/gen=N`` directory pair per ingest
    forever; this maintenance op rewrites all generations into ONE
    compacted layout and proves the index still answers identically.

    Three steps, each the production shape:
      1. build the generation index (the same slice-per-increment
         writes `_inc_lsh_dedupe_batch` performs — 3 generations of
         writer slivers);
      2. compact in one distributed pass, REPARTITIONED ON THE PROBE
         KEY: bands land hashed by (band, band_key), shingles by
         doc_id — the compacted index is not just fewer files, it is
         bucket-shaped so future increments' candidate joins need no
         index-side shuffle (the 100 TB refinement the incremental
         op's docstring names). File-count shrink is asserted in-op
         and magnitude-checked in tests/test_plans.py.
      3. probe BOTH indexes with the last increment's docs re-presented
         as an arriving batch, through the exact shared
         candidate→verify→first-partner machinery
         (`_lsh_verify_first_partner`); any row differing between the
         multi-generation and compacted answers raises.

    The oracle restates the probe closed-form: each probe doc's lowest
    verified partner across the whole corpus — the symmetrized MINHASH
    pair relation plus the self-pair (a re-presented doc always finds
    itself at jaccard 1.0), which is exactly what "the index already
    contains the corpus" means. Equivalence pre/post compaction is
    enforced in-op, so the single value hash covers both paths."""
    from ..registry import scratch_dir
    from .dedup_stream import _inc_lsh_prepare

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    mx = d.agg(F.max("doc_id")).collect()[0][0]
    base = scratch_dir("dedup_index_compact")
    doc_sh_all, bands_all = _inc_lsh_prepare(d)
    try:
        return _index_compact_body(spark, base, mx, doc_sh_all, bands_all)
    finally:
        # unpersist on BOTH paths: a file-shrink or probe-equivalence
        # AssertionError must not leak the corpus-wide caches for the
        # session (ADVICE r7)
        bands_all.unpersist()
        doc_sh_all.unpersist()


def _index_compact_body(spark, base, mx, doc_sh_all, bands_all):
    for b in range(N_INC_BATCHES):
        sel = doc_batch_of(mx) == b
        bands_all.filter(sel).write.mode("overwrite").parquet(
            f"{base}/bands/gen={b}"
        )
        doc_sh_all.filter(sel).select("doc_id", "sh").write.mode(
            "overwrite"
        ).parquet(f"{base}/shingles/gen={b}")
    gens_b = gen_paths(f"{base}/bands", N_INC_BATCHES)
    gens_s = gen_paths(f"{base}/shingles", N_INC_BATCHES)

    def write():
        for fam, gens, key in (
            ("bands", gens_b, ("band", "band_key")),
            ("shingles", gens_s, ("doc_id",)),
        ):
            (
                spark.read.option("basePath", f"{base}/{fam}")
                .parquet(*gens)
                .drop("gen")
                .repartition(COMPACT_FILES, *key)
                .write.mode("overwrite")
                .parquet(twin(f"{base}/{fam}", "compacted"))
            )

    fold(f"{base}/bands", N_INC_BATCHES - 1, write)

    sel = doc_batch_of(mx) == N_INC_BATCHES - 1
    probe_sh = doc_sh_all.filter(sel)
    probe_bands = bands_all.filter(sel)

    def probe(idx_bands, idx_sh):
        cands = (
            idx_bands.select(
                F.col("doc_id").alias("doc_a"), "band", "band_key"
            )
            .join(
                probe_bands.select(
                    F.col("doc_id").alias("doc_b"), "band", "band_key"
                ),
                ["band", "band_key"],
            )
            .select("doc_a", "doc_b")
            .distinct()
        )
        return _lsh_verify_first_partner(cands, idx_sh, probe_sh)

    pre = probe(
        spark.read.option("basePath", f"{base}/bands")
        .parquet(*gens_b)
        .drop("gen"),
        spark.read.option("basePath", f"{base}/shingles")
        .parquet(*gens_s)
        .drop("gen"),
    ).localCheckpoint(eager=True)
    post = probe(
        spark.read.parquet(twin(f"{base}/bands", "compacted")),
        spark.read.parquet(twin(f"{base}/shingles", "compacted")),
    ).localCheckpoint(eager=True)
    diff = pre.exceptAll(post).unionByName(post.exceptAll(pre))
    if diff.limit(1).count() > 0:
        raise AssertionError(
            "probe answers diverge between generation and compacted index"
        )
    return post


LSH_BUCKET_CAP = 2  # stop-bucket bound (production uses ~500; the
# fixture's largest bucket has 3 members, so 2 exercises the guard)


def _capped_minhash_sql():
    """MINHASH_SQL with the stop-bucket guard spliced into the
    candidate CTE: buckets larger than LSH_BUCKET_CAP are excluded
    before pair emission."""
    capped = f"""bsz AS (SELECT band, band_key FROM bands
                 GROUP BY 1, 2 HAVING count(*) <= {LSH_BUCKET_CAP}),
    cb AS (SELECT bands.* FROM bands JOIN bsz USING (band, band_key)),
    cand AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM cb a JOIN cb b"""
    old = """cand AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b"""
    assert old in MINHASH_SQL
    return MINHASH_SQL.replace(old, capped)


@register("dedup_near_minhash_capped", oracle=_capped_minhash_sql())
def dedup_near_minhash_capped(spark, sf_dir):
    """MinHash-LSH with the STOP-BUCKET guard every production dedup
    runs: buckets larger than a cap are dropped BEFORE pair emission.
    The economics at 100 TB: one boilerplate shingle signature shared
    by a million documents makes one bucket, and pair emission inside
    it is C(1M, 2) ≈ 5·10¹¹ rows — a single hot bucket can exceed the
    rest of the job combined, and its pairs are the least informative
    (template boilerplate, not real near-dups). The cap bounds
    per-bucket work to C(cap, 2) at a measured, documented recall
    cost: any pair co-occurring ONLY in over-cap buckets is lost
    (pairs surviving in any smaller band bucket are kept — the
    multi-band redundancy is exactly why capping is cheap on real
    near-dups). Output ⊆ dedup_near_minhash is property-tested; the
    fixture's cap=2 drops its nine 3-member buckets so the guard is
    exercised, not vacuous.

    Same plan shape as dedup_near_minhash plus one combinable
    bucket-size aggregate — nothing new shuffles."""
    d = table(spark, sf_dir, "documents")
    doc_sh = d.repartition(32, "doc_id").select(
        "doc_id", _shingle_array(_tokens()).alias("sh")
    )
    return _minhash_pairs(doc_sh, bucket_cap=LSH_BUCKET_CAP)


# ---- capped-LSH recall audit at skew (round-7 verdict item 8) ----
# The cap's economics, MEASURED instead of asserted: a deterministic
# cohort of docs is overwritten with one fixed boilerplate string, so
# all of them share one minhash signature and form a megabucket in
# EVERY band — the 100 TB failure mode (template boilerplate making
# C(1M,2) candidate pairs) reproduced in miniature and closed-form.
SKEW_MOD, SKEW_RES = 5, 3  # doc_id % 5 == 3 → boilerplate cohort
SKEW_BOILER = (
    "subscribe to our newsletter for the latest updates"
    " and exclusive offers today"
)
LSH_AUDIT_CAP = 8  # drops the injected megabucket (cohort >> 8) while
# keeping every natural fixture bucket (largest has 3 members)


def _capped_recall_audit_sql():
    """One-row audit restated end to end: skewed corpus → shared
    minhash CTEs → uncapped vs ≤-cap candidate sets → verified pair
    sets → lost pairs split boiler/real. Every number the engine
    reports is recomputed by DuckDB from doc_id arithmetic."""
    old = (
        "WITH t AS (SELECT doc_id, string_split(text, ' ')"
        " AS toks FROM documents),"
    )
    new = f"""WITH skew AS (
        SELECT doc_id,
               CASE WHEN doc_id % {SKEW_MOD} = {SKEW_RES}
                    THEN '{SKEW_BOILER}' ELSE text END AS text
        FROM documents),
    t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM skew),"""
    assert old in _MH_COMMON_CTES
    ctes = _MH_COMMON_CTES.replace(old, new)
    return f"""{ctes},
    bsz AS (SELECT band, band_key, count(*) AS n
            FROM bands GROUP BY band, band_key),
    cand_c AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
        JOIN bsz s ON s.band = a.band AND s.band_key = a.band_key
        WHERE s.n <= {LSH_AUDIT_CAP}),
    common_u AS (SELECT c.doc_a, c.doc_b, count(*) AS n_common
                 FROM cand c
                 JOIN sh x ON x.doc_id = c.doc_a
                 JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
                 GROUP BY 1, 2),
    pairs_u AS MATERIALIZED (
        SELECT doc_a, doc_b FROM common_u
        JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
        WHERE n_common / (sa.n + sb.n - n_common) >= {JACCARD_THRESHOLD}),
    common_c AS (SELECT c.doc_a, c.doc_b, count(*) AS n_common
                 FROM cand_c c
                 JOIN sh x ON x.doc_id = c.doc_a
                 JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
                 GROUP BY 1, 2),
    pairs_c AS MATERIALIZED (
        SELECT doc_a, doc_b FROM common_c
        JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
        WHERE n_common / (sa.n + sb.n - n_common) >= {JACCARD_THRESHOLD}),
    lost AS (SELECT u.doc_a, u.doc_b FROM pairs_u u
             LEFT JOIN pairs_c c
               ON u.doc_a = c.doc_a AND u.doc_b = c.doc_b
             WHERE c.doc_a IS NULL)
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
      (SELECT CAST(count(*) AS BIGINT) FROM documents
        WHERE doc_id % {SKEW_MOD} = {SKEW_RES}) AS n_boiler,
      (SELECT CAST(max(n) AS BIGINT) FROM bsz) AS max_bucket,
      (SELECT CAST(count(*) AS BIGINT) FROM bsz
        WHERE n > {LSH_AUDIT_CAP}) AS n_buckets_over_cap,
      (SELECT CAST(count(*) AS BIGINT) FROM cand) AS cand_uncapped,
      (SELECT CAST(count(*) AS BIGINT) FROM cand_c) AS cand_capped,
      (SELECT CAST(count(*) AS BIGINT) FROM pairs_u) AS pairs_uncapped,
      (SELECT CAST(count(*) AS BIGINT) FROM pairs_c) AS pairs_capped,
      (SELECT CAST(count(*) AS BIGINT) FROM lost) AS pairs_lost,
      (SELECT CAST(count(*) AS BIGINT) FROM lost
        WHERE doc_a % {SKEW_MOD} = {SKEW_RES}
          AND doc_b % {SKEW_MOD} = {SKEW_RES}) AS lost_boiler_pairs,
      (SELECT CAST(count(*) AS BIGINT) FROM lost
        WHERE doc_a % {SKEW_MOD} != {SKEW_RES}
           OR doc_b % {SKEW_MOD} != {SKEW_RES}) AS lost_real_pairs,
      CAST(CASE WHEN (SELECT count(*) FROM pairs_u) = 0 THEN 10000
           ELSE (10000 * (SELECT count(*) FROM pairs_c))
                // (SELECT count(*) FROM pairs_u) END
           AS BIGINT) AS retained_bp
"""


@register("dedup_capped_recall_audit", oracle=_capped_recall_audit_sql())
def dedup_capped_recall_audit(spark, sf_dir):
    """The stop-bucket cap's recall/cost trade-off MEASURED at skew
    (round-7 verdict item 8) — the same discipline
    sim_index_drift_report set for ANN staleness. A synthetic
    boilerplate megabucket is injected (docs with
    doc_id % {SKEW_MOD} == {SKEW_RES} overwritten by one fixed
    template string, so the whole cohort shares one signature and
    floods all {N_BANDS} bands), then the LSH pipeline runs UNCAPPED
    and CAPPED at {LSH_AUDIT_CAP} over the same cached shingle frame,
    and the one-row report value-hashes the economics:

    - ``cand_uncapped`` vs ``cand_capped`` — the candidate-pair work
      the cap deletes (the megabucket alone contributes
      C(cohort, 2) × nothing-saved-by-distinct, since every band
      yields the SAME pair set for identical docs);
    - ``pairs_lost`` split into ``lost_boiler_pairs`` (both endpoints
      in the injected cohort — template noise, the pairs production
      WANTS dropped) and ``lost_real_pairs`` (any genuine near-dup
      casualty: a real pair is lost only if EVERY bucket it co-occurs
      in is over-cap, which the multi-band redundancy makes rare —
      the fixture measures it at 0);
    - ``retained_bp`` — basis points of verified pairs surviving.

    Scale shape: two passes over one persisted grouped index (the
    capped side is a filter on it), one combinable bucket-size
    aggregate, and 1-row broadcast crossJoins for the report — the
    audit costs what the uncapped job costs, which is exactly the
    point: you run it on a SAMPLE to pick the production cap, then
    never pay the uncapped side again."""
    d = table(spark, sf_dir, "documents")
    skew = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % SKEW_MOD == SKEW_RES, F.lit(SKEW_BOILER)
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    doc_sh = (
        skew.repartition(32, "doc_id")
        .select("doc_id", _shingle_array(_tokens()).alias("sh"))
        .persist()
    )
    grouped = (
        _lsh_band_rows(doc_sh)
        .groupBy("band", "band_key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .persist()
    )
    try:
        bstats = grouped.agg(
            F.max(F.size("ids")).cast("long").alias("max_bucket"),
            F.sum((F.size("ids") > LSH_AUDIT_CAP).cast("long")).alias(
                "n_buckets_over_cap"
            ),
        )
        cand_u = _lsh_bucket_pairs(grouped).distinct().persist()
        cand_c = (
            _lsh_bucket_pairs(grouped.filter(F.size("ids") <= LSH_AUDIT_CAP))
            .distinct()
            .persist()
        )
        try:
            pairs_u = (
                _jaccard_verify(cand_u, doc_sh)
                .select("doc_a", "doc_b")
                .persist()
            )
            pairs_c = (
                _jaccard_verify(cand_c, doc_sh)
                .select("doc_a", "doc_b")
                .persist()
            )
            try:
                boiler = (
                    (F.col("doc_a") % SKEW_MOD == SKEW_RES)
                    & (F.col("doc_b") % SKEW_MOD == SKEW_RES)
                ).cast("long")
                lost = pairs_u.join(
                    pairs_c, ["doc_a", "doc_b"], "left_anti"
                ).agg(
                    F.count(F.lit(1)).alias("pairs_lost"),
                    F.coalesce(F.sum(boiler), F.lit(0)).alias(
                        "lost_boiler_pairs"
                    ),
                    F.coalesce(F.sum(1 - boiler), F.lit(0)).alias(
                        "lost_real_pairs"
                    ),
                )
                report = (
                    d.agg(F.count(F.lit(1)).alias("n_docs"))
                    .crossJoin(
                        F.broadcast(
                            d.filter(
                                F.col("doc_id") % SKEW_MOD == SKEW_RES
                            ).agg(F.count(F.lit(1)).alias("n_boiler"))
                        )
                    )
                    .crossJoin(F.broadcast(bstats))
                    .crossJoin(
                        F.broadcast(
                            cand_u.agg(
                                F.count(F.lit(1)).alias("cand_uncapped")
                            )
                        )
                    )
                    .crossJoin(
                        F.broadcast(
                            cand_c.agg(
                                F.count(F.lit(1)).alias("cand_capped")
                            )
                        )
                    )
                    .crossJoin(
                        F.broadcast(
                            pairs_u.agg(
                                F.count(F.lit(1)).alias("pairs_uncapped")
                            )
                        )
                    )
                    .crossJoin(
                        F.broadcast(
                            pairs_c.agg(
                                F.count(F.lit(1)).alias("pairs_capped")
                            )
                        )
                    )
                    .crossJoin(F.broadcast(lost))
                    .withColumn(
                        # degenerate-corpus guard: zero uncapped verified
                        # pairs means nothing could be lost -> 10000 bp
                        "retained_bp",
                        F.expr(
                            "CASE WHEN pairs_uncapped = 0 THEN CAST(10000 AS BIGINT)"
                            " ELSE (10000 * pairs_capped) div pairs_uncapped END"
                        ),
                    )
                    .select(
                        "n_docs",
                        "n_boiler",
                        "max_bucket",
                        "n_buckets_over_cap",
                        "cand_uncapped",
                        "cand_capped",
                        "pairs_uncapped",
                        "pairs_capped",
                        "pairs_lost",
                        "lost_boiler_pairs",
                        "lost_real_pairs",
                        "retained_bp",
                    )
                )
                return report.localCheckpoint(eager=True)
            finally:
                pairs_u.unpersist()
                pairs_c.unpersist()
        finally:
            cand_u.unpersist()
            cand_c.unpersist()
    finally:
        grouped.unpersist()
        doc_sh.unpersist()


