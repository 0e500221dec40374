"""2.J text-analysis operators for LLM data pipelines: wordcount,
TF-IDF, n-grams, per-source stats, quality scoring, BPE-ish token
counting, language-ID, document fingerprinting.

Everything is Catalyst expressions (explode/groupBy/window/HOFs) — no
Python on the data path. ln() results are rounded to 6 dp on both
sides (libm vs JVM ulp), integer/integer divisions are exact.
"""

from __future__ import annotations

import math

import pandas as pd  # noqa: F401 — resolved by pandas_udf type-hint inspection

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..registry import register, scratch_dir, table


def _tokens():
    return F.split("text", " ")


def _md5_bucket():
    """First two md5 hex chars of doc_id — the ONE train/test split key
    (< TRAIN_HEX_CUT => train, ~80%) shared by every op documented as
    using 'the md5 80% split'; keeping a single definition prevents the
    split from silently desynchronizing across ops (review finding)."""
    return F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)


@register(
    "text_wordcount",
    oracle="""
        SELECT token, count(*) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY token
    """,
)
def text_wordcount(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(_tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "text_tfidf",
    oracle="""
        WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        n AS (SELECT count(*) AS n_docs FROM documents)
        SELECT doc_id, term,
               round(tf * ln((n_docs + 1.0) / (df + 1.0)), 6) AS tfidf
        FROM tf JOIN df USING (term), n
    """,
)
def text_tfidf(spark, sf_dir):
    """TF-IDF per (doc, term): two aggregations + a broadcast join with
    the corpus size — no collect() anywhere."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_tokens()).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
    return (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "term", F.round(F.col("tf") * idf, 6).alias("tfidf"))
    )


@register(
    "text_ngrams",
    oracle="""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        bg AS (SELECT toks[i] || ' ' || toks[i+1] AS bigram
               FROM t, unnest(range(1, len(toks))) r(i))
        SELECT bigram, count(*) AS n FROM bg GROUP BY bigram
    """,
)
def text_ngrams(spark, sf_dir):
    """Bigram counts; the array-index construction keeps doc boundaries
    (no lead() across documents)."""
    d = table(spark, sf_dir, "documents")
    toks = _tokens()
    # zip the token array against its offset-1 self (two slices) instead
    # of element_at-indexing inside a transform: Catalyst inlines `toks`
    # at each use, so the indexed form re-splits the text per bigram
    # (see dedup._shingle_array). greatest(size-1, 0) guards 1-token
    # docs (empty slice → no bigrams).
    n = F.greatest(F.size(toks) - 1, F.lit(0))
    zipped = F.arrays_zip(F.slice(toks, 1, n), F.slice(toks, 2, n))
    bigrams = F.transform(
        zipped, lambda s: F.concat_ws(" ", s["0"], s["1"])
    )
    return (
        d.repartition(32, "doc_id")
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "text_lang_stats",
    oracle="""
        SELECT lang, source, count(*) AS n_docs,
               avg(n_chars) AS avg_chars,
               min(n_chars) AS min_chars, max(n_chars) AS max_chars,
               avg(len(string_split(text, ' '))) AS avg_tokens
        FROM documents GROUP BY lang, source
    """,
)
def text_lang_stats(spark, sf_dir):
    """Per-(lang, source) stats. n_chars and token counts are integers,
    so double avgs are order-exact."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("n_chars").alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.avg(F.size(_tokens()).cast("long")).alias("avg_tokens"),
    )


STOPWORDS = ["a", "row", "value", "table"]


@register(
    "text_quality_score",
    oracle=f"""
        WITH s AS (
          SELECT doc_id, lang,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                 CAST(len(list_filter(string_split(text, ' '),
                      t -> list_contains({STOPWORDS!r}, t))) AS BIGINT) AS n_stop,
                 n_chars
          FROM documents
        )
        SELECT doc_id, lang, n_tok,
               n_stop / n_tok AS stopword_ratio,
               (n_chars - (n_tok - 1)) / n_tok AS mean_token_len,
               0.5 * least(1.0, n_tok / 50.0) + 0.5 * (1.0 - n_stop / n_tok) AS quality
        FROM s
    """,
)
def text_quality_score(spark, sf_dir):
    """Heuristic doc-quality score: length saturation + stopword ratio
    (the punctuation/casing terms are degenerate on this corpus — the
    text is lowercase with no punctuation — so they are omitted rather
    than constant columns)."""
    d = table(spark, sf_dir, "documents")
    toks = _tokens()
    n_tok = F.size(toks).cast("long")
    n_stop = F.size(
        F.filter(toks, lambda t: t.isin(STOPWORDS))
    ).cast("long")
    return d.select(
        "doc_id",
        "lang",
        n_tok.alias("n_tok"),
        (n_stop / n_tok).alias("stopword_ratio"),
        ((F.col("n_chars") - (n_tok - 1)) / n_tok).alias("mean_token_len"),
        (
            0.5 * F.least(F.lit(1.0), n_tok / 50.0)
            + 0.5 * (1.0 - n_stop / n_tok)
        ).alias("quality"),
    )


@register(
    "text_token_bpe",
    oracle=r"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|\S')) AS BIGINT)
                 AS n_bpe_tokens
        FROM documents
    """,
)
def text_token_bpe(spark, sf_dir):
    """Token counting with a BPE-ish pre-tokenizer regex (word runs,
    digit runs, stray symbols)."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(r"[a-z]+|[0-9]+|\S"), 0))
        .cast("long")
        .alias("n_bpe_tokens"),
    )


@register(
    "text_langid_ngram",
    oracle="""
        WITH tris0 AS (
          SELECT doc_id, lang, substr(text, CAST(r.i AS INTEGER), 3) AS tri
          FROM documents,
               unnest(range(1, greatest(len(text) - 2, 1) + 1)) r(i)
        ),
        tris AS (SELECT * FROM tris0 WHERE len(tri) = 3),
        prof AS (
          SELECT lang AS cand_lang, tri,
                 row_number() OVER (PARTITION BY lang
                                    ORDER BY count(*) DESC, tri) AS rn
          FROM (SELECT DISTINCT doc_id, lang, tri FROM tris
                WHERE doc_id % 20 = 0)
          GROUP BY lang, tri
        ),
        p30 AS (SELECT cand_lang, tri FROM prof WHERE rn <= 30),
        minlang AS (SELECT min(cand_lang) AS ml FROM p30),
        dtris AS (SELECT DISTINCT doc_id, tri FROM tris),
        scores AS (
          SELECT d.doc_id, p.cand_lang, count(*) AS matches
          FROM dtris d JOIN p30 p USING (tri)
          GROUP BY 1, 2
        ),
        best AS (
          SELECT doc_id, cand_lang AS predicted_lang, matches,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY matches DESC, cand_lang) AS rn
          FROM scores
        )
        SELECT d.doc_id, d.lang,
               COALESCE(b.predicted_lang, m.ml) AS predicted_lang,
               CAST(COALESCE(b.matches, 0) AS BIGINT) AS matches
        FROM documents d
        LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id), minlang m
    """,
)
def text_langid_ngram(spark, sf_dir):
    """Language-ID heuristic: per-language char-trigram profiles (top
    30 by document frequency, built from a deterministic 5% sample —
    ``doc_id % 20 = 0``) scored against each document's distinct
    trigram set; argmax with (matches desc, lang asc) tiebreaks.
    Full value-hash oracle: sampling, profile construction, and
    scoring are all deterministic and restated in DuckDB.

    Round-4 redesign (VERDICT r3 #1, third strike): the query no
    longer crosses the Python boundary AT ALL. Rounds 1-3 used an
    Arrow pandas UDF for trigram extraction because every JVM
    spelling is interpreted (higher-order functions don't codegen,
    ~2.5 s/eval at sf0.1) — locally faster, but the driver's
    260-query suite showed the shared Python-worker path degrading
    bimodally (15 s → 66 s round-over-round with flat sentinels).
    The fix restructures the work so the interpreted JVM pass is
    affordable instead of avoiding it:
      * profiles come from the 5% sample, so extraction there costs
        1/20th of a pass — and the sample predicate (`doc_id % 20`)
        is pushdown-friendly and identical in the oracle (doc_id is
        BIGINT on both sides). Top-30-by-document-frequency profiles
        are statistically insensitive to uniform sampling; the oracle
        restates the SAME sample so the value-hash stays exact.
      * scoring extracts trigrams once over the full corpus in ONE
        interpreted transform (sequence + substr, length-guarded for
        <3-char texts), then intersects with ≤30-element literal
        profile arrays — map-only, no shuffle, no materialization
        step needed (each job reads the parquet once).
    At 100 TB the profile job touches 5% of data with a
    (lang, tri)-bounded shuffle and the scoring job is a single
    map-only pass — both scale linearly with no Python workers.
    Edge-robust parity (ADVICE r2): texts < 3 chars contribute no
    trigrams on either side, and zero-match docs are emitted with
    matches=0 / predicted = min(profile lang) (the oracle's LEFT
    JOIN + COALESCE; Spark's argmax-coalesce picks the first sorted
    lang when every score is 0)."""
    d = table(spark, sf_dir, "documents")

    # One interpreted HOF pass: overlapping trigrams via
    # sequence(1, len-2) + substr inside a single transform, then
    # array_distinct. sequence(1, 0) would step BACKWARDS ([1, 0]),
    # so short texts are guarded to an empty array explicitly.
    def tris_expr():
        return F.when(
            F.length("text") >= 3,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.length("text") - 2),
                    lambda i: F.col("text").substr(i, F.lit(3)),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))

    # job 1 — per-language profiles from the 5% sample. The only
    # shuffle is keyed (lang, tri): map-side partial aggregation
    # compresses each task's explode output to |langs|×|distinct tris|
    # rows regardless of corpus size, and the top-30 result
    # (|langs|×30 rows) is driver-collectable at ANY scale.
    # tris_expr is array_distinct per doc, so the explode output is
    # already (doc_id, tri)-unique — counting rows per (lang, tri)
    # IS document frequency, no extra dedup shuffle needed.
    tris = d.filter(F.col("doc_id") % 20 == 0).select(
        "lang", F.explode(tris_expr()).alias("tri")
    )
    prof_w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("tri"))
    profile_rows = (
        tris.groupBy("lang", "tri")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rn", F.row_number().over(prof_w))
        .filter(F.col("rn") <= 30)
        .select("lang", "tri")
        .collect()
    )
    profiles: dict[str, list[str]] = {}
    for r in profile_rows:
        profiles.setdefault(r["lang"], []).append(r["tri"])
    langs = sorted(profiles)

    # job 2 — map-only scoring, fully codegen'd: the score is
    # |doc's distinct trigrams ∩ profile|, which is just MEMBERSHIP —
    # for each of the ≤30×|langs| literal profile trigrams, does the
    # text contain it? `contains` is a JVM substring search inside
    # whole-stage codegen, so the corpus-wide pass never touches an
    # interpreted higher-order function at all (extracting each doc's
    # full trigram set via transform/sequence costs ~3 s/pass at
    # sf0.1; 150 contains probes on ~300-char texts codegen to well
    # under 1 s). Identical semantics to the set intersection because
    # profile trigrams are distinct by construction.
    # Expressions are built as SQL text and shipped in ONE selectExpr:
    # ~600 py4j Column calls (the fluent spelling) cost more driver
    # time than the executors spend scoring — measured 1.7s fresh-call
    # vs 0.5s re-execution of the same plan.
    def q(s: str) -> str:
        return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

    # coalesce(text, ''): contains() propagates NULL, which would turn
    # matches/predicted_lang NULL where the oracle's LEFT JOIN +
    # COALESCE emits 0/min(lang) — the NULL-doc guard the old pandas
    # UDF had explicitly (round-4 review finding; latent on this
    # fixture, which guarantees non-null text).
    # aliases are INDEX-based (m_0, m_1, …) — lang values never enter
    # an identifier, and every lang LITERAL routes through q(), so a
    # lang code containing quotes/spaces/dashes cannot break or inject
    # into the generated SQL (ADVICE r4)
    m_exprs = [
        "("
        + " + ".join(
            f"CAST(contains(coalesce(text, ''), {q(t)}) AS INT)"
            for t in profiles[lg]
        )
        + f") AS m_{i}"
        for i, lg in enumerate(langs)
    ]
    scored = d.selectExpr("doc_id", "lang", "text", *m_exprs)
    mrefs = [f"m_{i}" for i in range(len(langs))]
    best = mrefs[0] if len(mrefs) == 1 else f"greatest({', '.join(mrefs)})"
    # argmax with asc-lang tiebreak (langs iterated sorted)
    pred = (
        "CASE "
        + " ".join(
            f"WHEN m_{i} = {best} THEN {q(lg)}" for i, lg in enumerate(langs)
        )
        + " END"
    )
    return scored.selectExpr(
        "doc_id",
        "lang",
        f"{pred} AS predicted_lang",
        f"CAST({best} AS BIGINT) AS matches",
    )


@register(
    "text_fingerprint",
    oracle="""
        SELECT doc_id,
               list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split(text, ' '),
                     t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)
                          % 2147483647)),
                 (h, t) -> (h * 1000003 + t) % 2147483647
               ) AS fingerprint
        FROM documents
    """,
)
def text_fingerprint(spark, sf_dir):
    """Order-sensitive document fingerprint: polynomial rolling hash
    over per-token digests, mod the Mersenne prime 2^31-1 (a
    distributed-friendly stand-in for winnowing/rabin fingerprints).
    Round 5 upgraded it from rows-only to fully value-hashed by
    swapping the engine-private xxhash64 token hash for a PORTABLE
    md5-prefix digest (the registry's reproducible-randomness trick),
    so DuckDB's in-order list_reduce fold restates the identical
    integer sequence.

    The modulus keeps every intermediate < 2^52, so the fold never
    overflows a long under ANSI arithmetic: h < 2^31, multiplier
    1000003 < 2^20, token term < 2^31."""
    d = table(spark, sf_dir, "documents")
    p = F.lit(2147483647).cast("long")
    tok_h = lambda t: F.pmod(
        F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"), p
    )
    fp = F.aggregate(
        F.transform(_tokens(), tok_h),
        F.lit(0).cast("long"),
        lambda h, t: F.pmod(h * F.lit(1000003) + t, p),
    )
    return d.select("doc_id", fp.alias("fingerprint"))


@register(
    "text_dedup_pipeline",
    oracle=f"""
        WITH all_docs AS (
          SELECT doc_id, text, lang, n_chars FROM documents
          UNION ALL
          SELECT doc_id + 100000, text, lang, n_chars
          FROM documents WHERE doc_id < 100
        ),
        q AS (
          SELECT *, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                 CAST(len(list_filter(string_split(text, ' '),
                      t -> list_contains({STOPWORDS!r}, t))) AS BIGINT) AS n_stop
          FROM all_docs
        ),
        f AS (
          SELECT * FROM q
          WHERE n_tok >= 5 AND n_stop / n_tok <= 0.5
        )
        SELECT min(doc_id) AS keep_id,
               min(lang) AS lang,
               min(n_tok) AS n_tok,
               count(*) AS n_copies
        FROM f GROUP BY sha256(text)
    """,
)
def text_dedup_pipeline(spark, sf_dir):
    """End-to-end training-data cleaning pipeline: quality gate (token
    count + stopword ratio) → exact dedup (keep lowest doc_id per
    content hash). One declarative chain — Catalyst fuses the gate into
    the scan and the dedup is one hash aggregation, which is the whole
    pipeline's shuffle. A copied slice is unioned in (as in
    dedup_exact) so the dedup stage is observable."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text", "lang", "n_chars")
    dupes = d.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "n_chars"
    )
    toks = _tokens()
    n_tok = F.size(toks).cast("long")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS))).cast("long")
    gated = (
        d.unionByName(dupes)
        .withColumn("n_tok", n_tok)
        .withColumn("n_stop", n_stop)
        .filter((F.col("n_tok") >= 5) & (F.col("n_stop") / F.col("n_tok") <= 0.5))
    )
    return gated.groupBy(F.sha2("text", 256).alias("h")).agg(
        F.min("doc_id").alias("keep_id"),
        F.min("lang").alias("lang"),
        F.min("n_tok").alias("n_tok"),
        F.count(F.lit(1)).alias("n_copies"),
    ).drop("h")


PACK_BUDGET = 512  # tokens per packed sequence


@register(
    "text_pack_sequences",
    oracle=f"""
        WITH t AS (
          SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
          FROM documents
        ),
        c AS (
          SELECT doc_id, n_tok,
                 sum(n_tok) OVER (ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS cum_tok
          FROM t
        )
        SELECT doc_id, n_tok,
               CAST((cum_tok - 1) // {PACK_BUDGET} AS BIGINT) AS bin_id
        FROM c
    """,
)
def text_pack_sequences(spark, sf_dir):
    """Sequence packing for LLM training prep: assign documents (in
    deterministic doc_id order) to fixed token-budget bins via a
    running-sum window — each bin holds ~BUDGET tokens of concatenated
    docs. The single unpartitioned window is the one global-order
    operator in the inventory; at 100 TB packing runs per shard
    (partitionBy(shard) added to the window) since bins never need to
    span shards."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    n_tok = F.size(_tokens()).cast("long")
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    return (
        d.select("doc_id", n_tok.alias("n_tok"))
        .withColumn("cum_tok", F.sum("n_tok").over(w))
        .select(
            "doc_id",
            "n_tok",
            ((F.col("cum_tok") - 1) / PACK_BUDGET).cast("long").alias("bin_id"),
        )
    )


@register("sample_stratified")  # rows-only: sampling is partition-layout-defined
def sample_stratified(spark, sf_dir):
    """Class-balanced corpus sampling: per-language fractions chosen to
    downsample the majority class (en) — the dataset-rebalancing step
    of a training-data pipeline. Bernoulli per row with a fixed seed;
    exact membership depends on partition layout, so the contract
    (property-tested) is per-group fraction bounds, not row identity."""
    d = table(spark, sf_dir, "documents")
    fractions = {"en": 0.3, "fr": 1.0, "es": 1.0, "de": 1.0, "zh": 1.0}
    return d.sampleBy("lang", fractions, seed=42).select("doc_id", "lang")


CHUNK_TOKENS = 16
CHUNK_STRIDE = 12  # 4-token overlap


@register(
    "text_chunk_overlap",
    oracle=f"""
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        )
        SELECT doc_id, CAST(r.i AS BIGINT) AS chunk_idx,
               array_to_string(
                 list_slice(toks, r.i * {CHUNK_STRIDE} + 1,
                            r.i * {CHUNK_STRIDE} + {CHUNK_TOKENS}), ' ') AS chunk
        FROM t, unnest(range((len(toks) + {CHUNK_STRIDE} - 1) // {CHUNK_STRIDE})) r(i)
        WHERE r.i * {CHUNK_STRIDE} < len(toks)
    """,
)
def text_chunk_overlap(spark, sf_dir):
    """RAG/context chunking: overlapping fixed-token windows (16-token
    chunks, stride 12 → 4-token overlap), one row per chunk, doc
    boundaries respected — pure array ops, no Python."""
    d = table(spark, sf_dir, "documents")
    toks = _tokens()
    n_chunks = F.ceil(F.size(toks) / CHUNK_STRIDE).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("long").alias("chunk_idx"),
            F.concat_ws(
                " ", F.slice(toks, i * CHUNK_STRIDE + 1, CHUNK_TOKENS)
            ).alias("chunk"),
        ),
    )
    return d.select("doc_id", F.explode(chunks).alias("c")).select(
        "doc_id", "c.chunk_idx", "c.chunk"
    )


VOCAB_SIZE = 50


@register(
    "text_vocab_build",
    oracle=f"""
        WITH counts AS (
          SELECT token, count(*) AS n
          FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
          GROUP BY token
        ),
        ranked AS (
          SELECT token, n,
                 row_number() OVER (ORDER BY n DESC, token) AS token_id
          FROM counts
        )
        SELECT token, CAST(token_id AS BIGINT) AS token_id, n
        FROM ranked WHERE token_id <= {VOCAB_SIZE}
    """,
)
def text_vocab_build(spark, sf_dir):
    """Tokenizer-prep vocabulary: top-K tokens by corpus frequency with
    deterministic ids (freq desc, token asc) — the build step before
    any id-mapping tokenization pass."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(_tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    return (
        counts.withColumn("token_id", F.row_number().over(w).cast("long"))
        .filter(F.col("token_id") <= VOCAB_SIZE)
        .select("token", "token_id", "n")
    )


TRAIN_HEX_CUT = "cd"  # first md5 hex byte < 0xcd -> 205/256 ~ 80.1% train


@register(
    "sample_train_test_split",
    oracle=f"""
        SELECT doc_id,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{TRAIN_HEX_CUT}'
                    THEN 'train' ELSE 'test' END AS split
        FROM documents
    """,
)
def sample_train_test_split(spark, sf_dir):
    """Deterministic ~80/20 train/test split by hashing the document
    key: membership is a pure function of doc_id (stable across runs,
    re-partitions, and engines — unlike Bernoulli sampling, which is
    partition-layout-defined, see sample_stratified). md5 is the one
    hash both Spark and the oracle compute identically; at 100 TB
    this is a narrow projection + map, no shuffle at all."""
    d = table(spark, sf_dir, "documents")
    bucket = _md5_bucket()
    return d.select(
        "doc_id",
        F.when(bucket < TRAIN_HEX_CUT, F.lit("train"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


EVAL_MAX_ID = 50  # docs below this id stand in for the eval benchmark


@register(
    "text_decontaminate",
    oracle=f"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        sh AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
               FROM t, unnest(range(1, len(toks)-1)) r(i)),
        eval_sh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < {EVAL_MAX_ID}),
        tot AS (SELECT doc_id, count(*) AS n_shingles FROM sh
                WHERE doc_id >= {EVAL_MAX_ID} GROUP BY doc_id),
        hits AS (SELECT s.doc_id, count(*) AS n_contaminated
                 FROM sh s JOIN eval_sh e ON s.shingle = e.shingle
                 WHERE s.doc_id >= {EVAL_MAX_ID} GROUP BY s.doc_id)
        SELECT h.doc_id, n_contaminated, n_shingles,
               n_contaminated / n_shingles AS contamination
        FROM hits h JOIN tot USING (doc_id)
    """,
)
def text_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag training docs sharing 3-token
    shingles with an eval set (stand-in: doc_id < EVAL_MAX_ID). The
    eval shingle set is dim-table sized by construction (benchmarks
    are small), so it broadcasts and the training corpus is scanned
    exactly once — the standard decontamination shape at 100 TB."""
    from .dedup import shingles

    d = table(spark, sf_dir, "documents")
    sh = shingles(d)
    eval_sh = (
        sh.filter(F.col("doc_id") < EVAL_MAX_ID).select("shingle").distinct()
    )
    train_sh = sh.filter(F.col("doc_id") >= EVAL_MAX_ID)
    tot = train_sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    hits = (
        train_sh.join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return hits.join(tot, "doc_id").select(
        "doc_id",
        "n_contaminated",
        "n_shingles",
        (F.col("n_contaminated") / F.col("n_shingles")).alias("contamination"),
    )


EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
PHONE_RE = "[0-9]{3}-[0-9]{4}"


@register(
    "text_pii_redact",
    oracle=f"""
        WITH aug AS (
          SELECT doc_id,
                 text || ' contact' || CAST(doc_id AS VARCHAR) || '@example.com ph 555-'
                      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
          FROM documents
        )
        SELECT doc_id,
               regexp_replace(regexp_replace(raw, '{EMAIL_RE}', '<EMAIL>', 'g'),
                              '{PHONE_RE}', '<PHONE>', 'g') AS redacted,
               CAST(len(regexp_extract_all(raw, '{EMAIL_RE}'))
                    + len(regexp_extract_all(raw, '{PHONE_RE}')) AS BIGINT) AS n_pii
        FROM aug
    """,
)
def text_pii_redact(spark, sf_dir):
    """PII scrubbing: replace email addresses and phone-shaped digit
    runs with typed placeholder tokens and count what was removed.
    The testdata text contains no PII, so a deterministic synthetic
    email + phone per doc is appended first (identically in both
    engines) to make the redaction observable. Patterns stay in the
    RE2 ∩ Java-regex common subset so both engines match the same
    spans. Pure per-row expressions — map-only at any scale."""
    d = table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com ph 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    red = F.regexp_replace(
        F.regexp_replace(raw, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    n_pii = (
        F.regexp_count(raw, F.lit(EMAIL_RE))
        + F.regexp_count(raw, F.lit(PHONE_RE))
    ).cast("long")
    return d.select(
        "doc_id", red.alias("redacted"), n_pii.alias("n_pii")
    )


@register(
    "text_repetition_filter",
    oracle="""
        WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        ),
        tc AS (
          SELECT doc_id, token, count(*) AS cnt FROM tok GROUP BY doc_id, token
        )
        SELECT doc_id,
               CAST(sum(cnt) AS BIGINT) AS n_tokens,
               count(*) AS n_distinct,
               CAST(max(cnt) AS BIGINT) AS top_token_n,
               max(cnt) * 1.0 / sum(cnt) AS top_token_frac,
               1.0 - count(*) * 1.0 / sum(cnt) AS dup_ratio,
               CASE WHEN max(cnt) * 1.0 / sum(cnt) <= 0.2
                         AND 1.0 - count(*) * 1.0 / sum(cnt) <= 0.7
                    THEN 1 ELSE 0 END AS keep
        FROM tc GROUP BY doc_id
        ORDER BY doc_id
    """,
)
def text_repetition_filter(spark, sf_dir):
    """Gopher-style repetition quality gate: per-document duplicate-
    token ratio and most-frequent-token fraction, with the keep/drop
    decision as a column (so the filter is auditable, not silent).

    Two map-side-combinable aggregations — (doc,token) then (doc) —
    both shuffle-keyed on doc_id-prefixed keys; no windows, no UDFs.
    All ratios are int/int single IEEE divisions, bit-equal across
    engines."""
    d = table(spark, sf_dir, "documents")
    tc = (
        d.select("doc_id", F.explode(_tokens()).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top_frac = F.max("cnt") * F.lit(1.0) / F.sum("cnt")
    dup_ratio = F.lit(1.0) - F.count(F.lit(1)) * F.lit(1.0) / F.sum("cnt")
    return (
        tc.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("cnt").alias("top_token_n"),
            top_frac.alias("top_token_frac"),
            dup_ratio.alias("dup_ratio"),
            F.when((top_frac <= 0.2) & (dup_ratio <= 0.7), 1)
            .otherwise(0)
            .alias("keep"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_bm25",
    oracle="""
        WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        ),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        dl AS (SELECT doc_id, count(*) AS dlen FROM tok GROUP BY 1),
        stats AS (
          SELECT count(*) AS n_docs, sum(dlen) * 1.0 / count(*) AS avg_dlen
          FROM dl
        ),
        idf AS (
          SELECT term, count(*) AS df FROM tf
          WHERE term IN ('join', 'filter', 'window') GROUP BY term
        )
        SELECT t.doc_id, t.term,
               round(ln((s.n_docs - i.df + 0.5) / (i.df + 0.5) + 1.0)
                     * (t.tf * 2.2)
                     / (t.tf + 1.2 * (0.25 + 0.75 * d.dlen / s.avg_dlen)),
                     6) AS bm25
        FROM tf t
        JOIN idf i USING (term)
        JOIN dl d USING (doc_id), stats s
    """,
)
def text_bm25(spark, sf_dir):
    """BM25 relevance scores (k1=1.2, b=0.75) for a fixed query-term
    set against every document — the retrieval scorer of a RAG /
    data-curation pipeline, fully declarative.

    Plan shape: one tokenize pass feeds tf and doc-length aggs; the
    3-term idf table and the 2-value corpus stats broadcast onto the
    tf relation — the only full shuffle is the (doc,term) partial agg.
    ln() rounded to 6 dp (libm-vs-JVM ulp discipline, module
    docstring); every other operand is an exact int-derived double."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_tokens()).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dlen"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dlen") * F.lit(1.0) / F.count(F.lit(1))).alias("avg_dlen"),
    )
    idf = (
        tf.filter(F.col("term").isin("join", "filter", "window"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    score = F.round(
        F.log(
            (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
        )
        * (F.col("tf") * 2.2)
        / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dlen") / F.col("avg_dlen"))),
        6,
    )
    return (
        tf.join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .select("doc_id", "term", score.alias("bm25"))
    )


@register(
    "text_perplexity_proxy",
    oracle="""
        WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        ),
        uni AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
        tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM uni)
        SELECT t.doc_id,
               count(*) AS n_tokens,
               CAST(sum(CAST(round(1000000.0
                        * ln(u.cnt * 1.0 / s.n_total)) AS BIGINT)) AS BIGINT)
                 AS logp_micro,
               CAST(sum(CAST(round(1000000.0
                        * ln(u.cnt * 1.0 / s.n_total)) AS BIGINT)) AS DOUBLE)
                 / 1000000.0 / count(*) AS avg_logp
        FROM tok t JOIN uni u USING (token), tot s
        GROUP BY t.doc_id
        ORDER BY t.doc_id
    """,
)
def text_perplexity_proxy(spark, sf_dir):
    """Unigram LM scoring — the classic cheap-perplexity quality
    filter of LLM data pipelines: train corpus unigram probabilities
    in one aggregation, score every document by its mean token
    log-probability (low = gibberish / off-distribution).

    The unigram table broadcasts onto the token stream (vocab is
    dim-sized at any corpus scale); per-token log-probs are rounded
    to exact integer micro-nats BEFORE summation so the per-doc sum
    is shuffle-order-proof, then one identical scalar division per
    engine."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_tokens()).alias("token"))
    uni = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    tot = uni.agg(F.sum("cnt").cast("long").alias("n_total"))
    logp_micro = F.sum(
        F.round(
            F.lit(1000000.0)
            * F.log(F.col("cnt") * F.lit(1.0) / F.col("n_total"))
        ).cast("long")
    )
    return (
        tok.join(F.broadcast(uni), "token")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            logp_micro.alias("logp_micro"),
            (
                logp_micro.cast("double")
                / F.lit(1000000.0)
                / F.count(F.lit(1))
            ).alias("avg_logp"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_zipf_rank",
    oracle="""
        WITH tok AS (
          SELECT unnest(string_split(lower(text), ' ')) AS token
          FROM documents
        ), f AS (
          SELECT token, count(*) AS freq FROM tok GROUP BY token
        ), tot AS (SELECT sum(freq) AS total FROM f)
        SELECT token, freq,
               CAST(row_number() OVER (ORDER BY freq DESC, token) AS BIGINT)
                 AS rnk,
               round(CAST(freq AS DOUBLE) / CAST(total AS DOUBLE), 6)
                 AS share,
               round(CAST(sum(freq) OVER (ORDER BY freq DESC, token
                       ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                     / CAST(total AS DOUBLE), 6) AS cum_share
        FROM f, tot
        ORDER BY rnk
        LIMIT 100
    """,
)
def text_zipf_rank(spark, sf_dir):
    """Zipf rank–frequency profile of the corpus vocabulary: token
    frequency, rank, share and cumulative share of total tokens —
    the standard head/tail diagnostic before building a tokenizer
    vocab (how much mass do the top-100 types cover?).

    Scale shape: the token count is a map-side-combined agg; the
    unpartitioned rank window runs over the POST-AGG relation
    (vocabulary-sized, not corpus-sized) — at 100 TB the vocab is
    still ~millions of rows, and the top-100 cut means a
    WindowGroupLimit-style single-reducer pass over a small input.
    Exact integer sums; the only double ops are the two final
    divisions, identical on both engines."""
    d = table(spark, sf_dir, "documents")
    f = (
        d.select(
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    total = f.agg(F.sum("freq").alias("total"))
    w_rank = Window.orderBy(F.desc("freq"), F.asc("token"))
    w_cum = w_rank.rowsBetween(Window.unboundedPreceding, 0)
    return (
        f.join(F.broadcast(total))
        .select(
            "token",
            "freq",
            F.row_number().over(w_rank).cast("long").alias("rnk"),
            F.round(
                F.col("freq").cast("double") / F.col("total").cast("double"), 6
            ).alias("share"),
            F.round(
                F.sum("freq").over(w_cum).cast("double")
                / F.col("total").cast("double"),
                6,
            ).alias("cum_share"),
        )
        .orderBy("rnk")
        .limit(100)
    )


@register(
    "text_length_band_filter",
    oracle="""
        WITH n AS (
          SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
          FROM documents
        ), b AS (
          SELECT quantile_cont(CAST(n_tokens AS DOUBLE), 0.05) AS lo,
                 quantile_cont(CAST(n_tokens AS DOUBLE), 0.95) AS hi
          FROM n
        )
        SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens
        FROM n, b
        WHERE CAST(n_tokens AS DOUBLE) >= lo
          AND CAST(n_tokens AS DOUBLE) <= hi
        ORDER BY doc_id
    """,
)
def text_length_band_filter(spark, sf_dir):
    """Corpus length-band gate (keep docs between the exact 5th and
    95th token-count percentiles) — the standard 'too short / too
    long' filter in LLM data pipelines, with the thresholds LEARNED
    from the corpus rather than hard-coded. The bounds are ONE row
    at any corpus size, so they come back as a driver collect and go
    into the second scan as literals: one exact percentile agg over
    (doc-count-sized) lengths + one scan with a fully-literal pushed
    comparison. (Previously broadcast(bounds) + nested-loop join and a
    trailing global orderBy; the driver bench flagged this query slow
    two rounds running while every local measure was fast, so the
    rewrite strips every moving part that could interact with
    suite-wide session state — no BroadcastExchange, no range-
    partition sampling job for a sort the order-insensitive compare
    never needed.)"""
    d = table(spark, sf_dir, "documents")
    n = d.select(
        "doc_id",
        "lang",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
    )
    nd = F.col("n_tokens").cast("double")
    lo, hi = n.agg(
        F.percentile(nd, F.lit(0.05)).alias("lo"),
        F.percentile(nd, F.lit(0.95)).alias("hi"),
    ).collect()[0]
    return n.filter((nd >= F.lit(lo)) & (nd <= F.lit(hi))).select(
        "doc_id", "lang", F.col("n_tokens").cast("long").alias("n_tokens")
    )


@register(
    "text_source_hhi",
    oracle="""
        WITH c AS (
          SELECT lang, source, count(*) AS cnt
          FROM documents GROUP BY lang, source
        ), t AS (
          SELECT lang, sum(cnt) AS total, sum(cnt*cnt) AS sum_sq,
                 count(*) AS n_sources
          FROM c GROUP BY lang
        )
        SELECT lang, n_sources, CAST(total AS BIGINT) AS n_docs,
               round(CAST(sum_sq AS DOUBLE)
                     / (CAST(total AS DOUBLE) * CAST(total AS DOUBLE)), 6)
                 AS hhi
        FROM t
        ORDER BY lang
    """,
)
def text_source_hhi(spark, sf_dir):
    """Per-language source-concentration (Herfindahl–Hirschman
    index): Σ(share_i²) over sources — the diversity diagnostic run
    before corpus mixing (an HHI near 1 means one crawl source
    dominates a language). Σ(cᵢ/T)² is computed as Σcᵢ²/T² so every
    sum is exact integer arithmetic regardless of merge order; the
    single double division happens once per language. Two stacked
    aggregations, both map-side combined; the second's input is
    |lang×source| rows."""
    d = table(spark, sf_dir, "documents")
    c = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("cnt"))
    t = c.groupBy("lang").agg(
        F.sum("cnt").alias("total"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("sum_sq"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    return t.select(
        "lang",
        "n_sources",
        F.col("total").cast("long").alias("n_docs"),
        F.round(
            F.col("sum_sq").cast("double")
            / (F.col("total").cast("double") * F.col("total").cast("double")),
            6,
        ).alias("hhi"),
    ).orderBy("lang")


@register(
    "corpus_mix_weights",
    oracle="""
        WITH c AS (
          SELECT lang, count(*) AS n_docs,
                 CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS n_chars
          FROM documents GROUP BY lang
        ), t AS (
          SELECT sum(n_docs) AS total_docs, count(*) AS n_langs FROM c
        )
        SELECT lang, n_docs, n_chars,
               round(CAST(n_docs AS DOUBLE) / CAST(total_docs AS DOUBLE), 6)
                 AS actual_share,
               round(1.0 / CAST(n_langs AS DOUBLE), 6) AS target_share,
               round((1.0 / CAST(n_langs AS DOUBLE))
                     / (CAST(n_docs AS DOUBLE) / CAST(total_docs AS DOUBLE)),
                     6) AS sample_weight
        FROM c, t
        ORDER BY lang
    """,
)
def corpus_mix_weights(spark, sf_dir):
    """Pre-training mixture reweighting: per-language corpus shares
    vs a uniform target, yielding the per-document sampling weight
    (target/actual) that a weighted sampler or epoch-repetition
    schedule consumes downstream. The aggregate is language-
    cardinality-sized; the 1-row totals relation broadcasts back.
    All ratios are single double divisions over exact integer
    counts. This is the declarative front half of data mixing —
    the actual resample composes sample_weight with
    sample_stratified's sampleBy."""
    d = table(spark, sf_dir, "documents")
    c = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_chars").cast("long")).alias("n_chars"),
    )
    t = c.agg(
        F.sum("n_docs").alias("total_docs"),
        F.count(F.lit(1)).alias("n_langs"),
    )
    actual = F.col("n_docs").cast("double") / F.col("total_docs").cast("double")
    target = F.lit(1.0) / F.col("n_langs").cast("double")
    return (
        c.join(F.broadcast(t))
        .select(
            "lang",
            "n_docs",
            "n_chars",
            F.round(actual, 6).alias("actual_share"),
            F.round(target, 6).alias("target_share"),
            F.round(target / actual, 6).alias("sample_weight"),
        )
        .orderBy("lang")
    )


@register(
    "text_tfidf_topk_terms",
    oracle="""
        WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                     FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        n AS (SELECT count(*) AS n_docs FROM documents),
        w AS (
          SELECT doc_id, term,
                 tf * ln((n_docs + 1.0) / (df + 1.0)) AS w
          FROM tf JOIN df USING (term), n
        )
        SELECT doc_id, term, rnk, round(w, 6) AS tfidf
        FROM (SELECT doc_id, term, w,
                     CAST(row_number() OVER (PARTITION BY doc_id
                            ORDER BY w DESC, term) AS BIGINT) AS rnk
              FROM w)
        WHERE rnk <= 3
        ORDER BY doc_id, rnk
    """,
)
def text_tfidf_topk_terms(spark, sf_dir):
    """Top-3 TF-IDF terms per document — keyphrase extraction, the
    per-doc summary feature behind search snippets and topic tags.
    Weights reuse the tf/df/N aggregates (df and N are vocabulary- and
    literal-sized, broadcast); ranking runs over the (doc, term)
    relation with Catalyst's WindowGroupLimit pruning to 3 candidates
    per doc before the final shuffle. Ranking compares the UNROUNDED
    weight — tf·ln((N+1)/(df+1)) is the same IEEE expression in both
    engines — with the term string as tiebreak, so top-3 membership
    is deterministic; rounding happens only at output."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    wcol = F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
    w = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "term", wcol.alias("w"))
    )
    from pyspark.sql import Window

    win = Window.partitionBy("doc_id").orderBy(F.desc("w"), F.asc("term"))
    return (
        w.withColumn("rnk", F.row_number().over(win).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "rnk", F.round("w", 6).alias("tfidf"))
        .orderBy("doc_id", "rnk")
    )


SOURCE_CAP = 20


@register(
    "sample_per_source_cap",
    oracle=f"""
        SELECT doc_id, source, n_chars
        FROM (
          SELECT doc_id, source, n_chars,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY n_chars DESC, doc_id) AS rn
          FROM documents
        ) WHERE rn <= {SOURCE_CAP}
        ORDER BY source, n_chars DESC, doc_id
    """,
)
def sample_per_source_cap(spark, sf_dir):
    """Per-source quota sampling: cap every source at {SOURCE_CAP} docs,
    keeping the longest first (deterministic doc_id tiebreak) — the
    domain-rebalancing step that stops one crawl dump from dominating
    the training mix. Spark plans this as WindowGroupLimit: the top-K
    per group is pre-pruned map-side BEFORE the shuffle, so shuffle
    bytes are ≤ cap×|sources| per task regardless of corpus size."""
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        d.select("doc_id", "source", "n_chars")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SOURCE_CAP)
        .select("doc_id", "source", "n_chars")
        .orderBy("source", F.desc("n_chars"), "doc_id")
    )


FUNNEL_MIN_TOKENS = 30
FUNNEL_MAX_TOKENS = 200


@register(
    "corpus_filter_funnel",
    oracle=f"""
        WITH t AS (
          SELECT doc_id, lang, text,
                 len(string_split(text, ' ')) AS n_tok
          FROM documents
        ),
        staged AS (
          SELECT *,
                 (n_tok BETWEEN {FUNNEL_MIN_TOKENS} AND {FUNNEL_MAX_TOKENS})
                   AS pass_len,
                 (row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1)
                   AS pass_exact,
                 (lang IN ('en', 'fr', 'es', 'de')) AS pass_lang
          FROM t
        )
        SELECT 'raw' AS stage, 0 AS stage_idx, count(*) AS n_docs FROM staged
        UNION ALL
        SELECT 'len_band', 1, count(*) FROM staged WHERE pass_len
        UNION ALL
        SELECT 'exact_dedup', 2, count(*) FROM staged
        WHERE pass_len AND pass_exact
        UNION ALL
        SELECT 'lang_keep', 3, count(*) FROM staged
        WHERE pass_len AND pass_exact AND pass_lang
        ORDER BY stage_idx
    """,
)
def corpus_filter_funnel(spark, sf_dir):
    """Pipeline-funnel report: how many documents survive each curation
    stage (raw → length band → exact dedup → language keep-list). ONE
    pass computes all stage flags, then a single conditional-count
    aggregation emits the funnel — no per-stage re-scan (at 100 TB,
    four scans vs one is the whole game). Exact dedup keeps the lowest
    doc_id per identical text, matching dedup_exact's rule."""
    d = table(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    w = Window.partitionBy("text").orderBy("doc_id")
    staged = d.select(
        "doc_id",
        "lang",
        n_tok.alias("n_tok"),
        F.col("text"),
    ).withColumn(
        "pass_exact", F.row_number().over(w) == 1
    ).select(
        F.col("n_tok").between(FUNNEL_MIN_TOKENS, FUNNEL_MAX_TOKENS).alias("pass_len"),
        "pass_exact",
        F.col("lang").isin("en", "fr", "es", "de").alias("pass_lang"),
    )
    agg = staged.agg(
        F.count(F.lit(1)).alias("raw"),
        F.count_if(F.col("pass_len")).alias("len_band"),
        F.count_if(F.col("pass_len") & F.col("pass_exact")).alias("exact_dedup"),
        F.count_if(
            F.col("pass_len") & F.col("pass_exact") & F.col("pass_lang")
        ).alias("lang_keep"),
    )
    stages = F.array(
        F.struct(F.lit("raw").alias("stage"), F.lit(0).cast("int").alias("stage_idx"), F.col("raw").alias("n_docs")),
        F.struct(F.lit("len_band").alias("stage"), F.lit(1).cast("int").alias("stage_idx"), F.col("len_band").alias("n_docs")),
        F.struct(F.lit("exact_dedup").alias("stage"), F.lit(2).cast("int").alias("stage_idx"), F.col("exact_dedup").alias("n_docs")),
        F.struct(F.lit("lang_keep").alias("stage"), F.lit(3).cast("int").alias("stage_idx"), F.col("lang_keep").alias("n_docs")),
    )
    return (
        agg.select(F.explode(stages).alias("s"))
        .select("s.stage", "s.stage_idx", "s.n_docs")
        .orderBy("stage_idx")
    )


@register(
    "corpus_temperature_resample",
    oracle="""
        WITH s AS (
          SELECT source, count(*) AS n_docs FROM documents GROUP BY source
        ), t AS (
          SELECT source, n_docs,
                 sqrt(CAST(n_docs AS DOUBLE)) AS w
          FROM s
        )
        SELECT source, n_docs,
               round(n_docs / (SELECT sum(n_docs) FROM t), 6) AS raw_share,
               round(w / (SELECT sum(w) FROM t), 6) AS temp_share,
               round((w / (SELECT sum(w) FROM t))
                     / (n_docs / (SELECT sum(n_docs) FROM t)), 6)
                 AS upweight
        FROM t
    """,
)
def corpus_temperature_resample(spark, sf_dir):
    """Temperature-based corpus mixing (the multilingual/multi-source
    sampling scheme from the XLM-R / mT5 line of work, T=2 ⇒ α=0.5):
    source s gets sampling share n_s^α / Σ n_t^α instead of its raw
    share, upweighting small sources so the head source can't drown
    them. Output is the per-source mixing table (raw share, tempered
    share, upweight factor) a sampler consumes. Shape at 100 TB: one
    map-side-combinable count per source plus window sums over
    |sources| rows — the corpus is scanned once, the mixing table is
    tiny. α=0.5 = sqrt keeps the arithmetic bit-identical across
    engines (no pow() rounding divergence)."""
    d = table(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w_all = Window.partitionBy()
    w = F.sqrt(F.col("n_docs").cast("double"))
    raw_share = F.col("n_docs") / F.sum("n_docs").over(w_all)
    temp_share = w / F.sum(w).over(w_all)
    return s.select(
        "source",
        "n_docs",
        F.round(raw_share, 6).alias("raw_share"),
        F.round(temp_share, 6).alias("temp_share"),
        F.round(temp_share / raw_share, 6).alias("upweight"),
    )


@register(
    "dedup_incremental_snapshot",
    oracle="""
        WITH prev AS (
          SELECT DISTINCT sha256(text) AS h FROM documents
          WHERE doc_id < (SELECT 0.6 * max(doc_id) FROM documents)
        ), batch AS (
          SELECT doc_id, sha256(text) AS h FROM documents
          WHERE doc_id >= (SELECT 0.4 * max(doc_id) FROM documents)
        )
        SELECT b.doc_id,
               CAST(p.h IS NOT NULL AS BOOLEAN) AS seen_before
        FROM batch b LEFT JOIN prev p USING (h)
    """,
)
def dedup_incremental_snapshot(spark, sf_dir):
    """Incremental (cross-snapshot) dedup — the production form of
    exact dedup: a new crawl BATCH is checked against the accumulated
    corpus SNAPSHOT's content-hash index, not against itself, so each
    ingest round costs one hash anti/semi-join instead of re-deduping
    100 TB from scratch. Snapshot = docs below the 60% id cut; batch
    = docs above the 40% cut (the overlap region models re-crawled
    pages). The hash index is (distinct h) — at scale a bucketed
    table the batch broadcast- or shuffle-joins against; here the
    LEFT JOIN marks each batch doc seen/unseen, and downstream keeps
    `NOT seen_before`. sha256 is the content key on both engines."""
    d = table(spark, sf_dir, "documents")
    cut = d.agg(F.max("doc_id")).collect()[0][0]
    prev = (
        d.filter(F.col("doc_id") < 0.6 * cut)
        .select(F.sha2("text", 256).alias("h"))
        .distinct()
    )
    batch = d.filter(F.col("doc_id") >= 0.4 * cut).select(
        "doc_id", F.sha2("text", 256).alias("h")
    )
    return batch.join(prev.withColumn("seen", F.lit(True)), "h", "left").select(
        "doc_id", F.coalesce("seen", F.lit(False)).alias("seen_before")
    )


@register(
    "text_quality_classifier",
    oracle=f"""
        WITH f AS (
          SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
                 CAST(len(list_filter(string_split(text, ' '),
                      t -> list_contains({STOPWORDS!r}, t))) AS DOUBLE)
                   AS n_stop
          FROM documents
        )
        SELECT doc_id,
               round(1.0 / (1.0 + exp(-(
                 0.02 * n_tok - 4.0 * (n_stop / n_tok) - 0.5))), 6) AS score,
               CAST(1.0 / (1.0 + exp(-(
                 0.02 * n_tok - 4.0 * (n_stop / n_tok) - 0.5))) >= 0.5
                 AS BOOLEAN) AS keep
        FROM f
    """,
)
def text_quality_classifier(spark, sf_dir):
    """Model-based quality filtering, the fasttext-classifier shape
    (CCNet / GPT-3 data pipeline): a fixed-weight logistic over cheap
    text features (length reward, stopword-ratio penalty) scores every
    document in one map-only pass; `keep` is the 0.5-threshold gate.
    The weights are literals standing in for a trained model's — the
    pipeline shape (feature extraction → linear score → sigmoid →
    threshold) is what scales, one scan, no shuffle, no Python. The
    oracle restates the identical arithmetic; 6-dp rounding absorbs
    any last-ulp exp() divergence between engines."""
    d = table(spark, sf_dir, "documents")
    toks = _tokens()
    n_tok = F.size(toks).cast("double")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS))).cast("double")
    z = 0.02 * n_tok - 4.0 * (n_stop / n_tok) - 0.5
    score = 1.0 / (1.0 + F.exp(-z))
    return d.select(
        "doc_id",
        F.round(score, 6).alias("score"),
        (score >= 0.5).alias("keep"),
    )


N_BPE_MERGES = 10


def _bpe_train_oracle_sql():
    """10-round unrolled BPE-merge oracle. Each round r: count pairs
    over w{r}, pick top-1 (freq desc, then (l, r) asc), merge, build
    w{r+1}. The Spark side's greedy left-to-right fold is restated
    POSITIONALLY: occurrences of the pair never overlap when l≠r
    (an overlap needs syms[i+1] = r = l), and within a consecutive
    run of occurrences (the l=r case, e.g. 'aaaa') greedy keeps the
    odd-ranked ones — so 'merge iff row_number within the
    consecutive-occurrence block is odd' is exactly the fold, with
    no list fold needed in SQL."""
    rounds = []
    for r in range(N_BPE_MERGES):
        rounds.append(f"""
    p{r} AS (SELECT syms[i] AS l, syms[i+1] AS r,
                    CAST(sum(freq) AS BIGINT) AS pair_freq
             FROM w{r}, unnest(range(1, len(syms))) u(i)
             GROUP BY 1, 2),
    t{r} AS MATERIALIZED (
        SELECT l, r, l || r AS m, pair_freq
        FROM p{r} ORDER BY pair_freq DESC, l, r LIMIT 1),
    occ{r} AS (SELECT w.word, u.i
               FROM w{r} w CROSS JOIN t{r} t, unnest(range(1, len(w.syms))) u(i)
               WHERE w.syms[i] = t.l AND w.syms[i+1] = t.r),
    mg{r} AS MATERIALIZED (
        SELECT word, i FROM (
            SELECT word, i,
                   row_number() OVER (PARTITION BY word, blk ORDER BY i) AS rn
            FROM (SELECT word, i,
                         i - row_number() OVER (PARTITION BY word ORDER BY i) AS blk
                  FROM occ{r}))
        WHERE rn % 2 = 1),
    w{r + 1} AS MATERIALIZED (
        SELECT e.word, e.freq, list(
                   CASE WHEN m.i IS NOT NULL THEN t.m ELSE e.sym END
                   ORDER BY e.i) AS syms
        FROM (SELECT w.word, w.freq, u.i, w.syms[i] AS sym
              FROM w{r} w, unnest(range(1, len(w.syms) + 1)) u(i)) e
        CROSS JOIN t{r} t
        LEFT JOIN mg{r} m ON m.word = e.word AND m.i = e.i
        LEFT JOIN mg{r} m2 ON m2.word = e.word AND m2.i = e.i - 1
        WHERE m2.i IS NULL
        GROUP BY e.word, e.freq)""")
    prefix = f"""
    WITH w0 AS MATERIALIZED (
        SELECT w AS word, freq,
               list_transform(range(1, length(w) + 1), i -> w[i]) AS syms
        FROM (SELECT t AS w, CAST(count(*) AS BIGINT) AS freq
              FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
              WHERE len(t) > 0 GROUP BY t)),{",".join(rounds)}"""
    out = "\n        UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_rank, l AS \"left\","
        f" r AS \"right\", m AS merged, pair_freq FROM t{r}"
        for r in range(N_BPE_MERGES)
    )
    train = f"""{prefix}
    SELECT * FROM ({out}) ORDER BY merge_rank
"""
    encode = f"""{prefix}
    SELECT dw.doc_id,
           CAST(sum(length(e.word)) AS BIGINT) AS n_chars,
           CAST(sum(len(e.syms)) AS BIGINT) AS n_bpe_tokens
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) dw
    JOIN w{N_BPE_MERGES} e ON dw.w = e.word
    WHERE len(dw.w) > 0
    GROUP BY dw.doc_id
"""
    return train, encode


_BPE_TRAIN_SQL, _BPE_ENCODE_SQL = _bpe_train_oracle_sql()


@register("text_bpe_train", oracle=_BPE_TRAIN_SQL)
def text_bpe_train(spark, sf_dir):
    """TRUE BPE merge training (Sennrich et al. 2016) as DataFrame ops
    — upgrades the "BPE-ish" regex counter (text_token_bpe) to the
    real iterative algorithm (VERDICT r4 item 9). Spec, mirrored
    exactly by the test's pure-Python reference:

    - corpus → space-split tokens (the house tokenizer), empty tokens
      dropped; word-frequency table built ONCE (the only corpus-wide
      shuffle);
    - each word starts as its character sequence (no end-of-word
      marker — merges are intrinsically word-internal here because
      words are separate rows);
    - 10 rounds: count adjacent symbol pairs weighted by word freq
      (overlapping occurrences count, the canonical spelling), pick
      the most frequent pair (ties broken (left, right) ascending),
      then merge greedily left-to-right in every word.

    The merge is a Catalyst `aggregate` fold — append-or-coalesce
    with the accumulator's last element — which equals greedy
    non-overlapping left-to-right merging because a merged token can
    never equal the pair's left symbol (it is strictly longer), so a
    chain-merge through a just-created token is impossible.

    Scale shape: the iteration runs on the DISTINCT-WORD table, not
    the corpus — |vocab| rows, each a ≤word-length array — with one
    small (l, r) pair-count shuffle per round and a driver-side top-1;
    localCheckpoint per round truncates the 10-deep lineage. At
    100 TB the corpus scan stays a single pass and the loop cost is
    independent of corpus size."""
    d = table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(_tokens()).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.expr(
                "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
            ).alias("syms"),
            "freq",
        )
        .localCheckpoint(eager=True)
    )

    merges = []
    for rank in range(N_BPE_MERGES):
        top = (
            words.select(
                "freq",
                F.explode(
                    F.arrays_zip(
                        F.expr("slice(syms, 1, size(syms)-1)").alias("l"),
                        F.expr("slice(syms, 2, size(syms)-1)").alias("r"),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("pair_freq"))
            .orderBy(F.desc("pair_freq"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        l, r, pf = top[0]["l"], top[0]["r"], int(top[0]["pair_freq"])
        merged = l + r
        merges.append((rank, l, r, merged, pf))
        words = words.select(
            F.aggregate(
                "syms",
                F.expr("cast(array() as array<string>)"),
                lambda acc, x: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(l))
                    & (x == F.lit(r)),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1),
                        F.array(F.lit(merged)),
                    ),
                ).otherwise(F.concat(acc, F.array(x))),
            ).alias("syms"),
            "freq",
        ).localCheckpoint(eager=True)

    return spark.createDataFrame(
        merges,
        "merge_rank long, left string, right string, "
        "merged string, pair_freq long",
    )


@register("text_bpe_encode", oracle=_BPE_ENCODE_SQL)
def text_bpe_encode(spark, sf_dir):
    """BPE ENCODE with the merges text_bpe_train learns — the apply
    half of the tokenizer loop: re-train the 10 merges (cheap: the
    loop runs on the distinct-word table), then apply them IN RANK
    ORDER to every document's words and count the resulting tokens.
    Applying in rank order with the same greedy left-to-right fold is
    the defining BPE-encode contract (a different application order
    gives a different segmentation).

    Scale shape — DICTIONARY ENCODING, the trick that makes BPE apply
    affordable at 100 TB: a word's segmentation is a pure function of
    the word, so the 10 chained interpreted folds run over the
    DISTINCT vocabulary only (|vocab| rows), and the corpus pass is a
    plain (broadcastable) join word→token-count plus a per-doc sum.
    Folding every word INSTANCE instead (the first spelling) cost 17 s
    at sf0.1 — ~8× this form — and the gap widens with corpus size
    while the vocab stays sublinear (Heaps' law). Output per doc:
    char count (= token count before any merge) and token count after
    all 10 merges; the compression delta is the useful corpus
    statistic."""
    d = table(spark, sf_dir, "documents")
    merges = [
        (r["left"], r["right"], r["merged"])
        for r in sorted(
            text_bpe_train(spark, sf_dir).collect(),
            key=lambda r: r["merge_rank"],
        )
    ]

    # _tokens(), not an inline split: the encode half MUST tokenize
    # exactly like the train half or the learned merges don't apply
    doc_words = d.select(
        "doc_id",
        F.explode(_tokens()).alias("w"),
    ).filter(F.length("w") > 0)
    vocab = doc_words.select("w").distinct()
    syms = F.expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
    )

    # factory, not default-arg lambda: pyspark introspects the HOF
    # callable's arity, so extra bound parameters are rejected
    def fold(col, l, r, merged):
        return F.aggregate(
            col,
            F.expr("cast(array() as array<string>)"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(l))
                & (x == F.lit(r)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )

    for l, r, merged in merges:
        syms = fold(syms, l, r, merged)
    encoded = vocab.select(
        "w",
        F.length("w").alias("nc"),
        F.size(syms).alias("nt"),
    )
    return (
        doc_words.join(encoded, "w")
        .groupBy("doc_id")
        .agg(
            F.sum("nc").cast("long").alias("n_chars"),
            F.sum("nt").cast("long").alias("n_bpe_tokens"),
        )
    )


@register(
    "corpus_prep_pipeline_e2e",
    oracle=f"""
        WITH u AS (
          SELECT doc_id, lang, text FROM documents
          UNION ALL
          SELECT doc_id + 100000, lang, text FROM documents
          WHERE doc_id < 100
        ), t AS (
          SELECT doc_id, lang, text,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
          FROM u
        ), staged AS (
          SELECT *,
                 (n_tok BETWEEN {FUNNEL_MIN_TOKENS} AND {FUNNEL_MAX_TOKENS})
                   AS pass_len,
                 (row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1)
                   AS pass_exact,
                 (lang IN ('en', 'fr', 'es', 'de')) AS pass_lang
          FROM t
        ), kept AS (
          SELECT doc_id, lang, n_tok
          FROM staged WHERE pass_len AND pass_exact AND pass_lang
        ), packed AS (
          SELECT *,
                 sum(n_tok) OVER (ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS cum
          FROM kept
        )
        SELECT doc_id, lang, n_tok,
               CAST((cum - 1) // {PACK_BUDGET} AS BIGINT) AS bin_id
        FROM packed
    """,
)
def corpus_prep_pipeline_e2e(spark, sf_dir):
    """The WHOLE training-data prep pipeline as ONE composed DataFrame
    query — the per-document companion to corpus_filter_funnel's count
    report: length-band filter → exact dedup (lowest-doc_id keeper,
    dedup_exact's rule) → language keep-list → sequence packing of the
    SURVIVORS into {PACK_BUDGET}-token bins. A user of the engine runs
    their curation end to end in one call and gets back, per selected
    document, its language, token count, and packed-bin assignment.
    The fixture corpus has NO duplicate texts (FIXTURES.md), so a
    copied slice (doc_id+100000, dedup_exact's convention) is unioned
    in to make the dedup stage observable — a broken keeper rule now
    admits synthetic copies into the packing and shifts every later
    bin boundary, which the hash catches (round-5 second review: the
    stage was vacuous without this).

    Composition is where pipelines silently break (a filter applied
    after packing instead of before changes every bin boundary), so
    the oracle restates the full four-stage chain and value-hashes the
    final assignment — any stage reordering, off-by-one in the dedup
    keeper, or drift in the packing prefix-sum shows up as a hash
    mismatch. One scan computes all stage flags; the only wide ops are
    the per-text dedup window and the packing prefix-sum (global-order
    here, per-shard at 100 TB exactly as text_pack_sequences notes)."""
    from pyspark.sql import Window

    base = table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    d = base.unionByName(
        base.filter(F.col("doc_id") < 100).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "lang", "text"
        )
    )
    n_tok = F.size(_tokens()).cast("long")
    wd = Window.partitionBy("text").orderBy("doc_id")
    staged = (
        d.select("doc_id", "lang", "text", n_tok.alias("n_tok"))
        .withColumn("pass_exact", F.row_number().over(wd) == 1)
        .withColumn(
            "pass_len",
            F.col("n_tok").between(FUNNEL_MIN_TOKENS, FUNNEL_MAX_TOKENS),
        )
        .withColumn("pass_lang", F.col("lang").isin("en", "fr", "es", "de"))
    )
    kept = staged.filter(
        F.col("pass_len") & F.col("pass_exact") & F.col("pass_lang")
    ).select("doc_id", "lang", "n_tok")
    wp = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    return kept.withColumn("cum", F.sum("n_tok").over(wp)).select(
        "doc_id",
        "lang",
        "n_tok",
        ((F.col("cum") - 1) / PACK_BUDGET).cast("long").alias("bin_id"),
    )


@register(
    "ml_naive_bayes_langid",
    oracle=f"""
        WITH d AS (
          SELECT doc_id, lang, text,
                 substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{TRAIN_HEX_CUT}'
                   AS is_train
          FROM documents
        ),
        tok AS (SELECT doc_id, lang, is_train,
                       unnest(string_split(text, ' ')) AS token FROM d),
        cnt_lt AS (SELECT lang, token, count(*) AS c
                   FROM tok WHERE is_train GROUP BY 1, 2),
        lang_tok AS (SELECT lang, count(*) AS cnt_l
                     FROM tok WHERE is_train GROUP BY 1),
        vocab AS (SELECT count(DISTINCT token) AS v FROM tok WHERE is_train),
        ntr AS (SELECT count(*) AS n_tr FROM d WHERE is_train),
        pri AS (SELECT lang,
                       CAST(round(1000000.0 * ln(CAST(count(*) AS DOUBLE)
                                                 / n_tr)) AS BIGINT)
                         AS prior_s
                FROM d, ntr WHERE is_train GROUP BY lang, n_tr),
        tt AS (SELECT doc_id, lang AS true_lang, token
               FROM tok WHERE NOT is_train),
        scored AS (
          SELECT tt.doc_id, tt.true_lang, lt.lang,
                 CAST(round(1000000.0
                            * ln((coalesce(c, 0) + 1.0) / (cnt_l + v)))
                      AS BIGINT) AS cond_s
          FROM tt
          CROSS JOIN lang_tok lt
          CROSS JOIN vocab
          LEFT JOIN cnt_lt ON cnt_lt.lang = lt.lang
                          AND cnt_lt.token = tt.token
        ),
        tot AS (
          SELECT s.doc_id, s.true_lang, s.lang,
                 p.prior_s + sum(cond_s) AS total
          FROM scored s JOIN pri p ON p.lang = s.lang
          GROUP BY s.doc_id, s.true_lang, s.lang, p.prior_s
        ),
        pred AS (
          SELECT doc_id, true_lang, lang AS pred_lang,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY total DESC, lang) AS rn
          FROM tot
        )
        SELECT true_lang, pred_lang, count(*) AS n_docs
        FROM pred WHERE rn = 1
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def ml_naive_bayes_langid(spark, sf_dir):
    """Multinomial Naive Bayes language-ID, trained AND scored entirely
    as relational aggregations — the fully-SQL-expressible distributed
    ML shape (vs the gradient loop in ml_logreg_train): train on the
    md5-hash 80% split, score the held-out 20%, emit the confusion
    matrix (true_lang, pred_lang, n_docs).

    Determinism: every count is an exact integer; each log-probability
    is individually quantized to micro-nats (round(1e6*ln(ratio)) as
    BIGINT, the flow_srcaddr_entropy discipline), so the per-document
    score is an exact INTEGER sum — shuffle/merge order cannot perturb
    the argmax; ties break on lang ascending via row_number.

    Scale shape: the model is aggregation output — token-conditional
    table (V×L rows), per-lang totals, priors — all broadcast to the
    scoring scan (model-sized at any corpus scale: the vocab, not the
    corpus). Scoring is one explode + broadcast joins + one
    map-side-combinable groupBy(doc,lang); the lang dim (|L| rows)
    rides a broadcast crossJoin so unseen tokens get the Laplace
    floor per lang without a second pass."""
    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    train = d.filter(_md5_bucket() < TRAIN_HEX_CUT)
    test = d.filter(_md5_bucket() >= TRAIN_HEX_CUT)
    tok_tr = train.select("lang", F.explode(_tokens()).alias("token"))
    cnt_lt = tok_tr.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("c"))
    lang_tok = tok_tr.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt_l"))
    vocab = tok_tr.agg(F.countDistinct("token").alias("v"))
    ntr = train.agg(F.count(F.lit(1)).alias("n_tr"))
    micronat = lambda x: F.round(1000000.0 * F.log(x)).cast("long")  # noqa: E731
    pri = (
        train.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_l"))
        .crossJoin(F.broadcast(ntr))
        .select(
            "lang",
            micronat(F.col("n_l").cast("double") / F.col("n_tr")).alias(
                "prior_s"
            ),
        )
    )
    langdim = lang_tok.crossJoin(F.broadcast(vocab))
    tt = test.select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        F.explode(_tokens()).alias("token"),
    )
    scored = (
        tt.crossJoin(F.broadcast(langdim))
        .join(F.broadcast(cnt_lt), ["lang", "token"], "left")
        .select(
            "doc_id",
            "true_lang",
            "lang",
            micronat(
                (F.coalesce("c", F.lit(0)) + 1.0)
                / (F.col("cnt_l") + F.col("v"))
            ).alias("cond_s"),
        )
    )
    tot = (
        scored.groupBy("doc_id", "true_lang", "lang")
        .agg(F.sum("cond_s").alias("cs"))
        .join(F.broadcast(pri), "lang")
        .select(
            "doc_id",
            "true_lang",
            "lang",
            (F.col("cs") + F.col("prior_s")).alias("total"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("total"), F.asc("lang"))
    pred = tot.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        pred.groupBy("true_lang", F.col("lang").alias("pred_lang"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("true_lang", "pred_lang")
    )


BOTTOMK_N = 64


@register(
    "sample_bottom_k_consistent",
    oracle=f"""
        SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS h
        FROM documents
        ORDER BY h, doc_id LIMIT {BOTTOMK_N}
    """,
)
def sample_bottom_k_consistent(spark, sf_dir):
    """Consistent bottom-k corpus sample: the {BOTTOMK_N} documents with
    the smallest md5(doc_id) — a deterministic uniform sample that is
    also a MERGEABLE SKETCH: bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪
    bottom-k(B)), so per-shard samples union into the corpus sample
    with no resampling (and two corpora's bottom-k sets estimate their
    Jaccard overlap). That mergeability is why production pipelines
    key samples on a content hash rather than rand().

    Scale shape: orderBy(h).limit(k) plans as TakeOrderedAndProject —
    each task keeps a k-row heap and the driver merges k·tasks rows;
    no global sort, no single-partition window. The md5 hex ordering
    matches DuckDB's byte-wise varchar ordering exactly."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            "source",
            F.md5(F.col("doc_id").cast("string")).alias("h"),
        )
        .orderBy("h", "doc_id")
        .limit(BOTTOMK_N)
    )


@register(
    "text_bigram_lm_score",
    oracle=f"""
        WITH d AS (
          SELECT doc_id, text,
                 substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{TRAIN_HEX_CUT}'
                   AS is_train,
                 string_split(text, ' ') AS a
          FROM documents
        ),
        bg AS (
          SELECT doc_id, is_train, a[i] AS w1, a[i+1] AS w2
          FROM (SELECT doc_id, is_train, a,
                       unnest(range(1, len(a))) AS i
                FROM d)
        ),
        c2 AS (SELECT w1, w2, count(*) AS c FROM bg WHERE is_train GROUP BY 1, 2),
        c1 AS (SELECT w1, count(*) AS c1 FROM bg WHERE is_train GROUP BY 1),
        vocab AS (SELECT count(DISTINCT w1) AS v
                  FROM (SELECT w1 FROM bg WHERE is_train
                        UNION ALL SELECT w2 FROM bg WHERE is_train)),
        scored AS (
          SELECT b.doc_id,
                 CAST(round(1000000.0
                            * ln((coalesce(c, 0) + 1.0)
                                 / (coalesce(c1, 0) + v)))
                      AS BIGINT) AS lp_micro
          FROM bg b
          CROSS JOIN vocab
          LEFT JOIN c2 ON c2.w1 = b.w1 AND c2.w2 = b.w2
          LEFT JOIN c1 ON c1.w1 = b.w1
          WHERE NOT b.is_train
        )
        SELECT doc_id, count(*) AS n_bigrams,
               CAST(round(CAST(sum(lp_micro) AS DOUBLE) / count(*))
                    AS BIGINT) AS avg_logp_micro
        FROM scored GROUP BY doc_id
        ORDER BY doc_id
    """,
)
def text_bigram_lm_score(spark, sf_dir):
    """Bigram language-model quality score — the step up from the
    unigram text_perplexity_proxy: train add-one-smoothed bigram
    probabilities P(w2|w1) = (c(w1,w2)+1)/(c(w1)+V) on the md5 80%
    split, score held-out documents by mean bigram log-probability
    (low = locally incoherent token order, which unigram stats cannot
    see). The filter modern corpus pipelines actually run is exactly
    this shape with a KenLM binary; here the LM itself is relational.

    Determinism: each bigram log-prob is quantized to micro-nats
    (exact-integer inputs in, bigint out) before the per-doc sum, so
    the average is round(exact_int / exact_int) — shuffle-order-proof.

    Scale shape: the model (bigram table, unigram table, vocab
    scalar) is aggregation output, broadcast onto the scoring scan —
    corpus-scale-independent; scoring is one bigram explode + two
    broadcast left joins + one map-side-combinable groupBy(doc). The
    bigram explode is zip_with over two array slices — no self-join
    on positions."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.split("text", " ").alias("a"),
        (_md5_bucket() < TRAIN_HEX_CUT).alias("is_train"),
    )
    bg = d.select(
        "doc_id",
        "is_train",
        F.explode(
            F.expr(
                "zip_with(slice(a, 1, size(a) - 1),"
                " slice(a, 2, size(a) - 1),"
                " (x, y) -> struct(x AS w1, y AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "is_train", "b.w1", "b.w2")
    tr = bg.filter("is_train")
    c2 = tr.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    c1 = tr.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = (
        tr.select(F.col("w1").alias("w"))
        .unionAll(tr.select(F.col("w2").alias("w")))
        .agg(F.countDistinct("w").alias("v"))
    )
    scored = (
        bg.filter(~F.col("is_train"))
        .crossJoin(F.broadcast(vocab))
        .join(F.broadcast(c2), ["w1", "w2"], "left")
        .join(F.broadcast(c1), ["w1"], "left")
        .select(
            "doc_id",
            F.round(
                1000000.0
                * F.log(
                    (F.coalesce("c", F.lit(0)) + 1.0)
                    / (F.coalesce("c1", F.lit(0)) + F.col("v"))
                )
            )
            .cast("long")
            .alias("lp_micro"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.sum("lp_micro").cast("double") / F.count(F.lit(1)))
            .cast("long")
            .alias("avg_logp_micro"),
        )
        .orderBy("doc_id")
    )


SHARD_BYTES = 16384  # target shard size (bytes of text per output shard)
SHARD_BUCKET = 50  # doc_id range per prefix-sum bucket (two-level cumsum)


@register(
    "corpus_shard_export",
    oracle=f"""
        WITH sized AS (
          SELECT doc_id, strlen(text) AS nbytes FROM documents
        ),
        cum AS (
          SELECT doc_id, nbytes,
                 sum(nbytes) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - nbytes AS start_off
          FROM sized
        )
        SELECT CAST(start_off // {SHARD_BYTES} AS BIGINT) AS shard,
               count(*) AS n_docs,
               CAST(sum(nbytes) AS BIGINT) AS shard_bytes,
               CAST(min(doc_id) AS BIGINT) AS first_doc,
               CAST(max(doc_id) AS BIGINT) AS last_doc
        FROM cum GROUP BY 1 ORDER BY 1
    """,
)
def corpus_shard_export(spark, sf_dir):
    """Size-balanced training-shard export: assign documents (in
    stable doc_id order) to ~SHARD_BYTES shards by their byte START
    OFFSET in the concatenated corpus, write partitionBy(shard), and
    report the read-back manifest (shard, n_docs, bytes, doc range) —
    the exporter step that feeds a dataloader equal-sized files
    instead of row-count shards that skew 10x by document length.

    The global running total is computed as a TWO-LEVEL prefix sum —
    per-bucket byte totals (distributed groupBy), bucket offsets via a
    window over the dim-sized bucket table, then a within-bucket
    prefix window — so no single-partition window ever sees the
    corpus: the only unpartitioned window runs over |buckets| rows.
    The oracle states the same assignment with one flat window (legal
    at oracle scale). All integer arithmetic; shard boundaries are
    exact in both engines."""
    d = table(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id",
        F.octet_length("text").alias("nbytes"),
        (F.col("doc_id") / SHARD_BUCKET).cast("long").alias("bkt"),
    )
    bkt_tot = sized.groupBy("bkt").agg(F.sum("nbytes").alias("bkt_bytes"))
    w_bkt = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    bkt_off = bkt_tot.select(
        "bkt", (F.sum("bkt_bytes").over(w_bkt) - F.col("bkt_bytes")).alias("bkt_off")
    )
    w_in = (
        Window.partitionBy("bkt")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    assigned = (
        sized.withColumn(
            "in_off", F.sum("nbytes").over(w_in) - F.col("nbytes")
        )
        .join(F.broadcast(bkt_off), "bkt")
        .select(
            "doc_id",
            "nbytes",
            ((F.col("bkt_off") + F.col("in_off")) / SHARD_BYTES)
            .cast("long")
            .alias("shard"),
        )
    )
    out = scratch_dir("corpus_shard_export")
    assigned.repartition("shard").write.mode("overwrite").partitionBy(
        "shard"
    ).parquet(out)
    back = spark.read.parquet(out)
    return (
        back.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nbytes").alias("shard_bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .select(
            F.col("shard").cast("long").alias("shard"),
            "n_docs",
            "shard_bytes",
            "first_doc",
            "last_doc",
        )
        .orderBy("shard")
    )


RAKE_STOPWORDS = ("a", "the")
RAKE_TOP_K = 3


@register(
    "text_rake_keywords",
    oracle=f"""
        WITH tok AS (
          SELECT doc_id,
                 unnest(string_split(text, ' ')) AS term,
                 generate_subscripts(string_split(text, ' '), 1) AS pos
          FROM documents
        ),
        m AS (
          SELECT doc_id, term, pos,
                 CASE WHEN term IN {RAKE_STOPWORDS} THEN 1 ELSE 0 END AS is_stop
          FROM tok
        ),
        g AS (
          SELECT *, sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
                                       ROWS UNBOUNDED PRECEDING) AS grp
          FROM m
        ),
        ph AS (
          SELECT doc_id, grp,
                 string_agg(term, ' ' ORDER BY pos) AS phrase,
                 count(*) AS plen
          FROM g WHERE is_stop = 0
          GROUP BY doc_id, grp
        ),
        pw AS (
          SELECT g.doc_id, g.term, g.grp, ph.plen, ph.phrase
          FROM g JOIN ph ON g.doc_id = ph.doc_id AND g.grp = ph.grp
          WHERE g.is_stop = 0
        ),
        ws AS (
          SELECT doc_id, term, count(*) AS freq,
                 CAST(sum(plen) AS BIGINT) AS deg
          FROM pw GROUP BY doc_id, term
        ),
        psc AS (
          SELECT pw.doc_id, pw.grp, pw.phrase,
                 CAST(sum(CAST(round(1e6 * CAST(ws.deg AS DOUBLE) / ws.freq)
                               AS BIGINT)) AS BIGINT) AS score_u
          FROM pw JOIN ws ON pw.doc_id = ws.doc_id AND pw.term = ws.term
          GROUP BY pw.doc_id, pw.grp, pw.phrase
        ),
        dp AS (SELECT DISTINCT doc_id, phrase, score_u FROM psc)
        SELECT doc_id, phrase, score_u, rnk FROM (
          SELECT doc_id, phrase, score_u,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score_u DESC, phrase) AS rnk
          FROM dp
        ) WHERE rnk <= {RAKE_TOP_K}
    """,
)
def text_rake_keywords(spark, sf_dir):
    """RAKE keyword extraction (Rose et al. 2010), fully oracled:
    candidate phrases are maximal stopword-free token runs (the
    gaps-and-islands split on the running stopword count), per-doc
    word scores are degree/frequency where degree(w) = Σ phrase-length
    over w's phrases, and a phrase scores the sum of its words' scores
    — quantized to integer micro-units per WORD before the phrase sum,
    so the rank order is shuffle-proof and bit-identical to DuckDB.
    Top-3 per doc, ties broken lexicographically.

    Scale shape: everything is doc-local — tokenize/flag/island with
    one window per doc, two doc-keyed joins (phrase length, word
    score), no corpus-global state at all; the whole pipeline
    partitions on doc_id and would run unchanged at 100 TB. The
    phrase string itself is rebuilt from a per-island sort_array of
    (pos, term) structs — islands are a few tokens, so the HOF cost
    is bounded."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "term")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "term")
    m = tok.withColumn(
        "is_stop",
        F.when(F.col("term").isin(*RAKE_STOPWORDS), 1).otherwise(0),
    )
    wg = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    g = m.withColumn("grp", F.sum("is_stop").over(wg)).filter(
        F.col("is_stop") == 0
    )
    ph = g.groupBy("doc_id", "grp").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "term"))),
                lambda s: s.term,
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).alias("plen"),
    )
    pw = g.select("doc_id", "grp", "term").join(ph, ["doc_id", "grp"])
    ws = pw.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("deg")
    )
    score_u = F.round(
        F.lit(1e6) * F.col("deg").cast("double") / F.col("freq")
    ).cast("long")
    psc = (
        pw.join(ws, ["doc_id", "term"])
        .withColumn("wscore_u", score_u)
        .groupBy("doc_id", "grp", "phrase")
        .agg(F.sum("wscore_u").alias("score_u"))
    )
    dp = psc.select("doc_id", "phrase", "score_u").distinct()
    wr = Window.partitionBy("doc_id").orderBy(
        F.desc("score_u"), F.asc("phrase")
    )
    return (
        dp.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= RAKE_TOP_K)
    )


PMI_MIN_COUNT = 20
PMI_TOP_K = 20


@register(
    "text_collocation_pmi",
    oracle=f"""
        WITH tok AS (
          SELECT doc_id,
                 unnest(string_split(text, ' ')) AS term,
                 generate_subscripts(string_split(text, ' '), 1) AS pos
          FROM documents
        ),
        bi AS (
          SELECT doc_id, term AS w1,
                 lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
          FROM tok
        ),
        b2 AS (SELECT w1, w2 FROM bi WHERE w2 IS NOT NULL),
        cb AS (SELECT w1, w2, count(*) AS c_ab FROM b2 GROUP BY w1, w2),
        cu AS (SELECT term, count(*) AS c FROM tok GROUP BY term),
        tot AS (
          SELECT (SELECT count(*) FROM tok) AS n_uni,
                 (SELECT count(*) FROM b2) AS n_bi
        )
        SELECT w1, w2, c_ab,
               CAST(round(1e6 * ln((CAST(c_ab AS DOUBLE) * n_uni * n_uni)
                                   / (CAST(n_bi AS DOUBLE) * u1.c * u2.c)))
                 AS BIGINT) AS pmi_mnat
        FROM cb, tot
        JOIN cu u1 ON cb.w1 = u1.term
        JOIN cu u2 ON cb.w2 = u2.term
        WHERE c_ab >= {PMI_MIN_COUNT}
        ORDER BY pmi_mnat DESC, w1, w2 LIMIT {PMI_TOP_K}
    """,
)
def text_collocation_pmi(spark, sf_dir):
    """PMI-ranked bigram collocations — the corpus-linguistics measure
    behind phrase mining (word2vec's phrase pass, quality-signal
    n-grams): PMI(a,b) = ln(p(ab) / p(a)p(b)) over adjacent token
    pairs, computed from exact integer counts (bigram, two unigrams,
    two corpus totals) and quantized to integer micro-nats via ONE
    identical-structure double expression — rank order is therefore
    engine-exact; ties break lexicographically. Support floor c_ab ≥
    20 drops the unstable tail, top-20 emitted.

    Scale: two map-side-combinable counts (unigram, bigram — the
    bigram from a per-doc lead window, so no cross-doc pairs), corpus
    totals broadcast as a 1-row cross join, then a join of the bigram
    table to the (small, vocabulary-sized) unigram table twice —
    broadcastable at any corpus size since vocab ≪ corpus."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "term")
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    b2 = (
        tok.withColumn("w2", F.lead("term").over(wd))
        .filter(F.col("w2").isNotNull())
        .select(F.col("term").alias("w1"), "w2")
    )
    cb = b2.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
    cu = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    tot = tok.agg(F.count(F.lit(1)).alias("n_uni")).crossJoin(
        b2.agg(F.count(F.lit(1)).alias("n_bi"))
    )
    u1 = cu.select(F.col("term").alias("w1"), F.col("c").alias("c1"))
    u2 = cu.select(F.col("term").alias("w2"), F.col("c").alias("c2"))
    pmi = F.round(
        F.lit(1e6)
        * F.log(
            (F.col("c_ab").cast("double") * F.col("n_uni") * F.col("n_uni"))
            / (F.col("n_bi").cast("double") * F.col("c1") * F.col("c2"))
        )
    ).cast("long")
    return (
        cb.crossJoin(F.broadcast(tot))
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .filter(F.col("c_ab") >= PMI_MIN_COUNT)
        .select("w1", "w2", "c_ab", pmi.alias("pmi_mnat"))
        .orderBy(F.desc("pmi_mnat"), "w1", "w2")
        .limit(PMI_TOP_K)
    )


HEAPS_CHECKPOINT = 50


@register(
    "text_heaps_law",
    oracle=f"""
        WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents
        ),
        per_doc AS (
          SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id
        ),
        first_doc AS (
          SELECT min(doc_id) AS fd FROM tok GROUP BY term
        ),
        new_terms AS (
          SELECT fd AS doc_id, count(*) AS n_new FROM first_doc GROUP BY fd
        ),
        cum AS (
          SELECT p.doc_id,
                 CAST(sum(p.n_tok) OVER (ORDER BY p.doc_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tokens_seen,
                 CAST(sum(COALESCE(n.n_new, 0)) OVER (ORDER BY p.doc_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_size
          FROM per_doc p LEFT JOIN new_terms n ON p.doc_id = n.doc_id
        )
        SELECT doc_id, tokens_seen, vocab_size
        FROM cum WHERE doc_id % {HEAPS_CHECKPOINT} = {HEAPS_CHECKPOINT - 1}
    """,
)
def text_heaps_law(spark, sf_dir):
    """Heaps'-law vocabulary-growth curve: cumulative distinct terms
    vs cumulative tokens in doc_id ingestion order, sampled every 50
    docs — the curve that sizes tokenizer vocabularies and predicts
    novel-type rates for a growing corpus. "Running distinct" is
    rewritten exactly (no sketch): a term contributes at its FIRST
    document (one min() aggregate per term), so the curve is two
    prefix sums over the per-doc spine — new-term counts and token
    counts — left-joined and filtered to checkpoints.

    Scale: both aggregates are map-side combinable; only the per-doc
    spine (bounded by doc count, tiny vs tokens) is prefix-summed —
    at 100 TB that spine gets the corpus_shard_export two-level
    treatment and the min-per-term agg IS the standard first-seen
    attribution shape."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    per_doc = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    new_terms = (
        tok.groupBy("term")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    w = Window.orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        per_doc.join(new_terms, "doc_id", "left")
        .select(
            "doc_id",
            F.sum("n_tok").over(w).alias("tokens_seen"),
            F.sum(F.coalesce("n_new", F.lit(0))).over(w).alias("vocab_size"),
        )
    )
    return cum.filter(
        F.col("doc_id") % HEAPS_CHECKPOINT == HEAPS_CHECKPOINT - 1
    )


PHRASE_W1, PHRASE_W2 = "table", "hash"


@register(
    "text_phrase_search",
    oracle=f"""
        WITH tok AS (
          SELECT doc_id,
                 unnest(string_split(text, ' ')) AS term,
                 generate_subscripts(string_split(text, ' '), 1) AS pos
          FROM documents
        ),
        a AS (SELECT doc_id, pos FROM tok WHERE term = '{PHRASE_W1}'),
        b AS (SELECT doc_id, pos FROM tok WHERE term = '{PHRASE_W2}')
        SELECT a.doc_id, count(*) AS n_hits,
               CAST(min(a.pos) AS BIGINT) AS first_pos
        FROM a JOIN b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        GROUP BY a.doc_id
    """,
)
def text_phrase_search(spark, sf_dir):
    """Exact phrase query ("table hash") over a POSITIONAL inverted
    index — the IR primitive full-text engines run: postings are
    (doc, position) lists per term, and phrase matching is an
    adjacency self-join (pos_b = pos_a + 1 within the document),
    never a substring scan of raw text. Returns per-doc hit count and
    first occurrence.

    Scale: the index build is one tokenize pass; each term's postings
    are a selective slice of it (the filter pushes onto the term
    column), and the adjacency join shuffles only the two postings
    lists on doc_id — at 100 TB the postings table is the
    materialized asset and every phrase query is this same bounded
    join, the reason search engines store positions at all."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "term")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "term")
    a = tok.filter(F.col("term") == PHRASE_W1).select("doc_id", "pos")
    b = tok.filter(F.col("term") == PHRASE_W2).select(
        "doc_id", F.col("pos").alias("pos_b")
    )
    return (
        a.join(b, ["doc_id"])
        .filter(F.col("pos_b") == F.col("pos") + 1)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.min("pos").alias("first_pos"),
        )
    )


BLOOM_M = 16384  # bits in the eval-shingle bloom
# k = 3 portable hash functions: h_s(b) = ((A*b + B) mod P) mod M over
# the md5-prefix base b — the same exact-BIGINT affine family as the
# MinHash permutations (dedup.py), so DuckDB reproduces every bit
# position and the bloom's false positives are engine-independent.
BLOOM_P = 2147483647
BLOOM_AB = ((793517, 1001), (1676971, 2002), (2435463, 3003))

_BLOOM_POS_SQL = ", ".join(
    f"(({a}*hb + {b}) % {BLOOM_P}) % {BLOOM_M}" for a, b in BLOOM_AB
)
BLOOM_SQL = f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    sh AS MATERIALIZED (
        SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
        FROM t, unnest(range(1, len(toks)-1)) r(i)),
    hb AS (SELECT doc_id, shingle,
                  CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) % {BLOOM_P} AS hb
           FROM sh),
    eval_bits AS MATERIALIZED (
        SELECT DISTINCT p
        FROM (SELECT unnest([{_BLOOM_POS_SQL}]) AS p
              FROM hb WHERE doc_id < {EVAL_MAX_ID})),
    train AS (SELECT doc_id, shingle,
                     unnest([{_BLOOM_POS_SQL}]) AS p
              FROM hb WHERE doc_id >= {EVAL_MAX_ID}),
    screened AS (SELECT tr.doc_id, tr.shingle
                 FROM train tr JOIN eval_bits e ON tr.p = e.p
                 GROUP BY 1, 2 HAVING count(*) = {len(BLOOM_AB)}),
    tot AS (SELECT doc_id, count(*) AS n_shingles
            FROM sh WHERE doc_id >= {EVAL_MAX_ID} GROUP BY doc_id)
    SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_screened, tot.n_shingles
    FROM screened s JOIN tot ON s.doc_id = tot.doc_id
    GROUP BY s.doc_id, tot.n_shingles
"""


@register("text_contamination_bloom", oracle=BLOOM_SQL)
def text_contamination_bloom(spark, sf_dir):
    """Decontamination SCREEN via an explicit bloom filter of the
    eval-set shingles, spelled in DataFrame ops (Spark's
    bloom_filter_agg is optimizer-internal, not a SQL-callable
    surface): each eval shingle sets k=3 bit positions via the
    portable md5-affine family (((A*hb + B) mod P) mod m); the bit
    SET (distinct positions, ≤ m rows — filter-sized, never
    corpus-sized) broadcasts onto the training scan, where a shingle
    passes the screen iff ALL k of its positions hit (explode →
    broadcast join → count==k). Output = per-doc screened shingle
    counts. One-sided by construction: tests/test_llm_ops.py asserts
    per-doc screened ≥ the exact join's contaminated count, with a
    bounded corpus-level overshoot (fp rate ≈ (1−e^{−kn/m})^k). The
    portable hashes make every bit position — and hence every false
    positive — engine-independent: full value-hash oracle (upgraded
    from rows-only in round 5).

    Scale: this is the two-tier shape decontamination runs at 100 TB —
    the broadcast relation is the BIT SET (bounded by m regardless of
    eval size), the corpus is scanned once, and only screen survivors
    would flow to the exact verify."""
    from .dedup import shingles

    d = table(spark, sf_dir, "documents")
    sh = shingles(d).withColumn(
        "hb",
        F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("long")
        % F.lit(BLOOM_P),
    )

    def positions():
        return F.array(
            *[
                ((F.lit(a) * F.col("hb") + F.lit(b)) % F.lit(BLOOM_P))
                % F.lit(BLOOM_M)
                for a, b in BLOOM_AB
            ]
        )

    eval_bits = (
        sh.filter(F.col("doc_id") < EVAL_MAX_ID)
        .select(F.explode(positions()).alias("bit"))
        .distinct()
    )
    train = sh.filter(F.col("doc_id") >= EVAL_MAX_ID).select(
        "doc_id", "shingle", F.explode(positions()).alias("bit")
    )
    screened_occ = (
        train.join(F.broadcast(eval_bits), "bit")
        .groupBy("doc_id", "shingle")
        .agg(F.count(F.lit(1)).alias("k_hits"))
        .filter(F.col("k_hits") == len(BLOOM_AB))
    )
    tot = (
        sh.filter(F.col("doc_id") >= EVAL_MAX_ID)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shingles"))
    )
    return (
        screened_occ.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_screened"))
        .join(tot, "doc_id")
        .select("doc_id", "n_screened", "n_shingles")
    )


@register("text_compression_ratio")  # rows-only: no zlib in SQL; replica-tested
def text_compression_ratio(spark, sf_dir):
    """Compression-ratio quality signal (the Gopher/RefinedWeb-style
    repetitiveness filter): deflate each document at a FIXED zlib
    level and report compressed/raw bytes — highly repetitive or
    templated text compresses far below the corpus norm and gets
    filtered before training. zlib with pinned level is
    bit-deterministic, so the op is exactly replayable; there is no
    SQL-side deflate, so the differential is a pure-Python replica
    test (tests/test_llm_ops.py) asserting byte-equal ratios on the
    fixture corpus plus the doubling property (text+text compresses
    strictly better than text).

    Scale: one Arrow-batched map-only pass, ~MB/s-per-core deflate —
    the standard cheap quality feature computed alongside language ID
    in a single corpus scan."""
    import zlib

    d = table(spark, sf_dir, "documents")

    @F.pandas_udf("long")
    def comp_bytes(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: len(zlib.compress(t.encode("utf-8"), 6))
        )

    raw_bytes = F.octet_length("text").cast("long")
    return d.select(
        "doc_id",
        raw_bytes.alias("raw_bytes"),
        comp_bytes("text").alias("comp_bytes"),
    ).withColumn(
        "ratio",
        F.round(F.col("comp_bytes").cast("double") / F.col("raw_bytes"), 6),
    )


@register(
    "text_js_divergence_sources",
    oracle="""
        WITH tok AS (
          SELECT source, unnest(string_split(text, ' ')) AS token
          FROM documents
        ),
        st AS (SELECT source, token, count(*) AS c FROM tok GROUP BY 1, 2),
        sn AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM st GROUP BY 1),
        gt AS (SELECT token, CAST(sum(c) AS BIGINT) AS cg FROM st GROUP BY 1),
        n AS (SELECT CAST(sum(cg) AS BIGINT) AS ng FROM gt),
        grid AS (
          SELECT sn.source, sn.ns, gt.token, gt.cg,
                 coalesce(st.c, 0) AS cs
          FROM sn
          JOIN gt ON true
          LEFT JOIN st ON st.source = sn.source AND st.token = gt.token
        ),
        terms AS (
          SELECT source,
                 CAST(round(1000000.0 * (
                   CASE WHEN cs = 0 THEN 0.0
                        ELSE (CAST(cs AS DOUBLE) / ns)
                             * ln((CAST(cs AS DOUBLE) / ns)
                                  / ((CAST(cs AS DOUBLE) / ns
                                      + CAST(cg AS DOUBLE) / n.ng) / 2.0))
                   END
                   + (CAST(cg AS DOUBLE) / n.ng)
                     * ln((CAST(cg AS DOUBLE) / n.ng)
                          / ((CAST(cs AS DOUBLE) / ns
                              + CAST(cg AS DOUBLE) / n.ng) / 2.0))
                 )) AS BIGINT) AS u
          FROM grid, n
        )
        SELECT source,
               round(CAST(sum(u) AS DOUBLE) / 2.0 / 1000000.0, 6)
                 AS jsd_nats
        FROM terms GROUP BY source
    """,
)
def text_js_divergence_sources(spark, sf_dir):
    """Jensen-Shannon divergence of each source's unigram distribution
    against the GLOBAL corpus distribution — the corpus-drift
    diagnostic mix curation runs before reweighting (a source whose
    JSD spikes is off-distribution). JSD(P_s, Q) =
    (KL(P_s||M) + KL(Q||M))/2 with M the midpoint; tokens missing
    from a source contribute only the Q-side term (p=0 branch), and
    every per-token summand is micro-nat-quantized to int64 before
    the per-source sum, so the accumulation is shuffle-order-proof.

    Scale: token counts are map-side-combinable; the (source x vocab)
    grid is |sources| * |vocab| rows built from a broadcast source
    spine — at 100 TB vocab is capped to top-K tokens (the standard
    practice) and the shape is unchanged."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(_tokens()).alias("token"))
    st = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("c"))
    sn = st.groupBy("source").agg(F.sum("c").alias("ns"))
    gt = st.groupBy("token").agg(F.sum("c").alias("cg"))
    ng_row = gt.agg(F.sum("cg").alias("ng"))
    grid = (
        F.broadcast(sn)
        .crossJoin(gt)
        .join(
            st.withColumnsRenamed({"source": "s2", "token": "t2"}),
            (F.col("s2") == F.col("source")) & (F.col("t2") == F.col("token")),
            "left",
        )
        .select(
            "source",
            "ns",
            "token",
            "cg",
            F.coalesce(F.col("c"), F.lit(0)).alias("cs"),
        )
        .crossJoin(F.broadcast(ng_row))
    )
    p = F.col("cs").cast("double") / F.col("ns")
    q = F.col("cg").cast("double") / F.col("ng")
    m = (p + q) / 2.0
    term = (
        F.when(F.col("cs") == 0, F.lit(0.0)).otherwise(p * F.log(p / m))
        + q * F.log(q / m)
    )
    terms = grid.select(
        "source",
        F.round(1000000.0 * term).cast("long").alias("u"),
    )
    return terms.groupBy("source").agg(
        F.round(F.sum("u").cast("double") / 2.0 / 1000000.0, 6).alias(
            "jsd_nats"
        )
    )


@register(
    "text_msttr_diversity",
    oracle="""
        WITH tok AS (
          SELECT doc_id,
                 generate_subscripts(string_split(text, ' '), 1) AS pos,
                 unnest(string_split(text, ' ')) AS token
          FROM documents
        ),
        seg AS (
          SELECT doc_id, CAST((pos - 1) // 50 AS BIGINT) AS segment,
                 token
          FROM tok
        ),
        sizes AS (
          SELECT doc_id, segment, count(*) AS n_tok,
                 count(DISTINCT token) AS n_types
          FROM seg GROUP BY 1, 2
        ),
        full_segs AS (
          SELECT doc_id, n_types FROM sizes WHERE n_tok = 50
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_segments,
               CAST(sum(n_types) AS BIGINT) AS sum_types,
               round(CAST(sum(n_types) AS DOUBLE) / count(*) / 50.0, 6)
                 AS msttr
        FROM full_segs GROUP BY doc_id
    """,
)
def text_msttr_diversity(spark, sf_dir):
    """Mean segmental type-token ratio (MSTTR-50): lexical diversity
    measured over NON-overlapping 50-token segments, dropping the
    ragged tail segment — the standard fix for raw TTR's document-
    length bias (long docs always look less diverse). Segment
    assignment is integer position arithmetic, per-segment type
    counts are exact, and the score is one double division; docs
    shorter than 50 tokens produce no full segment and drop out, the
    conventional MSTTR behavior.

    Scale: tokenize → (doc, segment) groupBy with map-side partials —
    unlike the O(n·w) sliding MATTR, the segmental form costs one
    pass and shuffles only (doc, segment, token) distincts."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.posexplode(_tokens()).alias("pos0", "token"),
    ).select(
        "doc_id",
        (F.col("pos0") / 50).cast("long").alias("segment"),
        "token",
    )
    sizes = tok.groupBy("doc_id", "segment").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.countDistinct("token").alias("n_types"),
    )
    full_segs = sizes.filter(F.col("n_tok") == 50)
    return full_segs.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum("n_types").alias("sum_types"),
        F.round(
            F.sum("n_types").cast("double") / F.count(F.lit(1)) / 50.0, 6
        ).alias("msttr"),
    )


@register(
    "text_bleu_pair_overlap",
    oracle="""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                   FROM documents),
        sh AS (SELECT DISTINCT doc_id,
                      toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                        AS shingle
               FROM t, unnest(range(1, len(toks)-1)) r(i)),
        sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        prs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       count(*) AS n_common
                FROM sh a JOIN sh b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
        pairs AS (
          SELECT doc_a, doc_b
          FROM prs JOIN sz sa ON doc_a = sa.doc_id
                  JOIN sz sb ON doc_b = sb.doc_id
          WHERE n_common / (sa.n + sb.n - n_common) >= 0.2
        ),
        uni AS (SELECT doc_id, unnest(toks) AS g FROM t),
        u1 AS (SELECT doc_id, g, count(*) AS c FROM uni GROUP BY 1, 2),
        len1 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n
                 FROM u1 GROUP BY 1),
        bi AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS g
               FROM t, unnest(range(1, len(toks))) r(i)),
        u2 AS (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY 1, 2),
        len2 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n
                 FROM u2 GROUP BY 1),
        clip1 AS (
          SELECT p.doc_a, p.doc_b,
                 CAST(sum(least(a.c, b.c)) AS BIGINT) AS m
          FROM pairs p
          JOIN u1 a ON a.doc_id = p.doc_a
          JOIN u1 b ON b.doc_id = p.doc_b AND b.g = a.g
          GROUP BY 1, 2
        ),
        clip2 AS (
          SELECT p.doc_a, p.doc_b,
                 CAST(sum(least(a.c, b.c)) AS BIGINT) AS m
          FROM pairs p
          JOIN u2 a ON a.doc_id = p.doc_a
          JOIN u2 b ON b.doc_id = p.doc_b AND b.g = a.g
          GROUP BY 1, 2
        )
        SELECT p.doc_a, p.doc_b,
               round(CAST(coalesce(c1.m, 0) AS DOUBLE) / l1a.n, 6) AS p1,
               round(CAST(coalesce(c2.m, 0) AS DOUBLE) / l2a.n, 6) AS p2,
               round(CASE WHEN l1a.n >= l1b.n THEN 1.0
                          ELSE exp(1.0 - CAST(l1b.n AS DOUBLE) / l1a.n)
                     END, 6) AS brevity_penalty,
               round(CASE WHEN l1a.n >= l1b.n THEN 1.0
                          ELSE exp(1.0 - CAST(l1b.n AS DOUBLE) / l1a.n)
                     END
                     * sqrt((CAST(coalesce(c1.m, 0) AS DOUBLE) / l1a.n)
                            * (CAST(coalesce(c2.m, 0) AS DOUBLE)
                               / l2a.n)), 6) AS bleu2
        FROM pairs p
        JOIN len1 l1a ON l1a.doc_id = p.doc_a
        JOIN len1 l1b ON l1b.doc_id = p.doc_b
        JOIN len2 l2a ON l2a.doc_id = p.doc_a
        LEFT JOIN clip1 c1 ON c1.doc_a = p.doc_a AND c1.doc_b = p.doc_b
        LEFT JOIN clip2 c2 ON c2.doc_a = p.doc_a AND c2.doc_b = p.doc_b
    """,
)
def text_bleu_pair_overlap(spark, sf_dir):
    """BLEU-2 between each near-duplicate pair (lower doc_id as
    candidate, higher as reference) — the generation-eval metric
    family applied to the dedup pipeline's own pairs: clipped unigram
    and bigram precision (counts clipped at the reference's count,
    the anti-gaming core of BLEU), the brevity penalty for short
    candidates, and their geometric mean via sqrt (no ln round-trip).
    All counts are exact int64; only the final precision ratios, the
    BP exponential, and the sqrt are doubles — identical expressions
    both engines, 6 dp.

    Scale: n-gram count tables are map-side-combinable; the clipped
    intersection is a pairs-driven join on (gram), so cost is
    O(pairs * shared-vocab), never corpus-quadratic — the pair list
    is the (already-bucketed) dedup output."""
    d = table(spark, sf_dir, "documents")
    # persist: the pair list feeds BOTH clipped joins and the final
    # assembly — without the pin each consumer re-derives the whole
    # shingle-jaccard subtree (the dominant cost; measured ~3x the
    # useful work at sf0.1). Kept LAZY deliberately: an eager
    # checkpoint here serializes the subtree ahead of everything else
    # and measured +2.1 s — the concurrent branches overlap it instead
    # (r13 A/B; guide §2.6).
    pairs = dedup_ngram_jaccard_pairs(spark, sf_dir).persist()
    toks = F.split("text", " ")
    uni = d.select("doc_id", F.explode(toks).alias("g"))
    u1 = uni.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    len1 = u1.groupBy("doc_id").agg(F.sum("c").alias("n"))
    big = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(split(text, ' '), 1, "
                "size(split(text, ' ')) - 1), "
                "(x, i) -> concat(x, ' ', split(text, ' ')[i + 1]))"
            )
        ).alias("g"),
    )
    u2 = big.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    len2 = u2.groupBy("doc_id").agg(F.sum("c").alias("n"))

    def clipped(u):
        a = u.withColumnsRenamed({"doc_id": "doc_a", "c": "ca"})
        b = u.withColumnsRenamed({"doc_id": "doc_b", "c": "cb"})
        return (
            pairs.join(a, "doc_a")
            .join(b, ["doc_b", "g"])
            .groupBy("doc_a", "doc_b")
            .agg(F.sum(F.least("ca", "cb")).alias("m"))
        )

    c1 = clipped(u1).withColumnsRenamed({"m": "m1"})
    c2 = clipped(u2).withColumnsRenamed({"m": "m2"})
    l1a = len1.withColumnsRenamed({"doc_id": "doc_a", "n": "n1a"})
    l1b = len1.withColumnsRenamed({"doc_id": "doc_b", "n": "n1b"})
    l2a = len2.withColumnsRenamed({"doc_id": "doc_a", "n": "n2a"})
    j = (
        pairs.join(F.broadcast(l1a), "doc_a")
        .join(F.broadcast(l1b), "doc_b")
        .join(F.broadcast(l2a), "doc_a")
        .join(c1, ["doc_a", "doc_b"], "left")
        .join(c2, ["doc_a", "doc_b"], "left")
    )
    p1 = F.coalesce(F.col("m1"), F.lit(0)).cast("double") / F.col("n1a")
    p2 = F.coalesce(F.col("m2"), F.lit(0)).cast("double") / F.col("n2a")
    bp = F.when(F.col("n1a") >= F.col("n1b"), F.lit(1.0)).otherwise(
        F.exp(1.0 - F.col("n1b").cast("double") / F.col("n1a"))
    )
    return j.select(
        "doc_a",
        "doc_b",
        F.round(p1, 6).alias("p1"),
        F.round(p2, 6).alias("p2"),
        F.round(bp, 6).alias("brevity_penalty"),
        F.round(bp * F.sqrt(p1 * p2), 6).alias("bleu2"),
    )


def dedup_ngram_jaccard_pairs(spark, sf_dir):
    """Shared (doc_a, doc_b) near-dup pair list at the base 0.2
    threshold, imported lazily from the dedup module to avoid a
    circular import at package load."""
    from .dedup import dedup_ngram_jaccard

    return dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")


@register(
    "text_char_entropy",
    oracle="""
        WITH ch AS (
          SELECT lang, unnest(string_split(text, '')) AS ch
          FROM documents
        ),
        c AS (
          SELECT lang, ch, count(*) AS cnt
          FROM ch WHERE ch <> '' GROUP BY 1, 2
        ),
        t AS (
          SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_chars,
                 count(*) AS n_distinct_chars
          FROM c GROUP BY 1
        ),
        q AS (
          SELECT c.lang,
                 CAST(sum(CAST(round(
                   1000000.0 * (CAST(cnt AS DOUBLE) / n_chars)
                   * ln(CAST(n_chars AS DOUBLE) / cnt)
                 ) AS BIGINT)) AS BIGINT) AS entropy_micro_nats
          FROM c JOIN t USING (lang) GROUP BY 1
        )
        SELECT t.lang, t.n_chars, t.n_distinct_chars,
               q.entropy_micro_nats,
               round(CAST(q.entropy_micro_nats AS DOUBLE)
                     / 1000000.0 / ln(2), 6) AS entropy_bits
        FROM t JOIN q ON t.lang = q.lang
    """,
)
def text_char_entropy(spark, sf_dir):
    """Character-level Shannon entropy per language — the corpus
    screen that separates natural text (~4 bits/char for English)
    from base64 blobs, minified code, or repeated-boilerplate spam.
    Chars are exploded once and reduced to a (lang, char) count
    spine; each char's -p*ln(p) contribution is quantized to integer
    micro-nats BEFORE the per-lang sum (shuffle-order-proof), and the
    bits conversion is one identical double expression at the end.

    Scale: the explode is a map-only 1->n_chars expansion feeding a
    map-side-combinable groupBy, so the shuffle carries only the
    (lang, char) spine (~hundreds of rows per language, regardless of
    corpus size); the entropy fold then runs on that spine. At 100 TB
    this is scan-bound with a trivially small state."""
    d = table(spark, sf_dir, "documents")
    c = (
        d.select("lang", F.explode(F.split("text", "")).alias("ch"))
        .filter(F.col("ch") != "")
        .groupBy("lang", "ch")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    t = c.groupBy("lang").agg(
        F.sum("cnt").alias("n_chars"),
        F.count(F.lit(1)).alias("n_distinct_chars"),
    )
    q = (
        c.join(F.broadcast(t.select("lang", "n_chars")), "lang")
        .groupBy("lang")
        .agg(
            F.sum(
                F.round(
                    1000000.0
                    * (F.col("cnt").cast("double") / F.col("n_chars"))
                    * F.log(
                        F.col("n_chars").cast("double") / F.col("cnt")
                    )
                ).cast("long")
            ).alias("entropy_micro_nats")
        )
    )
    return t.join(q, "lang").select(
        "lang",
        "n_chars",
        "n_distinct_chars",
        "entropy_micro_nats",
        F.round(
            F.col("entropy_micro_nats").cast("double")
            / 1000000.0
            / math.log(2),
            6,
        ).alias("entropy_bits"),
    )


@register(
    "text_hapax_legomena_ratio",
    oracle="""
        WITH tok AS (
          SELECT lang, unnest(string_split(text, ' ')) AS token
          FROM documents
        ),
        c AS (
          SELECT lang, token, count(*) AS n
          FROM tok GROUP BY 1, 2
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS vocab_size,
               CAST(sum(CAST(n = 1 AS BIGINT)) AS BIGINT) AS hapax_count,
               CAST(sum(CAST(n = 2 AS BIGINT)) AS BIGINT) AS dis_count,
               round(CAST(sum(CAST(n = 1 AS BIGINT)) AS DOUBLE)
                     / count(*), 6) AS hapax_ratio
        FROM c GROUP BY 1
    """,
)
def text_hapax_legomena_ratio(spark, sf_dir):
    """Hapax legomena ratio per language — the fraction of the
    vocabulary occurring exactly once (plus dis legomena, twice), the
    lexical-richness screen that flags OCR noise and boilerplate
    corpora (natural corpora sit near ~0.4-0.6 hapax by Zipf; spam
    and template text crater it). Pure integer counting on the
    (lang, token) spine; the only double is the final ratio.

    Scale: tokenization is a map-only explode into a
    map-side-combinable (lang, token) groupBy — same contract as
    text_wordcount; the second aggregation runs on the vocab spine
    (sublinear in corpus size by Heaps' law)."""
    d = table(spark, sf_dir, "documents")
    c = (
        d.select("lang", F.explode(_tokens()).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return c.groupBy("lang").agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum((F.col("n") == 1).cast("long")).alias("hapax_count"),
        F.sum((F.col("n") == 2).cast("long")).alias("dis_count"),
        F.round(
            F.sum((F.col("n") == 1).cast("long")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("hapax_ratio"),
    )


DSIR_BUCKETS = 4096
DSIR_TARGET_LANG = "en"
DSIR_KEEP_FRAC = 5  # keep top 1/5 of the corpus


@register(
    "corpus_dsir_select",
    oracle=f"""
        WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS a
                   FROM documents),
        feats AS MATERIALIZED (
          SELECT doc_id, lang,
                 CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT)
                   % {DSIR_BUCKETS} AS bucket
          FROM (
            SELECT doc_id, lang, unnest(a) AS f FROM t
            UNION ALL
            SELECT doc_id, lang, a[i] || ' ' || a[i + 1] AS f
            FROM t, unnest(range(1, len(a))) r(i))),
        rawc AS MATERIALIZED (
          SELECT bucket, count(*) AS cr FROM feats GROUP BY 1),
        tgtc AS MATERIALIZED (
          SELECT bucket, count(*) AS ct FROM feats
          WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY 1),
        tot AS (SELECT (SELECT count(*) FROM feats) AS tr,
                       (SELECT count(*) FROM feats
                        WHERE lang = '{DSIR_TARGET_LANG}') AS tt),
        lr AS MATERIALIZED (
          SELECT r.bucket,
                 CAST(round(1000000.0 * (
                      ln(coalesce(g.ct, 0) + 1.0)
                      - ln(tot.tt + {DSIR_BUCKETS}.0)
                      - ln(r.cr + 1.0)
                      + ln(tot.tr + {DSIR_BUCKETS}.0))) AS BIGINT)
                   AS lr_micro
          FROM rawc r LEFT JOIN tgtc g USING (bucket), tot),
        w AS MATERIALIZED (
          SELECT f.doc_id,
                 CAST(count(*) AS BIGINT) AS n_features,
                 CAST(sum(l.lr_micro) AS BIGINT) AS dsir_weight_micro
          FROM feats f JOIN lr l USING (bucket) GROUP BY 1),
        n AS (SELECT count(*) AS nd FROM documents)
        SELECT w.doc_id, n_features, dsir_weight_micro,
               CAST(row_number() OVER (ORDER BY dsir_weight_micro DESC,
                    w.doc_id) AS BIGINT) AS sel_rank,
               row_number() OVER (ORDER BY dsir_weight_micro DESC, w.doc_id)
                 <= n.nd // {DSIR_KEEP_FRAC} AS selected
        FROM w, n
    """,
)
def corpus_dsir_select(spark, sf_dir):
    """Data Selection via Importance Resampling (DSIR, Xie et al.
    2023) — THE published recipe for steering a raw 100 TB crawl
    toward a target domain with nothing but hashed n-gram counts:
    every document scores sum over its features (unigrams + bigrams,
    hashed into {DSIR_BUCKETS} buckets) of
    log p_target(bucket) − log p_raw(bucket), Laplace-smoothed bag
    models estimated from the corpus itself (target = the
    '{DSIR_TARGET_LANG}'-labeled slice standing in for the
    high-quality domain). Top 1/{DSIR_KEEP_FRAC} by weight are
    selected.

    Engine-exactness: the log-ratio is micro-nat-quantized ONCE per
    bucket in the model table (the proven ln-micro idiom), so
    per-document weights are exact BIGINT sums — shuffle-order-proof
    — and the whole selection value-hashes. The ranking uses the
    two-level range-partition primitive (`_global_rank`, shared with
    the suffix array), never a single-task window, so the final
    ordering is 100 TB-shaped too.

    Scale shape: feature hashing is map-only; the two count tables
    shrink to ≤{DSIR_BUCKETS} rows each (broadcast the model);
    per-doc weights are one map-side-combinable sum. That is the
    whole point of hashed DSIR — the model state is O(buckets), not
    O(vocab) — and why it runs where a neural quality classifier
    needs a GPU fleet."""
    lazy, feats = _dsir_build(spark, sf_dir)
    out = lazy.localCheckpoint(eager=True)
    feats.unpersist()
    return out


def _dsir_features(docs):
    """Hashed uni+bigram feature stream (doc_id, lang, bucket) — ONE
    spelling shared by the batch selector, the model trainer, and the
    streaming router, so a scored feature is always the same bucket
    everywhere."""
    base = docs.withColumn("a", F.split("text", " "))
    return base.select(
        "doc_id",
        "lang",
        F.explode(
            F.concat(
                "a",
                F.expr(
                    "transform(sequence(1, size(a) - 1),"
                    " i -> concat(a[i - 1], ' ', a[i]))"
                ),
            )
        ).alias("f"),
    ).select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5("f"), 1, 8), 16, 10).cast("long")
            % DSIR_BUCKETS
        ).alias("bucket"),
    )


def _dsir_model(feats):
    """Per-bucket micro-nat log-ratio model table from a (cached)
    feature frame: Laplace-smoothed target/raw bag models, quantized
    once so downstream sums are exact BIGINTs. Returns the lazy lr
    frame (bounded by the bucket count — always broadcastable)."""
    tr, tt = feats.agg(
        F.count(F.lit(1)),
        F.sum((F.col("lang") == DSIR_TARGET_LANG).cast("long")),
    ).collect()[0]
    rawc = feats.groupBy("bucket").agg(F.count(F.lit(1)).alias("cr"))
    tgtc = (
        feats.filter(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    return rawc.join(tgtc, "bucket", "left").select(
        "bucket",
        F.round(
            F.lit(1_000_000.0)
            * (
                F.log(F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1.0))
                - F.log(F.lit(float(tt + DSIR_BUCKETS)))
                - F.log(F.col("cr") + F.lit(1.0))
                + F.log(F.lit(float(tr + DSIR_BUCKETS)))
            ),
            0,
        )
        .cast("long")
        .alias("lr_micro"),
    )


def _dsir_weights(feats, lr):
    """The pre-ranking per-doc weight frame (model broadcast-joined to
    the per-doc features) — factored so the plan-pin test can assert
    the broadcast evidence on it directly (the fused ranking below
    checkpoints, which hides this subtree from the final plan)."""
    return (
        feats.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_features"),
            F.sum("lr_micro").cast("long").alias("dsir_weight_micro"),
        )
        .withColumn("neg_w", -F.col("dsir_weight_micro"))
    )


def _dsir_build(spark, sf_dir):
    """Lazy DSIR selection + the cached feature frame, factored so the
    registered op can checkpoint-then-unpersist."""
    from .suffix import _global_rank_rows

    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    feats = _dsir_features(d).persist()
    lr = _dsir_model(feats)
    w = _dsir_weights(feats, lr)
    # (neg_w, doc_id) is unique per row (doc_id alone is) — the rank
    # attaches directly; no distinct pass, no join-back (fused
    # `_global_rank_rows`, optimization round 13)
    ranked, nd = _global_rank_rows(
        w, ["neg_w", "doc_id"],
        keep=["doc_id", "n_features", "dsir_weight_micro"],
    )
    out = ranked.select(
        "doc_id",
        "n_features",
        "dsir_weight_micro",
        F.col("_rank").alias("sel_rank"),
        (F.col("_rank") <= nd // DSIR_KEEP_FRAC).alias("selected"),
    )
    return out, feats


def _dsir_frozen_gate(train_docs):
    """Freeze the intake gate from the training increment: the DSIR
    per-bucket log-ratio model (persisted in memory, forced eager) and
    its calibration threshold — the median training-doc weight (exact
    rank here; approx_percentile at 100 TB). Raw hashed log-ratio sums
    are negatively centered by Laplace smoothing, so an uncalibrated
    sign test routes nothing (measured: 0 kept). One spelling shared
    by the router stream and the composed intake pipeline."""
    feats0 = _dsir_features(train_docs).persist()
    lr0 = _dsir_model(feats0).persist()
    lr0.count()  # freeze the model before the stream starts
    w0 = sorted(
        (
            r["w"]
            for r in feats0.join(F.broadcast(lr0), "bucket")
            .groupBy("doc_id")
            .agg(F.sum("lr_micro").cast("long").alias("w"))
            .collect()
        ),
        reverse=True,
    )
    t0 = w0[(len(w0) + 1) // 2 - 1]
    feats0.unpersist()
    return lr0, t0


ROUTER_SQL = f"""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS a
               FROM documents),
    m AS (SELECT max(doc_id) AS mx FROM documents),
    feats AS MATERIALIZED (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT)
               % {DSIR_BUCKETS} AS bucket
      FROM (
        SELECT doc_id, lang, unnest(a) AS f FROM t
        UNION ALL
        SELECT doc_id, lang, a[i] || ' ' || a[i + 1] AS f
        FROM t, unnest(range(1, len(a))) r(i))),
    b0 AS MATERIALIZED (
      SELECT f.* FROM feats f, m
      WHERE (3 * f.doc_id) // (m.mx + 1) = 0),
    rawc AS MATERIALIZED (
      SELECT bucket, count(*) AS cr FROM b0 GROUP BY 1),
    tgtc AS MATERIALIZED (
      SELECT bucket, count(*) AS ct FROM b0
      WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY 1),
    tot AS (SELECT (SELECT count(*) FROM b0) AS tr,
                   (SELECT count(*) FROM b0
                    WHERE lang = '{DSIR_TARGET_LANG}') AS tt),
    lr AS MATERIALIZED (
      SELECT r.bucket,
             CAST(round(1000000.0 * (
                  ln(coalesce(g.ct, 0) + 1.0)
                  - ln(tot.tt + {DSIR_BUCKETS}.0)
                  - ln(r.cr + 1.0)
                  + ln(tot.tr + {DSIR_BUCKETS}.0))) AS BIGINT) AS lr_micro
      FROM rawc r LEFT JOIN tgtc g USING (bucket), tot),
    w AS MATERIALIZED (
      SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_scored,
             CAST(sum(l.lr_micro) AS BIGINT) AS wsum
      FROM feats f JOIN lr l USING (bucket) GROUP BY 1),
    thr AS (
      SELECT min(wsum) AS t0 FROM (
        SELECT w.wsum,
               row_number() OVER (ORDER BY w.wsum DESC, w.doc_id) AS rn,
               count(*) OVER () AS n0
        FROM w, m WHERE (3 * w.doc_id) // (m.mx + 1) = 0)
      WHERE rn <= (n0 + 1) // 2)
    SELECT d.doc_id,
           CAST((3 * d.doc_id) // (m.mx + 1) AS BIGINT) AS batch_id,
           CAST(coalesce(w.n_scored, 0) AS BIGINT) AS n_scored,
           CAST(coalesce(w.wsum, 0) AS BIGINT) AS dsir_weight_micro,
           CASE WHEN coalesce(w.wsum, 0) >= thr.t0 THEN 'kept'
                ELSE 'rejected' END AS route
    FROM documents d LEFT JOIN w ON w.doc_id = d.doc_id, m, thr
"""


@register("stream_corpus_router_e2e", oracle=ROUTER_SQL)
def stream_corpus_router_e2e(spark, sf_dir):
    """The corpus intake QUALITY GATE as a checkpointed stream — the
    production companion of stream_dedup_incremental_e2e: a DSIR model
    trained on the FIRST ingest increment is frozen (the gate ships
    with its model; scoring never re-trains), then each arriving
    document file is one micro-batch whose features join the broadcast
    per-bucket log-ratio table, per-doc weights are exact BIGINT sums,
    and docs are routed kept/rejected against a CALIBRATED threshold
    into a deterministic per-batch sink partition (idempotent
    overwrite — the same foreachBatch exactly-once recipe as the dedup
    stream; batch id comes from the data, never the epoch). The
    threshold ships WITH the model: the median training-batch weight
    (exact rank here; approx_percentile at 100 TB) — raw hashed
    log-ratio sums are negatively centered by Laplace smoothing, so an
    uncalibrated sign test routes nothing (measured: 0 kept). Features
    a frozen model never saw contribute 0 — the standard frozen-gate
    behavior, stated by the oracle's inner model join.

    Scale shape: per increment the cost is one map-only feature hash +
    one broadcast join + one combinable sum — O(batch)·1, no state
    beyond the O(buckets) model; exactly how quality gates sit on a
    bus in front of a 100 TB corpus store."""
    from ..stream import (
        read_batch_sink,
        run_increments,
        stage_feed,
        write_batch_sink,
    )
    from .dedup import N_INC_BATCHES, doc_batch_of

    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    mx = d.agg(F.max("doc_id")).collect()[0][0]
    batch_of = doc_batch_of(mx)
    lr0, t0 = _dsir_frozen_gate(d.filter(batch_of == 0))

    base = scratch_dir("stream_corpus_router_e2e")
    src, sink, ckpt = f"{base}/src", f"{base}/sink", f"{base}/ckpt"
    stage_feed(d, base, src, batch_of, N_INC_BATCHES)

    def route_batch(batch_df, b):
        w = (
            _dsir_features(batch_df)
            .join(F.broadcast(lr0), "bucket")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_scored"),
                F.sum("lr_micro").cast("long").alias("dsir_weight_micro"),
            )
        )
        out = (
            batch_df.select("doc_id")
            .join(w, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_scored", F.lit(0)).cast("long").alias(
                    "n_scored"
                ),
                F.coalesce("dsir_weight_micro", F.lit(0))
                .cast("long")
                .alias("dsir_weight_micro"),
            )
            .withColumn(
                "route",
                F.when(
                    F.col("dsir_weight_micro") >= t0, F.lit("kept")
                ).otherwise(F.lit("rejected")),
            )
        )
        write_batch_sink(out, sink, b)

    # try/finally: a failed stream must not leak the persisted model
    # cache for the session (the ADVICE-r7 leak class)
    try:
        run_increments(
            spark, src, "doc_id bigint, lang string, text string", ckpt,
            batch_of, route_batch, "stream_corpus_router_e2e", 600,
        )
    finally:
        lr0.unpersist()
    return read_batch_sink(spark, sink, N_INC_BATCHES).select(
        "doc_id",
        "batch_id",
        "n_scored",
        "dsir_weight_micro",
        "route",
    )


EPOCH_SHUFFLE_EPOCHS = 3
EPOCH_SHUFFLE_SHARDS = 8


@register(
    "corpus_epoch_shuffle",
    oracle=f"""
        WITH k AS (
          SELECT e.epoch, d.doc_id,
                 CAST(('0x' || substr(md5('epoch' || e.epoch || ':'
                      || d.doc_id), 1, 8)) AS BIGINT) AS key
          FROM documents d, range({EPOCH_SHUFFLE_EPOCHS}) e(epoch))
        SELECT CAST(epoch AS BIGINT) AS epoch, doc_id,
               CAST(row_number() OVER (PARTITION BY epoch
                    ORDER BY key, doc_id) AS BIGINT) AS ord,
               CAST((row_number() OVER (PARTITION BY epoch
                    ORDER BY key, doc_id) - 1)
                    % {EPOCH_SHUFFLE_SHARDS} AS BIGINT) AS shard
        FROM k
    """,
)
def corpus_epoch_shuffle(spark, sf_dir):
    """Deterministic PER-EPOCH training-order shuffle — how a 100 TB
    corpus gets a fresh global order every epoch WITHOUT materializing
    shuffled copies: each (epoch, doc) gets a portable hash key
    (md5-affine, seeded by the epoch), the epoch's global order is the
    exact rank of that key, and round-robin over the rank yields
    balanced shard assignments (|shard sizes| differ by ≤1 by
    construction). Re-running any epoch reproduces its order bit-for-
    bit — resumable training; different epochs decorrelate because the
    hash reseeds.

    Ranking uses the two-level range-partition primitive
    (`_global_rank`) once per epoch — never a one-task window — which
    is exactly the shape a trainer's shard-manifest job has at scale
    (rank → shard id → one manifest file per shard)."""
    from .suffix import _global_rank_rows

    d = table(spark, sf_dir, "documents").select("doc_id")
    frames = []
    for ep in range(EPOCH_SHUFFLE_EPOCHS):
        k = d.select(
            "doc_id",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(f"epoch{ep}:"),
                            F.col("doc_id").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("key"),
        )
        # (key, doc_id) is unique per row — fused ranking attaches
        # directly; no distinct pass, no per-epoch join-back
        # (`_global_rank_rows`, optimization round 13)
        ranked, _n = _global_rank_rows(k, ["key", "doc_id"], keep=["doc_id"])
        frames.append(
            ranked.select(
                F.lit(ep).cast("long").alias("epoch"),
                "doc_id",
                F.col("_rank").alias("ord"),
                ((F.col("_rank") - 1) % EPOCH_SHUFFLE_SHARDS).alias("shard"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out
