"""Statistical tests and ML-eval ops (stat_*, ts_*, ml_*). Split out
of aggregates.py in round 6; shared helpers import from
.aggregates."""

from __future__ import annotations
from pyspark.sql import Window
from pyspark.sql import functions as F
from ..registry import register, table

from .aggregates import (  # noqa: F401 — shared helpers
    DID_SPLIT,
)


@register(
    "stat_crosstab",
    oracle="""
        SELECT event_type AS event_type_bucket,
               count(*) FILTER (user_id % 3 = 0) AS "0",
               count(*) FILTER (user_id % 3 = 1) AS "1",
               count(*) FILTER (user_id % 3 = 2) AS "2"
        FROM events GROUP BY event_type
    """,
)
def stat_crosstab(spark, sf_dir):
    """Contingency table via df.stat.crosstab — pairwise frequency
    counts with one categorical pivoted into columns."""
    e = table(spark, sf_dir, "events").withColumn(
        "bucket", F.pmod(F.col("user_id"), F.lit(3))
    )
    return e.stat.crosstab("event_type", "bucket")

@register("stat_freq_items")  # rows-only: approximate single-pass sketch
def stat_freq_items(spark, sf_dir):
    """Approximate heavy hitters via df.stat.freqItems (single-pass
    Karp-Shenker-Papadimitriou): all items with frequency above the
    support threshold are guaranteed present (false positives allowed,
    no false negatives) — the mergeable one-pass alternative to an
    exact groupBy count at 100 TB. Property-tested: every event_type
    above support must appear."""
    e = table(spark, sf_dir, "events")
    freq = e.stat.freqItems(["event_type", "user_id"], support=0.1)
    # serialize the sketch arrays: scalar cells only at the driver
    # comparison boundary (rows-only check still canonicalizes).
    return freq.select(
        F.array_join(
            F.sort_array(F.col("event_type_freqItems")), ","
        ).alias("event_type_freqitems"),
        F.array_join(
            F.sort_array(F.transform(F.col("user_id_freqItems"), lambda x: x.cast("string"))),
            ",",
        ).alias("user_id_freqitems"),
    )

@register(
    "ts_time_bucket",
    oracle="""
        WITH b AS (
          SELECT CAST(to_timestamp((epoch_ns(ts) // 1000000000) // 900 * 900)
                      AS TIMESTAMP) AS bucket_start,
                 event_type, user_id,
                 CAST(round(value*100) AS BIGINT) AS cents
          FROM events
        )
        SELECT CAST(bucket_start AS VARCHAR) AS bucket_start, event_type,
               count(*) AS n_events,
               count(DISTINCT user_id) AS n_users,
               sum(cents)/100.0 AS total_value
        FROM b
        GROUP BY bucket_start, event_type
        ORDER BY bucket_start, event_type
        LIMIT 4000
    """,
)
def ts_time_bucket(spark, sf_dir):
    """Arbitrary-width time bucketing (TimescaleDB time_bucket /
    ClickHouse toStartOfInterval): 15-minute buckets via exact
    integer epoch arithmetic — floor-divide seconds by the width.
    Complements stream_tumbling_window (window() is restricted to
    the streaming-compatible windowing API; epoch math composes
    with any expression and buckets of any anchor/width, e.g.
    week-anchored or 90-s buckets). Rendered as VARCHAR on both
    sides to sidestep pandas date64 unit skew. One
    map-side-combined shuffle keyed on (bucket, type)."""
    e = table(spark, sf_dir, "events")
    secs = (F.unix_micros(F.col("ts").cast("timestamp")) / 1000000).cast(
        "long"
    )
    bucket = F.timestamp_seconds(F.floor(secs / 900) * 900).cast(
        "timestamp_ntz"
    )
    return (
        e.select(
            bucket.cast("string").alias("bucket_start"),
            "event_type",
            "user_id",
            F.round(F.col("value") * 100.0).cast("long").alias("cents"),
        )
        .groupBy("bucket_start", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            (F.sum("cents") / 100.0).alias("total_value"),
        )
        .orderBy("bucket_start", "event_type")
        .limit(4000)
    )

@register(
    "ts_cusum_detect",
    oracle="""
        WITH RECURSIVE
        d AS (
          SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                 count(*) AS n
          FROM events GROUP BY 1, 2
        ),
        i AS (
          SELECT event_type, day, n,
                 CAST(row_number() OVER (PARTITION BY event_type
                                         ORDER BY day) AS BIGINT) AS idx
          FROM d
        ),
        t AS (
          SELECT event_type, CAST(sum(n) AS BIGINT) AS num,
                 count(*) AS den
          FROM d GROUP BY event_type
        ),
        r AS (
          SELECT i.event_type, i.day, i.idx, i.n,
                 CAST(greatest(0, i.n * t.den - t.num) AS BIGINT) AS cusum
          FROM i JOIN t USING (event_type) WHERE i.idx = 1
          UNION ALL
          SELECT i.event_type, i.day, i.idx, i.n,
                 CAST(greatest(0, r.cusum + i.n * t.den - t.num) AS BIGINT)
          FROM r
          JOIN i ON i.event_type = r.event_type AND i.idx = r.idx + 1
          JOIN t ON t.event_type = i.event_type
        )
        SELECT r.event_type, r.day, r.n, r.cusum,
               r.cusum >= 2 * t.num AS flagged
        FROM r JOIN t ON t.event_type = r.event_type
        ORDER BY r.event_type, r.day
    """,
)
def ts_cusum_detect(spark, sf_dir):
    """CUSUM changepoint detection on each event type's daily count
    series: Sᵢ = max(0, Sᵢ₋₁ + (nᵢ − mean)). The max-reset LOOKS like
    a recurrence no window frame can express, but it has the classic
    drawdown closed form — with cumᵗ the prefix sum of the deviations
    (and cum₀ = 0), Sᵗ = cumᵗ − min(0, min_{j≤t} cumⱼ) — so the whole
    detector is TWO plain window passes over the per-(type, day)
    aggregate, entirely inside whole-stage codegen (round-5 rewrite;
    the first spelling ran the recurrence in applyInPandas and its
    docstring wrongly claimed windows could not express it). Exactness
    is unchanged: deviations are mean-scaled integers (n·den − num,
    num/den the per-type mean as a fraction), so the window arithmetic
    and DuckDB's recursive CTE produce identical integers; the alarm
    threshold (2 mean-days of excess, 2·num) is integer too. One
    shuffle for the daily rollup; the windows reuse its (event_type)
    partitioning."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type", F.col("ts").cast("date").cast("string").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))

    wt = Window.partitionBy("event_type")
    wo = wt.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    dev = F.col("n") * F.col("den") - F.col("num")  # n·den − num, exact ints
    g = (
        d.withColumn("num", F.sum("n").over(wt))
        .withColumn("den", F.count(F.lit(1)).over(wt))
        .withColumn("cum", F.sum(dev).over(wo))
        # min(0, running-min of cum) ≡ including the empty prefix cum₀=0
        .withColumn("floor", F.least(F.lit(0), F.min("cum").over(wo)))
    )
    return (
        g.select(
            "event_type",
            "day",
            "n",
            (F.col("cum") - F.col("floor")).cast("long").alias("cusum"),
            (F.col("cum") - F.col("floor") >= 2 * F.col("num")).alias(
                "flagged"
            ),
        )
        .orderBy("event_type", "day")
    )

@register(
    "ts_ewma_smooth",
    oracle="""
        WITH RECURSIVE
        d AS (
          SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                 count(*) AS n
          FROM events GROUP BY 1, 2
        ),
        i AS (
          SELECT event_type, day, n,
                 CAST(row_number() OVER (PARTITION BY event_type
                                         ORDER BY day) AS BIGINT) AS idx
          FROM d
        ),
        r AS (
          SELECT event_type, day, idx, n, CAST(n AS DOUBLE) AS ewma
          FROM i WHERE idx = 1
          UNION ALL
          SELECT i.event_type, i.day, i.idx, i.n,
                 (1.0 * i.n + 3.0 * r.ewma) / 4.0
          FROM r JOIN i ON i.event_type = r.event_type AND i.idx = r.idx + 1
        )
        SELECT event_type, day, n, round(ewma, 6) AS ewma
        FROM r ORDER BY event_type, day
    """,
)
def ts_ewma_smooth(spark, sf_dir):
    """Exponentially-weighted moving average over each event type's
    daily count series (α=1/4, seeded with the first observation).
    Unlike CUSUM — whose max-reset turned out to be windowable via the
    drawdown identity (see ts_cusum_detect) — EWMA's linear recurrence
    DOES have a closed-form weighted-sum spelling, but a window sum of
    α(1−α)^(t−i)·xᵢ terms changes the floating-point evaluation order
    and breaks the bit-parity the differential requires (ties at 6 dp
    are common at α=1/4), so the sequential evaluation is the correct
    spelling, not a fallback. ONE aggregation reduces events to
    group-cardinality series, then each ~30-row series runs
    sequentially inside one Arrow batch via applyInPandas;
    parallelism = number of series. The step
    (1·x + 3·s)/4 is two products, one sum, one division in IEEE
    double on both engines, in the same order — bit-identical, so
    parity needs only the 6 dp output rounding."""
    import pandas as pd

    e = table(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type", F.col("ts").cast("date").cast("string").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))

    def ewma(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        pdf = pdf.sort_values("day").reset_index(drop=True)
        s = None
        out = []
        for n in pdf["n"]:
            x = float(n)
            s = x if s is None else (1.0 * x + 3.0 * s) / 4.0
            # α=1/4 keeps s an exact binary fraction, so .5 ties at
            # 6 dp are common: round half-UP (floor(x·1e6+0.5)) to
            # match DuckDB's half-away-from-zero, not Python's
            # banker's rounding (values here are all positive).
            out.append(math.floor(s * 1e6 + 0.5) / 1e6)
        pdf["ewma"] = pd.Series(out, dtype="float64")
        return pdf

    return (
        d.groupBy("event_type")
        .applyInPandas(ewma, "event_type string, day string, n long, ewma double")
        .orderBy("event_type", "day")
    )

@register(
    "stat_chi_square",
    oracle="""
        WITH o AS (
          SELECT event_type, CAST(dayofweek(ts) AS BIGINT) AS dow,
                 count(*) AS obs
          FROM events GROUP BY 1, 2
        ),
        rt AS (SELECT event_type, CAST(sum(obs) AS BIGINT) AS r_tot FROM o GROUP BY 1),
        ct AS (SELECT dow, CAST(sum(obs) AS BIGINT) AS c_tot FROM o GROUP BY 1),
        n AS (SELECT CAST(sum(obs) AS BIGINT) AS total FROM o),
        cells AS (
          SELECT o.event_type, o.dow, o.obs,
                 CAST(r_tot AS DOUBLE) * c_tot / total AS expected
          FROM o JOIN rt USING (event_type) JOIN ct USING (dow), n
        )
        SELECT CAST(sum(CAST(round((obs - expected) * (obs - expected)
                                   / expected * 1000000) AS BIGINT)) AS BIGINT)
                 AS chi2_e6,
               (count(DISTINCT event_type) - 1) * (count(DISTINCT dow) - 1)
                 AS dof
        FROM cells
    """,
)
def stat_chi_square(spark, sf_dir):
    """χ² independence test for event_type × weekday, from exact
    integer contingency counts. Per-cell contribution (O−E)²/E is
    deterministic double math; the cross-cell SUM — the only
    order-sensitive step — is made order-free by scaling each
    contribution to an integer (×1e6, rounded) before summing, the
    same exact-sum discipline as engine.dsl.dsum. Two margin
    aggregates broadcast onto the cell table; everything reduces to
    group cardinality before any join."""
    e = table(spark, sf_dir, "events")
    o = e.groupBy(
        "event_type", F.dayofweek("ts").cast("long").alias("dow")
    ).agg(F.count(F.lit(1)).alias("obs"))
    rt = o.groupBy("event_type").agg(F.sum("obs").alias("r_tot"))
    ct = o.groupBy("dow").agg(F.sum("obs").alias("c_tot"))
    n = o.agg(F.sum("obs").alias("total"))
    cells = (
        o.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "expected",
            F.col("r_tot").cast("double") * F.col("c_tot") / F.col("total"),
        )
    )
    contrib = (
        (F.col("obs") - F.col("expected"))
        * (F.col("obs") - F.col("expected"))
        / F.col("expected")
    )
    return cells.agg(
        F.sum(F.round(contrib * 1000000).cast("long")).alias("chi2_e6"),
        (
            (F.countDistinct("event_type") - 1) * (F.countDistinct("dow") - 1)
        ).alias("dof"),
    )

@register(
    "stat_ks_test",
    oracle="""
        WITH q AS (
          SELECT CAST(round(value * 10000) AS BIGINT) AS v,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ia,
                 CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS ib
          FROM events WHERE event_type IN ('purchase', 'view')
        ),
        g AS (
          SELECT v, CAST(sum(ia) AS BIGINT) AS ca, CAST(sum(ib) AS BIGINT) AS cb
          FROM q GROUP BY v
        ),
        c AS (
          SELECT sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cuma,
                 sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cumb,
                 sum(ca) OVER () AS na,
                 sum(cb) OVER () AS nb
          FROM g
        )
        SELECT CAST(max(na) AS BIGINT) AS n_a,
               CAST(max(nb) AS BIGINT) AS n_b,
               CAST(max(abs(cuma * nb - cumb * na)) AS BIGINT) AS d_num,
               round(CAST(max(abs(cuma * nb - cumb * na)) AS DOUBLE)
                     / (max(na) * max(nb)), 6) AS d_stat
        FROM c
    """,
)
def stat_ks_test(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov D between the purchase and view
    value distributions — the nonparametric distribution-shift test
    A/B platforms and data-drift monitors run. D = max |ECDF_a −
    ECDF_b| is computed EXACTLY: values quantized to 1e-4 units,
    per-value counts for both arms in one hash aggregate, cumulative
    counts over the distinct sorted values, and the sup taken on the
    integer cross-product |cum_a·n_b − cum_b·n_a| — one BIGINT max,
    bit-identical at any parallelism; the only double is the final
    scalar division.

    Plan: groupBy(v) is map-side combinable, so the sorted pass runs
    over DISTINCT quantized values (bounded by value-domain
    resolution, not row count). The single-partition window over that
    distinct spine is the textbook ECDF shape; at 100 TB you'd
    range-partition the spine and two-level prefix-sum the counts
    (the corpus_shard_export op demonstrates exactly that), keeping
    the global max a scalar combine."""
    e = table(spark, sf_dir, "events")
    q = e.filter(F.col("event_type").isin("purchase", "view")).select(
        F.round(F.col("value") * 10000).cast("long").alias("v"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("ia"),
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("ib"),
    )
    g = q.groupBy("v").agg(F.sum("ia").alias("ca"), F.sum("ib").alias("cb"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy()
    c = g.select(
        F.sum("ca").over(w).alias("cuma"),
        F.sum("cb").over(w).alias("cumb"),
        F.sum("ca").over(wall).alias("na"),
        F.sum("cb").over(wall).alias("nb"),
    )
    d_num = F.max(F.abs(F.col("cuma") * F.col("nb") - F.col("cumb") * F.col("na")))
    return c.agg(
        F.max("na").alias("n_a"),
        F.max("nb").alias("n_b"),
        d_num.alias("d_num"),
        F.round(
            d_num.cast("double") / (F.max("na") * F.max("nb")), 6
        ).alias("d_stat"),
    )

@register(
    "ml_ols_normal_eq",
    oracle="""
        WITH q AS (
          SELECT CAST(round(l_quantity) AS BIGINT) AS x1,
                 CAST(round(l_discount * 100) AS BIGINT) AS x2,
                 CAST(round(l_extendedprice * 100) AS BIGINT) AS y
          FROM lineitem
        ),
        g AS (
          SELECT count(*) AS n,
                 CAST(sum(x1) AS BIGINT) AS s1,
                 CAST(sum(x2) AS BIGINT) AS s2,
                 CAST(sum(x1 * x1) AS BIGINT) AS s11,
                 CAST(sum(x1 * x2) AS BIGINT) AS s12,
                 CAST(sum(x2 * x2) AS BIGINT) AS s22,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x1 * y) AS BIGINT) AS s1y,
                 CAST(sum(x2 * y) AS BIGINT) AS s2y
          FROM q
        ),
        d AS (
          SELECT n,
                 CAST(n AS DOUBLE) AS a, CAST(s1 AS DOUBLE) AS b,
                 CAST(s2 AS DOUBLE) AS c, CAST(s11 AS DOUBLE) AS dd,
                 CAST(s12 AS DOUBLE) AS e, CAST(s22 AS DOUBLE) AS f,
                 CAST(sy AS DOUBLE) AS p, CAST(s1y AS DOUBLE) AS q,
                 CAST(s2y AS DOUBLE) AS s
          FROM g
        ),
        cf AS (
          SELECT n, p, q, s,
                 dd * f - e * e AS cof11, c * e - b * f AS cof12,
                 b * e - c * dd AS cof13, a * f - c * c AS cof22,
                 b * c - a * e AS cof23, a * dd - b * b AS cof33,
                 a * (dd * f - e * e) + b * (c * e - b * f)
                   + c * (b * e - c * dd) AS det
          FROM d
        )
        SELECT n,
               round((p * cof11 + q * cof12 + s * cof13) / det, 6) AS b0,
               round((p * cof12 + q * cof22 + s * cof23) / det, 6) AS b1,
               round((p * cof13 + q * cof23 + s * cof33) / det, 6) AS b2
        FROM cf
    """,
)
def ml_ols_normal_eq(spark, sf_dir):
    """Multi-feature OLS (extendedprice-cents ~ quantity + discount-pts)
    solved in CLOSED FORM via the normal equations: one map-side-
    combinable aggregate accumulates the exact integer Gram/moment
    sums (n, Σx, ΣxxT, Σxy — 9 BIGINTs), then the 3×3 symmetric system
    is inverted by cofactors in a single scalar double expression.
    This is the distributed-OLS shape that needs ONE pass and ONE
    scalar combine regardless of data size — no gradient iterations,
    no per-row Python (contrast ml_logreg_train, the iterative
    sibling). Bit-determinism: every sum is exact-integer before the
    final identical-structure double arithmetic, the engine-wide rule;
    the double cofactor expressions are written with the same shape in
    both engines so IEEE evaluation matches bit-for-bit. At 100 TB the
    feature count k bounds the state (k² sums), not rows — the same
    partial-aggregation contract as agg_stats."""
    li = table(spark, sf_dir, "lineitem")
    x1 = F.round("l_quantity").cast("long")
    x2 = F.round(F.col("l_discount") * 100).cast("long")
    y = F.round(F.col("l_extendedprice") * 100).cast("long")
    q = li.select(x1.alias("x1"), x2.alias("x2"), y.alias("y"))
    g = q.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
    )
    d = g.select(
        "n",
        F.col("n").cast("double").alias("a"),
        F.col("s1").cast("double").alias("b"),
        F.col("s2").cast("double").alias("c"),
        F.col("s11").cast("double").alias("dd"),
        F.col("s12").cast("double").alias("e"),
        F.col("s22").cast("double").alias("f"),
        F.col("sy").cast("double").alias("p"),
        F.col("s1y").cast("double").alias("q"),
        F.col("s2y").cast("double").alias("s"),
    )
    cf = d.select(
        "n",
        "p",
        "q",
        "s",
        (F.col("dd") * F.col("f") - F.col("e") * F.col("e")).alias("cof11"),
        (F.col("c") * F.col("e") - F.col("b") * F.col("f")).alias("cof12"),
        (F.col("b") * F.col("e") - F.col("c") * F.col("dd")).alias("cof13"),
        (F.col("a") * F.col("f") - F.col("c") * F.col("c")).alias("cof22"),
        (F.col("b") * F.col("c") - F.col("a") * F.col("e")).alias("cof23"),
        (F.col("a") * F.col("dd") - F.col("b") * F.col("b")).alias("cof33"),
        (
            F.col("a") * (F.col("dd") * F.col("f") - F.col("e") * F.col("e"))
            + F.col("b") * (F.col("c") * F.col("e") - F.col("b") * F.col("f"))
            + F.col("c") * (F.col("b") * F.col("e") - F.col("c") * F.col("dd"))
        ).alias("det"),
    )
    return cf.select(
        "n",
        F.round(
            (F.col("p") * F.col("cof11") + F.col("q") * F.col("cof12")
             + F.col("s") * F.col("cof13")) / F.col("det"), 6
        ).alias("b0"),
        F.round(
            (F.col("p") * F.col("cof12") + F.col("q") * F.col("cof22")
             + F.col("s") * F.col("cof23")) / F.col("det"), 6
        ).alias("b1"),
        F.round(
            (F.col("p") * F.col("cof13") + F.col("q") * F.col("cof23")
             + F.col("s") * F.col("cof33")) / F.col("det"), 6
        ).alias("b2"),
    )

ACF_MAX_LAG = 6

@register(
    "ts_acf_lags",
    oracle=f"""
        WITH c AS (
          SELECT date_trunc('hour', ts) AS h, count(*) AS x
          FROM events GROUP BY 1
        ),
        tot0 AS (
          SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS s FROM c
        ),
        tot AS (
          SELECT n, s,
                 CAST(sum((n * x - s) * (n * x - s)) AS BIGINT) AS den
          FROM c, tot0 GROUP BY n, s
        ),
        lags AS (SELECT l.l + 1 AS lag FROM unnest(range({ACF_MAX_LAG})) l(l)),
        p AS (
          SELECT lag, a.x AS xa, b.x AS xb
          FROM lags, c a JOIN c b
            ON b.h = a.h - to_hours(CAST(lag AS BIGINT))
        )
        SELECT lag, count(*) AS n_pairs,
               round(CAST(sum((n * xa - s) * (n * xb - s)) AS DOUBLE)
                     / max(den), 6) AS acf
        FROM p, tot
        GROUP BY lag
    """,
)
def ts_acf_lags(spark, sf_dir):
    """Autocorrelation function of the hourly event-count series at
    lags 1–6 — the seasonality diagnostic that justifies (or refutes)
    the seasonal-naive model: r_k = Σ(x_t−x̄)(x_{t−k}−x̄) / Σ(x_t−x̄)².
    Both sums are computed EXACTLY by clearing denominators — with
    N hours and S total events, (x−x̄) scales to the integer (N·x−S),
    so numerator and denominator are BIGINT sums and only the final
    ratio is double. Lag pairing is a true time-shift join (h−k
    hours), not a row shift, so calendar gaps can't misalign lags.

    Scale: the fact scan reduces to the hourly rollup immediately;
    the lag fan-out (6×) and shifted self-join run on that dim-sized
    series; the (N, S, den) scalars broadcast. Same O(hours)
    post-rollup contract as the seasonal-naive backtest."""
    e = table(spark, sf_dir, "events")
    c = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("x")
    )
    wall = Window.partitionBy()
    tot = c.select(
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("x").over(wall).alias("s"),
        (
            (F.count(F.lit(1)).over(wall) * F.col("x") - F.sum("x").over(wall))
            * (F.count(F.lit(1)).over(wall) * F.col("x") - F.sum("x").over(wall))
        ).alias("dsq"),
    ).groupBy("n", "s").agg(F.sum("dsq").alias("den"))
    lags = spark.range(1, ACF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    a = c.crossJoin(F.broadcast(lags)).select(
        "lag", "h", F.col("x").alias("xa")
    )
    b = c.select(F.col("h").alias("hb"), F.col("x").alias("xb"))
    p = a.join(
        b,
        b.hb
        == F.col("h") - F.col("lag") * F.expr("INTERVAL 1 HOUR"),
    )
    num = F.sum(
        (F.col("n") * F.col("xa") - F.col("s"))
        * (F.col("n") * F.col("xb") - F.col("s"))
    )
    return (
        p.crossJoin(F.broadcast(tot))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(num.cast("double") / F.max("den"), 6).alias("acf"),
        )
    )

@register(
    "ts_theil_sen_slope",
    oracle="""
        WITH c AS (
          SELECT date_trunc('hour', ts) AS h, count(*) AS x
          FROM events GROUP BY 1
        ),
        p AS (
          SELECT (epoch_ns(b.h) - epoch_ns(a.h)) // 3600000000000 AS dt,
                 b.x - a.x AS dx
          FROM c a JOIN c b ON a.h < b.h
        ),
        s AS (
          SELECT CAST(dx AS DOUBLE) / dt AS slope, dx, dt,
                 count(*) OVER () AS n_pairs
          FROM p
        ),
        r AS (
          SELECT slope, n_pairs,
                 row_number() OVER (ORDER BY slope, dx, dt) AS rn
          FROM s
        )
        SELECT CAST(max(n_pairs) AS BIGINT) AS n_pairs,
               round(max(CASE WHEN rn = (n_pairs + 1) // 2 THEN slope END), 6)
                 AS slope_per_hour
        FROM r
    """,
)
def ts_theil_sen_slope(spark, sf_dir):
    """Theil–Sen robust trend estimate of the hourly event-rate: the
    (lower) median over ALL pairwise slopes (x_j−x_i)/(t_j−t_i) of the
    hourly rollup — breakdown point 29%, immune to the outlier hours
    that wreck an OLS trend (agg_linreg_trend is the fragile sibling).
    Slopes are doubles from exact integer (Δx, Δt-hours) pairs; the
    median is selected by row_number with a (slope, dx, dt) tiebreak,
    so both engines pick the identical order statistic.

    Scale: the O(H²) pair join runs on the HOURLY ROLLUP (dim-sized,
    time-bounded — 720 hours/month → 259k pairs regardless of row
    count); at 100 TB the fact scan still reduces first, and a
    longer horizon would switch to the per-window repeated-median
    variant. The global median spine is the same bounded single-
    partition shape as stat_ks_test."""
    e = table(spark, sf_dir, "events")
    c = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("x")
    )
    a = c.select(F.col("h").alias("ha"), F.col("x").alias("xa"))
    b = c.select(F.col("h").alias("hb"), F.col("x").alias("xb"))
    p = a.join(b, F.col("ha") < F.col("hb")).select(
        (
            (F.unix_timestamp("hb") - F.unix_timestamp("ha")) / F.lit(3600)
        ).cast("long").alias("dt"),
        (F.col("xb") - F.col("xa")).alias("dx"),
    )
    s = p.select(
        (F.col("dx").cast("double") / F.col("dt")).alias("slope"),
        "dx",
        "dt",
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n_pairs"),
    )
    r = s.withColumn(
        "rn", F.row_number().over(Window.orderBy("slope", "dx", "dt"))
    )
    return r.agg(
        F.max("n_pairs").alias("n_pairs"),
        F.round(
            F.max(
                F.when(
                    F.col("rn") == F.floor((F.col("n_pairs") + 1) / 2),
                    F.col("slope"),
                )
            ),
            6,
        ).alias("slope_per_hour"),
    )

@register(
    "stat_anova_f",
    oracle="""
        WITH x AS (
          SELECT o_orderpriority AS grp,
                 CAST(round(o_totalprice) AS BIGINT) AS v
          FROM orders
        ),
        g AS (
          SELECT grp, count(*) AS n_g,
                 CAST(sum(v) AS BIGINT) AS s_g,
                 CAST(sum(v * v) AS BIGINT) AS ss_g
          FROM x GROUP BY grp
        ),
        t AS (
          SELECT count(*) AS k,
                 CAST(sum(n_g) AS BIGINT) AS n,
                 CAST(sum(s_g) AS BIGINT) AS s,
                 CAST(sum(ss_g) AS BIGINT) AS ss,
                 CAST(sum(CAST(round(
                   CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / n_g
                 ) AS BIGINT)) AS BIGINT) AS tt
          FROM g
        )
        SELECT k, n,
               tt - CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                         AS BIGINT) AS ssb_u,
               ss - tt AS ssw_u,
               round(
                 (CAST(tt - CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                                       / n) AS BIGINT) AS DOUBLE) / (k - 1))
                 / (CAST(ss - tt AS DOUBLE) / (n - k)), 6) AS f_stat
        FROM t
    """,
)
def stat_anova_f(spark, sf_dir):
    """One-way ANOVA F statistic of order totals across the 5 order
    priorities, on dollar-rounded prices in BOTH engines so every sum
    of squares stays inside int64 (cents-squared would overflow at
    bench scale; same quantization as orders_gini_concentration). The
    between/within decomposition uses the computational form
    ``SSB = sum(S_g^2/n_g) - S^2/N`` with each per-group term rounded
    to an exact int64 BEFORE the cross-group sum, so the reported sums
    of squares are shuffle-order-proof; F is one identical-structure
    double expression over those ints, rounded to 6 dp.

    Scale: a single map-side-combinable groupBy over 5 keys followed
    by a scalar fold — scan-bound at any size."""
    o = table(spark, sf_dir, "orders")
    x = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice")).cast("long").alias("v"),
    )
    g = x.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum("v").alias("s_g"),
        F.sum(F.col("v") * F.col("v")).alias("ss_g"),
    )
    term = F.round(
        F.col("s_g").cast("double") * F.col("s_g").cast("double")
        / F.col("n_g")
    ).cast("long")
    t = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").alias("n"),
        F.sum("s_g").alias("s"),
        F.sum("ss_g").alias("ss"),
        F.sum(term).alias("tt"),
    )
    grand = F.round(
        F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
    ).cast("long")
    ssb = F.col("tt") - grand
    ssw = F.col("ss") - F.col("tt")
    return t.select(
        "k",
        "n",
        ssb.alias("ssb_u"),
        ssw.alias("ssw_u"),
        F.round(
            (ssb.cast("double") / (F.col("k") - 1))
            / (ssw.cast("double") / (F.col("n") - F.col("k"))),
            6,
        ).alias("f_stat"),
    )

@register(
    "ts_holt_linear",
    oracle="""
        WITH RECURSIVE
        d AS (
          SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS y
          FROM events GROUP BY 1, 2
        ),
        i AS (
          SELECT event_type, y,
                 CAST(row_number() OVER (PARTITION BY event_type
                                         ORDER BY day) AS BIGINT) AS idx
          FROM d
        ),
        nn AS (SELECT event_type, max(idx) AS n_days FROM i GROUP BY 1),
        r AS (
          SELECT event_type, idx, CAST(y AS DOUBLE) AS l,
                 CAST(0 AS DOUBLE) AS b
          FROM i WHERE idx = 1
          UNION ALL
          SELECT i.event_type, i.idx,
                 0.5 * i.y + 0.5 * (r.l + r.b),
                 0.5 * ((0.5 * i.y + 0.5 * (r.l + r.b)) - r.l) + 0.5 * r.b
          FROM r JOIN i ON i.event_type = r.event_type
                       AND i.idx = r.idx + 1
        )
        SELECT r.event_type, nn.n_days,
               round(r.l, 6) AS level,
               round(r.b, 6) AS trend,
               round(r.l + 7 * r.b, 6) AS forecast_7d
        FROM r JOIN nn ON r.event_type = nn.event_type
                      AND r.idx = nn.n_days
    """,
)
def ts_holt_linear(spark, sf_dir):
    """Holt's linear-trend double exponential smoothing over each
    event type's daily count series (alpha = beta = 1/2, level seeded
    with the first observation, trend with 0), reporting the final
    level/trend state and the 7-day-ahead forecast. The recurrence is
    a JVM-side sequential fold: sort_array(collect_list(struct(day,y)))
    builds each ~30-element series, then ONE F.aggregate lambda carries
    the (level, trend) struct — no Python workers, unlike the
    applyInPandas spelling ts_ewma_smooth demonstrates. The DuckDB
    twin is a recursive CTE walking the identical step expression, so
    every intermediate is the same IEEE double in the same order
    (alpha = 1/2 keeps values exact binary fractions; 6 dp half-away
    rounding on both sides).

    Scale: events collapse to group-cardinality series in one
    map-side-combinable pass; the fold is O(series length) per key
    with parallelism = number of series — the shape that holds for
    millions of independent series, which is where Holt forecasting
    actually runs at 100 TB."""
    e = table(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("y"))
    ser = d.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "y"))).alias("s")
    )
    ys = F.expr("transform(s, p -> CAST(p.y AS DOUBLE))")
    arr = ser.select(
        "event_type", F.size("s").alias("n_days"), ys.alias("ys")
    )
    fold = F.aggregate(
        F.expr("slice(ys, 2, size(ys) - 1)"),
        F.struct(
            F.element_at("ys", 1).alias("l"), F.lit(0.0).alias("b")
        ),
        lambda acc, y: F.struct(
            (0.5 * y + 0.5 * (acc["l"] + acc["b"])).alias("l"),
            (
                0.5 * ((0.5 * y + 0.5 * (acc["l"] + acc["b"])) - acc["l"])
                + 0.5 * acc["b"]
            ).alias("b"),
        ),
    )
    out = arr.select("event_type", "n_days", fold.alias("st"))
    return out.select(
        "event_type",
        "n_days",
        F.round(F.col("st.l"), 6).alias("level"),
        F.round(F.col("st.b"), 6).alias("trend"),
        F.round(F.col("st.l") + 7 * F.col("st.b"), 6).alias("forecast_7d"),
    )

@register(
    "stat_powerlaw_alpha_mle",
    oracle="""
        WITH x AS (
          SELECT user_id, count(*) AS c FROM events GROUP BY 1
        ),
        mn AS (SELECT CAST(min(c) AS BIGINT) AS xmin FROM x),
        g AS (SELECT c, count(*) AS n_c FROM x GROUP BY 1),
        terms AS (
          SELECT g.n_c,
                 CAST(round(1000000.0
                       * ln(CAST(g.c AS DOUBLE) / mn.xmin))
                      AS BIGINT) AS u
          FROM g, mn
        ),
        t AS (
          SELECT CAST(sum(n_c) AS BIGINT) AS n,
                 CAST(sum(n_c * u) AS BIGINT) AS su
          FROM terms
        )
        SELECT t.n AS n_users, mn.xmin,
               round(1.0 + CAST(t.n AS DOUBLE) * 1000000.0 / t.su, 6)
                 AS alpha_mle
        FROM t, mn
    """,
)
def stat_powerlaw_alpha_mle(spark, sf_dir):
    """Continuous-approximation power-law exponent MLE (Clauset et
    al.) for the per-user activity distribution:
    alpha = 1 + n / sum(ln(x_i / xmin)) with xmin the observed
    minimum. The log terms are computed once per DISTINCT count value
    and micro-nat-quantized to int64 before the weighted sum
    (shuffle-order-proof), so the only doubles are the final
    expression — the heavy-tail diagnostic that tells you whether
    top-user truncation or per-key salting will be needed downstream.

    Scale: activity counts are one map-side-combinable groupBy; the
    spine of distinct counts is bounded by the activity range, so the
    MLE fold is tiny at any corpus size."""
    e = table(spark, sf_dir, "events")
    x = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    mn = x.agg(F.min("c").alias("xmin"))
    g = x.groupBy("c").agg(F.count(F.lit(1)).alias("n_c"))
    terms = g.crossJoin(F.broadcast(mn)).select(
        "n_c",
        F.round(
            1000000.0
            * F.log(F.col("c").cast("double") / F.col("xmin"))
        )
        .cast("long")
        .alias("u"),
        "xmin",
    )
    t = terms.groupBy("xmin").agg(
        F.sum("n_c").alias("n"),
        F.sum(F.col("n_c") * F.col("u")).alias("su"),
    )
    return t.select(
        F.col("n").alias("n_users"),
        "xmin",
        F.round(
            1.0 + F.col("n").cast("double") * 1000000.0 / F.col("su"), 6
        ).alias("alpha_mle"),
    )

@register(
    "stat_runs_test",
    oracle="""
        WITH d AS (
          SELECT CAST(ts AS DATE) AS day, count(*) AS c
          FROM events GROUP BY 1
        ),
        s AS (
          SELECT day,
                 c - lag(c) OVER (ORDER BY day) AS diff
          FROM d
        ),
        sg AS (
          SELECT day, CASE WHEN diff > 0 THEN 1 ELSE -1 END AS sgn
          FROM s WHERE diff IS NOT NULL AND diff <> 0
        ),
        r AS (
          SELECT sgn,
                 CASE WHEN sgn = lag(sgn) OVER (ORDER BY day)
                      THEN 0 ELSE 1 END AS is_new_run
          FROM sg
        ),
        t AS (
          SELECT CAST(count(*) FILTER (WHERE sgn = 1) AS BIGINT) AS n_up,
                 CAST(count(*) FILTER (WHERE sgn = -1) AS BIGINT)
                   AS n_down,
                 CAST(sum(coalesce(is_new_run, 1)) AS BIGINT) AS n_runs
          FROM r
        )
        SELECT n_up, n_down, n_runs,
               round(1.0 + 2.0 * n_up * n_down / (n_up + n_down), 6)
                 AS expected_runs,
               round((n_runs - (1.0 + 2.0 * n_up * n_down
                                / (n_up + n_down)))
                     / sqrt(
                         (2.0 * n_up * n_down
                          * (2.0 * n_up * n_down - n_up - n_down))
                         / ((n_up + n_down) * (n_up + n_down)
                            * (n_up + n_down - 1.0))
                       ), 6) AS z_score
        FROM t
    """,
)
def stat_runs_test(spark, sf_dir):
    """Wald–Wolfowitz runs test for randomness of the daily
    event-count direction series: sign the day-over-day differences
    (zeros dropped), count maximal same-sign runs with one lag
    window, and compare to the null expectation
    E[R] = 1 + 2*n+*n−/n with the classical variance — too few runs
    means trending, too many means oscillation. Counts are exact
    int64; the expectation and z-score are one identical double
    expression each.

    Scale: the sign series lives on the day spine (30 rows here);
    everything upstream is a map-side-combinable daily rollup."""
    e = table(spark, sf_dir, "events")
    d = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    wday = Window.orderBy("day")
    s = d.select(
        "day", (F.col("c") - F.lag("c").over(wday)).alias("diff")
    )
    sg = s.filter(
        F.col("diff").isNotNull() & (F.col("diff") != 0)
    ).select(
        "day",
        F.when(F.col("diff") > 0, F.lit(1)).otherwise(F.lit(-1)).alias(
            "sgn"
        ),
    )
    r = sg.select(
        "sgn",
        F.when(
            F.col("sgn") == F.lag("sgn").over(wday), F.lit(0)
        ).otherwise(F.lit(1)).alias("is_new_run"),
    )
    t = r.agg(
        F.count_if(F.col("sgn") == 1).alias("n_up"),
        F.count_if(F.col("sgn") == -1).alias("n_down"),
        F.sum(F.coalesce(F.col("is_new_run"), F.lit(1))).alias("n_runs"),
    )
    nu, nd, nr = F.col("n_up"), F.col("n_down"), F.col("n_runs")
    er = 1.0 + 2.0 * nu * nd / (nu + nd)
    var = (2.0 * nu * nd * (2.0 * nu * nd - nu - nd)) / (
        (nu + nd) * (nu + nd) * (nu + nd - 1.0)
    )
    return t.select(
        "n_up",
        "n_down",
        "n_runs",
        F.round(er, 6).alias("expected_runs"),
        F.round((nr - er) / F.sqrt(var), 6).alias("z_score"),
    )

@register(
    "stat_ratio_delta_method",
    oracle=f"""
        WITH u AS (
          SELECT user_id,
                 CAST(user_id % 2 = 0 AS INT) AS treat,
                 count(*) AS x,
                 CAST(sum(CAST(round(value) AS BIGINT)) AS BIGINT) AS y
          FROM events GROUP BY 1, 2
        ),
        t AS (
          SELECT treat,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * y) AS BIGINT) AS sxy,
                 CAST(sum(x * x) AS BIGINT) AS sxx,
                 CAST(sum(y * y) AS BIGINT) AS syy
          FROM u GROUP BY treat
        )
        SELECT treat, n,
               round(CAST(sy AS DOUBLE) / sx, 6) AS ratio,
               round(sqrt(greatest(0.0,
                 (CAST(n AS DOUBLE) / ((n - 1.0) * sx * sx))
                 * ((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
                    - 2.0 * (CAST(sy AS DOUBLE) / sx)
                      * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                    + (CAST(sy AS DOUBLE) / sx) * (CAST(sy AS DOUBLE) / sx)
                      * (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n))
               )), 6) AS se_delta
        FROM t
    """,
)
def stat_ratio_delta_method(spark, sf_dir):
    """Delta-method standard error for a RATIO metric (dollars per
    event) per experiment arm — the correction every experimentation
    platform needs because users, not events, are the randomization
    unit, so naive per-event SEs are wrong. With user-level (x =
    events, y = dollars): ratio = sum(y)/sum(x) and
    Var ≈ n/((n−1)·sx²) · (Syy − 2R·Sxy + R²·Sxx) over user-level
    centered co-moments — all derived from ONE pass of exact int64
    sums, squared/centered in identical double expressions (dollar
    units for int64 headroom, as in events_cuped_adjustment).

    Scale: one keyed rollup to users + a 2-row fold — scan-bound."""
    e = table(spark, sf_dir, "events")
    u = e.groupBy(
        "user_id",
        (F.col("user_id") % 2 == 0).cast("int").alias("treat"),
    ).agg(
        F.count(F.lit(1)).alias("x"),
        F.sum(F.round(F.col("value")).cast("long")).alias("y"),
    )
    t = u.groupBy("treat").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx_d, sy_d = F.col("sx").cast("double"), F.col("sy").cast("double")
    r = sy_d / F.col("sx")
    syy_c = F.col("syy").cast("double") - sy_d * F.col("sy") / F.col("n")
    sxy_c = F.col("sxy").cast("double") - sx_d * F.col("sy") / F.col("n")
    sxx_c = F.col("sxx").cast("double") - sx_d * F.col("sx") / F.col("n")
    var = (n / ((F.col("n") - 1.0) * F.col("sx") * F.col("sx"))) * (
        syy_c - 2.0 * r * sxy_c + r * r * sxx_c
    )
    return t.select(
        "treat",
        "n",
        F.round(r, 6).alias("ratio"),
        F.round(F.sqrt(F.greatest(F.lit(0.0), var)), 6).alias("se_delta"),
    )

@register(
    "stat_iqr_outlier_fences",
    oracle="""
        WITH v AS (
          SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders
        ),
        g AS (SELECT cents, count(*) AS n_g FROM v GROUP BY 1),
        c AS (
          SELECT cents,
                 CAST(sum(n_g) OVER (ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cumn
          FROM g
        ),
        t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
        q1 AS (SELECT min(cents) AS q1 FROM c, t WHERE 4 * cumn >= t.n),
        q3 AS (SELECT min(cents) AS q3 FROM c, t
               WHERE 4 * cumn >= 3 * t.n),
        f AS (
          SELECT q1.q1, q3.q3,
                 q1.q1 - 3 * (q3.q3 - q1.q1) // 2 AS lo_fence,
                 q3.q3 + 3 * (q3.q3 - q1.q1) // 2 AS hi_fence
          FROM q1, q3
        )
        SELECT t.n AS n_rows, f.q1 AS q1_cents, f.q3 AS q3_cents,
               f.lo_fence, f.hi_fence,
               CAST((SELECT count(*) FROM v
                     WHERE cents < f.lo_fence) AS BIGINT) AS n_low,
               CAST((SELECT count(*) FROM v
                     WHERE cents > f.hi_fence) AS BIGINT) AS n_high
        FROM t, f
    """,
)
def stat_iqr_outlier_fences(spark, sf_dir):
    """Tukey box-plot outlier screen on order totals: exact Q1/Q3 via
    the integer midpoint test on the distinct-price spine
    (4·cum ≥ n and 4·cum ≥ 3n — the same doubled-comparison trick as
    the medians, no fractional arithmetic), fences at ±1.5 IQR kept
    in integer cents (3·IQR/2 with integer floor division in BOTH
    engines), and exact counts beyond each fence. The
    distribution-free screen that needs no normality assumption,
    complementing the z-score/MAD family.

    Scale: spine prefix-sum + two broadcast-scalar filters — two
    scan-bound passes."""
    o = table(spark, sf_dir, "orders")
    v = o.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    g = v.groupBy("cents").agg(F.count(F.lit(1)).alias("n_g"))
    wc = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = g.select("cents", F.sum("n_g").over(wc).alias("cumn"))
    t = v.agg(F.count(F.lit(1)).alias("n"))
    ct = c.crossJoin(F.broadcast(t))
    q1 = ct.filter(4 * F.col("cumn") >= F.col("n")).agg(
        F.min("cents").alias("q1")
    )
    q3 = ct.filter(4 * F.col("cumn") >= 3 * F.col("n")).agg(
        F.min("cents").alias("q3")
    )
    f = (
        q1.crossJoin(q3)
        .select(
            "q1",
            "q3",
            (
                F.col("q1")
                - F.floor(3 * (F.col("q3") - F.col("q1")) / 2).cast("long")
            ).alias("lo_fence"),
            (
                F.col("q3")
                + F.floor(3 * (F.col("q3") - F.col("q1")) / 2).cast("long")
            ).alias("hi_fence"),
        )
    )
    j = v.crossJoin(F.broadcast(f))
    return (
        j.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.first("q1").alias("q1_cents"),
            F.first("q3").alias("q3_cents"),
            F.first("lo_fence").alias("lo_fence"),
            F.first("hi_fence").alias("hi_fence"),
            F.count_if(F.col("cents") < F.col("lo_fence")).alias("n_low"),
            F.count_if(F.col("cents") > F.col("hi_fence")).alias("n_high"),
        )
    )

@register(
    "stat_mann_kendall_trend",
    oracle="""
        WITH d AS (
          SELECT CAST(ts AS DATE) AS day, count(*) AS c
          FROM events GROUP BY 1
        ),
        prs AS (
          SELECT CASE WHEN b.c > a.c THEN 1
                      WHEN b.c < a.c THEN -1 ELSE 0 END AS sgn
          FROM d a JOIN d b ON a.day < b.day
        ),
        s AS (SELECT CAST(sum(sgn) AS BIGINT) AS s_stat,
                     CAST(count(*) AS BIGINT) AS n_pairs
              FROM prs),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        ties AS (
          SELECT CAST(coalesce(sum(tj * (tj - 1) * (2 * tj + 5)), 0)
                      AS BIGINT) AS tie_term
          FROM (SELECT count(*) AS tj FROM d GROUP BY c HAVING count(*) > 1)
        )
        SELECT nn.n AS n_days, s.s_stat,
               round((CAST(nn.n AS DOUBLE) * (nn.n - 1) * (2 * nn.n + 5)
                      - ties.tie_term) / 18.0, 6) AS var_s,
               round(CASE
                 WHEN s.s_stat > 0 THEN (s.s_stat - 1)
                   / sqrt((CAST(nn.n AS DOUBLE) * (nn.n - 1)
                           * (2 * nn.n + 5) - ties.tie_term) / 18.0)
                 WHEN s.s_stat < 0 THEN (s.s_stat + 1)
                   / sqrt((CAST(nn.n AS DOUBLE) * (nn.n - 1)
                           * (2 * nn.n + 5) - ties.tie_term) / 18.0)
                 ELSE 0.0 END, 6) AS z_score
        FROM s, nn, ties
    """,
)
def stat_mann_kendall_trend(spark, sf_dir):
    """Mann–Kendall trend test on the daily event-count series — the
    distribution-free "is this metric drifting?" test monitoring
    systems run when normality can't be assumed: S = sum of pairwise
    signs over all day pairs (exact int64), tie-corrected variance
    per the classical formula, and the continuity-corrected z. The
    pair join runs on the DAY SPINE (n² of 30, not of the corpus),
    which is exactly why the test stays exact instead of sampled.

    Scale: one daily rollup, one spine self-join (bounded by the
    date range squared), three scalar folds."""
    e = table(spark, sf_dir, "events")
    d = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    a = d.withColumnsRenamed({"day": "day_a", "c": "ca"})
    b = d.withColumnsRenamed({"day": "day_b", "c": "cb"})
    prs = a.join(b, F.col("day_a") < F.col("day_b")).select(
        F.when(F.col("cb") > F.col("ca"), 1)
        .when(F.col("cb") < F.col("ca"), -1)
        .otherwise(0)
        .alias("sgn")
    )
    s = prs.agg(
        F.sum("sgn").alias("s_stat"), F.count(F.lit(1)).alias("n_pairs")
    )
    nn = d.agg(F.count(F.lit(1)).alias("n"))
    tie_groups = (
        d.groupBy("c")
        .agg(F.count(F.lit(1)).alias("tj"))
        .filter(F.col("tj") > 1)
    )
    ties = tie_groups.agg(
        F.coalesce(
            F.sum(
                F.col("tj") * (F.col("tj") - 1) * (2 * F.col("tj") + 5)
            ),
            F.lit(0),
        ).alias("tie_term")
    )
    j = s.crossJoin(F.broadcast(nn)).crossJoin(F.broadcast(ties))
    n = F.col("n").cast("double")
    var_s = (n * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col(
        "tie_term"
    )) / 18.0
    sstat = F.col("s_stat")
    z = (
        F.when(sstat > 0, (sstat - 1) / F.sqrt(var_s))
        .when(sstat < 0, (sstat + 1) / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    return j.select(
        F.col("n").alias("n_days"),
        "s_stat",
        F.round(var_s, 6).alias("var_s"),
        F.round(z, 6).alias("z_score"),
    )

@register(
    "stat_cohens_d_effect_size",
    oracle="""
        WITH u AS (
          SELECT user_id, CAST(user_id % 2 = 0 AS INT) AS treat,
                 CAST(sum(CAST(round(value) AS BIGINT)) AS BIGINT) AS y
          FROM events GROUP BY 1, 2
        ),
        g AS (
          SELECT treat, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(y) AS BIGINT) AS s,
                 CAST(sum(y * y) AS BIGINT) AS ss
          FROM u GROUP BY treat
        ),
        w AS (
          SELECT
            max(CASE WHEN treat = 1 THEN n END) AS n1,
            max(CASE WHEN treat = 1 THEN s END) AS s1,
            max(CASE WHEN treat = 1 THEN ss END) AS ss1,
            max(CASE WHEN treat = 0 THEN n END) AS n0,
            max(CASE WHEN treat = 0 THEN s END) AS s0,
            max(CASE WHEN treat = 0 THEN ss END) AS ss0
          FROM g
        )
        SELECT n1 AS n_treat, n0 AS n_control,
               round((CAST(s1 AS DOUBLE) / n1)
                     - (CAST(s0 AS DOUBLE) / n0), 6) AS mean_diff,
               round(((CAST(s1 AS DOUBLE) / n1) - (CAST(s0 AS DOUBLE) / n0))
                 / sqrt(
                     ((CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
                      + (CAST(ss0 AS DOUBLE) - CAST(s0 AS DOUBLE) * s0 / n0))
                     / (n1 + n0 - 2.0)
                   ), 6) AS cohens_d
        FROM w
    """,
)
def stat_cohens_d_effect_size(spark, sf_dir):
    """Cohen's d standardized effect size between experiment arms on
    user-level dollar totals — the magnitude measure that travels
    across experiments where raw mean differences (and p-values)
    don't: pooled-SD-standardized mean difference from ONE pass of
    exact int64 per-arm sums, centered sums of squares and the pooled
    variance as identical double expressions (dollar units for int64
    headroom, matching the rest of the experimentation suite).

    Scale: one keyed rollup + a 2-row pivot fold — scan-bound."""
    e = table(spark, sf_dir, "events")
    u = e.groupBy(
        "user_id", (F.col("user_id") % 2 == 0).cast("int").alias("treat")
    ).agg(F.sum(F.round(F.col("value")).cast("long")).alias("y"))
    g = u.groupBy("treat").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("s"),
        F.sum(F.col("y") * F.col("y")).alias("ss"),
    )

    def pick(t, col):
        return F.max(F.when(F.col("treat") == t, F.col(col)))

    w = g.agg(
        pick(1, "n").alias("n1"),
        pick(1, "s").alias("s1"),
        pick(1, "ss").alias("ss1"),
        pick(0, "n").alias("n0"),
        pick(0, "s").alias("s0"),
        pick(0, "ss").alias("ss0"),
    )
    m1 = F.col("s1").cast("double") / F.col("n1")
    m0 = F.col("s0").cast("double") / F.col("n0")
    css1 = F.col("ss1").cast("double") - F.col("s1").cast("double") * F.col(
        "s1"
    ) / F.col("n1")
    css0 = F.col("ss0").cast("double") - F.col("s0").cast("double") * F.col(
        "s0"
    ) / F.col("n0")
    pooled = (css1 + css0) / (F.col("n1") + F.col("n0") - 2.0)
    return w.select(
        F.col("n1").alias("n_treat"),
        F.col("n0").alias("n_control"),
        F.round(m1 - m0, 6).alias("mean_diff"),
        F.round((m1 - m0) / F.sqrt(pooled), 6).alias("cohens_d"),
    )

QINI_RESP_CENTS = 165000

@register(
    "ml_qini_uplift_curve",
    oracle=f"""
        WITH u AS (
          SELECT user_id,
                 CAST(user_id % 2 = 0 AS BIGINT) AS treat,
                 count(*) FILTER (WHERE ts < TIMESTAMP '{DID_SPLIT}')
                   AS score,
                 CAST(coalesce(sum(CAST(round(value * 100) AS BIGINT))
                        FILTER (WHERE ts >= TIMESTAMP '{DID_SPLIT}'), 0)
                      > {QINI_RESP_CENTS} AS BIGINT) AS pos
          FROM events GROUP BY 1
        ),
        g AS (
          SELECT score, count(*) AS n,
                 CAST(sum(treat) AS BIGINT) AS n_t,
                 CAST(sum(CASE WHEN treat = 1 THEN pos ELSE 0 END)
                      AS BIGINT) AS pos_t,
                 CAST(sum(1 - treat) AS BIGINT) AS n_c,
                 CAST(sum(CASE WHEN treat = 0 THEN pos ELSE 0 END)
                      AS BIGINT) AS pos_c
          FROM u GROUP BY 1
        ),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS nu FROM g),
        c AS (
          SELECT g.*, CAST(coalesce(sum(n) OVER (
                   ORDER BY score DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS BIGINT) AS cum_b
          FROM g
        ),
        dec AS (
          SELECT CAST(10 * cum_b // tot.nu AS BIGINT) AS decile,
                 n_t, pos_t, n_c, pos_c
          FROM c, tot
        ),
        d AS (
          SELECT decile,
                 CAST(sum(n_t) AS BIGINT) AS n_t,
                 CAST(sum(pos_t) AS BIGINT) AS pos_t,
                 CAST(sum(n_c) AS BIGINT) AS n_c,
                 CAST(sum(pos_c) AS BIGINT) AS pos_c
          FROM dec GROUP BY 1
        ),
        r AS (
          SELECT decile,
                 CAST(sum(n_t) OVER (ORDER BY decile) AS BIGINT)
                   AS cum_n_treat,
                 CAST(sum(pos_t) OVER (ORDER BY decile) AS BIGINT)
                   AS cum_pos_treat,
                 CAST(sum(n_c) OVER (ORDER BY decile) AS BIGINT)
                   AS cum_n_ctrl,
                 CAST(sum(pos_c) OVER (ORDER BY decile) AS BIGINT)
                   AS cum_pos_ctrl
          FROM d
        )
        SELECT decile, cum_n_treat, cum_pos_treat, cum_n_ctrl,
               cum_pos_ctrl,
               round(cum_pos_treat
                     - CAST(cum_pos_ctrl AS DOUBLE) * cum_n_treat
                       / nullif(cum_n_ctrl, 0), 6) AS qini
        FROM r
    """,
)
def ml_qini_uplift_curve(spark, sf_dir):
    """Qini uplift curve by score decile — the uplift-modeling
    acceptance plot: rank users by a targeting score (here the
    pre-split activity count, a deterministic integer proxy for a
    model score), cut into ten group-granular deciles on the
    distinct-score spine, and report per cumulative prefix the
    treated/control incremental responders
    qini = cum_pos_treat - cum_pos_ctrl * cum_n_treat / cum_n_ctrl.
    Treatment is the documented A/B hash split (even user_id, as in
    events_uplift_did); response is a fixed post-split spend
    threshold so both arms' outcomes are exact int64 counts, and the
    only doubles are the final identical-expression qini cells.

    Scale: one map-side-combinable pass collapses events to a
    per-user row, a second collapses users to the distinct-score
    spine; all ordered prefix sums run on that spine (~tens of rows),
    never on the fact table — the same scan-bound shape as
    ml_gains_lift_deciles."""
    e = table(spark, sf_dir, "events")
    split = F.lit(DID_SPLIT).cast("timestamp_ntz")
    u = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < split, 1).otherwise(0)).alias("score"),
        (
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("ts") >= split,
                        F.round(F.col("value") * 100).cast("long"),
                    )
                ),
                F.lit(0),
            )
            > QINI_RESP_CENTS
        )
        .cast("long")
        .alias("pos"),
    ).select(
        (F.col("user_id") % 2 == 0).cast("long").alias("treat"),
        "score",
        "pos",
    )
    g = u.groupBy("score").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("treat").alias("n_t"),
        F.sum(F.when(F.col("treat") == 1, F.col("pos")).otherwise(0)).alias(
            "pos_t"
        ),
        F.sum(1 - F.col("treat")).alias("n_c"),
        F.sum(F.when(F.col("treat") == 0, F.col("pos")).otherwise(0)).alias(
            "pos_c"
        ),
    )
    tot = g.agg(F.sum("n").alias("nu"))
    wdesc = Window.orderBy(F.desc("score")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    c = g.select(
        "n_t",
        "pos_t",
        "n_c",
        "pos_c",
        F.coalesce(F.sum("n").over(wdesc), F.lit(0)).alias("cum_b"),
    )
    d = (
        c.crossJoin(F.broadcast(tot))
        .select(
            (10 * F.col("cum_b") / F.col("nu")).cast("long").alias("decile"),
            "n_t",
            "pos_t",
            "n_c",
            "pos_c",
        )
        .groupBy("decile")
        .agg(
            F.sum("n_t").alias("n_t"),
            F.sum("pos_t").alias("pos_t"),
            F.sum("n_c").alias("n_c"),
            F.sum("pos_c").alias("pos_c"),
        )
    )
    wcum = Window.orderBy("decile")
    r = d.select(
        "decile",
        F.sum("n_t").over(wcum).alias("cum_n_treat"),
        F.sum("pos_t").over(wcum).alias("cum_pos_treat"),
        F.sum("n_c").over(wcum).alias("cum_n_ctrl"),
        F.sum("pos_c").over(wcum).alias("cum_pos_ctrl"),
    )
    return r.select(
        "decile",
        "cum_n_treat",
        "cum_pos_treat",
        "cum_n_ctrl",
        "cum_pos_ctrl",
        F.round(
            F.col("cum_pos_treat")
            - F.col("cum_pos_ctrl").cast("double")
            * F.col("cum_n_treat")
            / F.nullif(F.col("cum_n_ctrl"), F.lit(0)),
            6,
        ).alias("qini"),
    )

@register(
    "stat_spearman_rho",
    oracle="""
        WITH u AS (
          SELECT user_id, count(*) AS x,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS y
          FROM events GROUP BY 1
        ),
        gx AS (SELECT x, count(*) AS n_v FROM u GROUP BY 1),
        rx AS (
          SELECT x,
                 2 * CAST(coalesce(sum(n_v) OVER (
                   ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS BIGINT) + n_v + 1 AS r2x
          FROM gx
        ),
        gy AS (SELECT y, count(*) AS n_v FROM u GROUP BY 1),
        ry AS (
          SELECT y,
                 2 * CAST(coalesce(sum(n_v) OVER (
                   ORDER BY y
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS BIGINT) + n_v + 1 AS r2y
          FROM gy
        ),
        j AS (
          SELECT r2x, r2y FROM u
          JOIN rx USING (x) JOIN ry USING (y)
        ),
        m AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(r2x) AS BIGINT) AS sx,
                 CAST(sum(r2y) AS BIGINT) AS sy,
                 CAST(sum(r2x * r2x) AS BIGINT) AS sxx,
                 CAST(sum(r2y * r2y) AS BIGINT) AS syy,
                 CAST(sum(r2x * r2y) AS BIGINT) AS sxy
          FROM j
        )
        SELECT n AS n_users,
               round(
                 (n * sxy - sx * sy)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 6
               ) AS rho_spearman
        FROM m
    """,
)
def stat_spearman_rho(spark, sf_dir):
    """Spearman rank correlation between per-user activity (event
    count) and spend (exact cents) — the distribution-free
    monotone-association test analysts reach for when outliers make
    Pearson lie. Tied values get textbook AVERAGE ranks, computed
    without any row-level sort: rank(v) = cum_count_before + (n_v+1)/2
    on the distinct-value spine, carried as doubled integers (2·rank)
    so every moment (Sx, Sxx, Sxy, ...) is an exact int64 sum; rho is
    Pearson over those integer ranks — one identical double expression
    at the end (the 2× factors cancel).

    Scale: no global sort of the fact table — events collapse
    map-side to a per-user row, ranks come from the two
    distinct-value spines (tiny for discrete metrics; for continuous
    metrics bucket the value first, which is standard practice for
    rank stats at corpus scale), and the spine-to-user rank
    assignment is a broadcast join. The final fold is one
    map-side-combinable aggregate."""
    e = table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("x"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"),
    )

    def rank2(col):
        g = u.groupBy(col).agg(F.count(F.lit(1)).alias("n_v"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
        return g.select(
            col,
            (
                2 * F.coalesce(F.sum("n_v").over(w), F.lit(0))
                + F.col("n_v")
                + 1
            ).alias(f"r2{col}"),
        )

    j = u.join(F.broadcast(rank2("x")), "x").join(
        F.broadcast(rank2("y")), "y"
    )
    m = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r2x").alias("sx"),
        F.sum("r2y").alias("sy"),
        F.sum(F.col("r2x") * F.col("r2x")).alias("sxx"),
        F.sum(F.col("r2y") * F.col("r2y")).alias("syy"),
        F.sum(F.col("r2x") * F.col("r2y")).alias("sxy"),
    )
    return m.select(
        F.col("n").alias("n_users"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / F.sqrt(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                .cast("double")
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
                .cast("double")
            ),
            6,
        ).alias("rho_spearman"),
    )

LB_CRIT_6DF_95 = 12.591587

@register(
    "ts_ljung_box",
    oracle=f"""
        WITH c AS (
          SELECT date_trunc('hour', ts) AS h, count(*) AS x
          FROM events GROUP BY 1
        ),
        tot0 AS (
          SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS s FROM c
        ),
        tot AS (
          SELECT n, s,
                 CAST(sum((n * x - s) * (n * x - s)) AS BIGINT) AS den
          FROM c, tot0 GROUP BY n, s
        ),
        lags AS (SELECT l.l + 1 AS lag FROM unnest(range({ACF_MAX_LAG})) l(l)),
        p AS (
          SELECT lag, a.x AS xa, b.x AS xb
          FROM lags, c a JOIN c b
            ON b.h = a.h - to_hours(CAST(lag AS BIGINT))
        ),
        r AS (
          SELECT lag,
                 CAST(sum((n * xa - s) * (n * xb - s)) AS BIGINT) AS num,
                 max(den) AS den, max(n) AS n
          FROM p, tot GROUP BY lag
        ),
        t AS (
          SELECT n,
                 CAST(round(1000000000.0
                   * (CAST(num AS DOUBLE) / den)
                   * (CAST(num AS DOUBLE) / den)
                   / (n - lag)) AS BIGINT) AS term_nano
          FROM r
        )
        SELECT CAST(max(n) AS BIGINT) AS n_obs,
               CAST(count(*) AS BIGINT) AS m_lags,
               round(max(n) * (max(n) + 2.0)
                     * CAST(sum(term_nano) AS DOUBLE) / 1000000000.0, 6)
                 AS q_ljung_box,
               CAST(max(n) * (max(n) + 2.0)
                    * CAST(sum(term_nano) AS DOUBLE) / 1000000000.0
                    > {LB_CRIT_6DF_95} AS BIGINT) AS reject_white_noise
        FROM t GROUP BY n
    """,
)
def ts_ljung_box(spark, sf_dir):
    """Ljung–Box portmanteau test on the hourly event-count series:
    Q = n(n+2) Σ_{k=1..6} r_k²/(n−k), the whiteness test that decides
    whether the ACF's wiggles are structure or noise (rejects white
    noise when Q exceeds the χ²(6) 95% critical value 12.5916).
    Autocorrelations reuse ts_acf_lags' exact-integer spelling
    (denominator-cleared (n·x−s) products, true time-shift joins);
    each r_k²/(n−k) term is quantized to integer nano-units BEFORE
    the cross-lag sum, so the 6-term reduction is shuffle-order-proof
    and Q is one identical double expression in both engines.

    Scale: identical contract to ts_acf_lags — fact scan reduces
    map-side to the hourly rollup, all joins and folds run on that
    dim-sized series; output is a single row."""
    e = table(spark, sf_dir, "events")
    c = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("x")
    )
    wall = Window.partitionBy()
    tot = c.select(
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("x").over(wall).alias("s"),
        (
            (F.count(F.lit(1)).over(wall) * F.col("x") - F.sum("x").over(wall))
            * (F.count(F.lit(1)).over(wall) * F.col("x") - F.sum("x").over(wall))
        ).alias("dsq"),
    ).groupBy("n", "s").agg(F.sum("dsq").alias("den"))
    lags = spark.range(1, ACF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    a = c.crossJoin(F.broadcast(lags)).select(
        "lag", "h", F.col("x").alias("xa")
    )
    b = c.select(F.col("h").alias("hb"), F.col("x").alias("xb"))
    p = a.join(
        b,
        b.hb == F.col("h") - F.col("lag") * F.expr("INTERVAL 1 HOUR"),
    )
    r = (
        p.crossJoin(F.broadcast(tot))
        .groupBy("lag")
        .agg(
            F.sum(
                (F.col("n") * F.col("xa") - F.col("s"))
                * (F.col("n") * F.col("xb") - F.col("s"))
            ).alias("num"),
            F.max("den").alias("den"),
            F.max("n").alias("n"),
        )
    )
    rr = F.col("num").cast("double") / F.col("den")
    t = r.select(
        "n",
        F.round(1000000000.0 * rr * rr / (F.col("n") - F.col("lag")))
        .cast("long")
        .alias("term_nano"),
    )
    q = (
        F.col("n")
        * (F.col("n") + F.lit(2.0))
        * F.col("sum_nano").cast("double")
        / 1000000000.0
    )
    return (
        t.groupBy("n")
        .agg(
            F.count(F.lit(1)).alias("m_lags"),
            F.sum("term_nano").alias("sum_nano"),
        )
        .select(
            F.col("n").alias("n_obs"),
            "m_lags",
            F.round(q, 6).alias("q_ljung_box"),
            (q > LB_CRIT_6DF_95).cast("long").alias("reject_white_noise"),
        )
    )

@register(
    "stat_gini_impurity_split",
    oracle=f"""
        WITH u AS (
          SELECT user_id,
                 count(*) FILTER (WHERE ts < TIMESTAMP '{DID_SPLIT}')
                   AS x,
                 CAST(coalesce(sum(CAST(round(value * 100) AS BIGINT))
                        FILTER (WHERE ts >= TIMESTAMP '{DID_SPLIT}'), 0)
                      > {QINI_RESP_CENTS} AS BIGINT) AS pos
          FROM events GROUP BY 1
        ),
        g AS (
          SELECT x, CAST(count(*) AS BIGINT) AS n_v,
                 CAST(sum(pos) AS BIGINT) AS p_v
          FROM u GROUP BY 1
        ),
        tot AS (
          SELECT CAST(sum(n_v) AS BIGINT) AS n,
                 CAST(sum(p_v) AS BIGINT) AS p
          FROM g
        ),
        c AS (
          SELECT x AS thr,
                 CAST(sum(n_v) OVER (ORDER BY x) AS BIGINT) AS n_l,
                 CAST(sum(p_v) OVER (ORDER BY x) AS BIGINT) AS p_l
          FROM g
        )
        SELECT thr, n_l, p_l,
               tot.n - n_l AS n_r, tot.p - p_l AS p_r,
               round(
                 (CASE WHEN n_l = 0 THEN 0.0 ELSE
                   CAST(n_l AS DOUBLE) / tot.n
                   * (1.0 - (CAST(p_l AS DOUBLE) / n_l)
                           * (CAST(p_l AS DOUBLE) / n_l)
                         - (CAST(n_l - p_l AS DOUBLE) / n_l)
                           * (CAST(n_l - p_l AS DOUBLE) / n_l)) END)
                 + (CASE WHEN tot.n - n_l = 0 THEN 0.0 ELSE
                   CAST(tot.n - n_l AS DOUBLE) / tot.n
                   * (1.0 - (CAST(tot.p - p_l AS DOUBLE) / (tot.n - n_l))
                           * (CAST(tot.p - p_l AS DOUBLE) / (tot.n - n_l))
                         - (CAST((tot.n - n_l) - (tot.p - p_l) AS DOUBLE)
                            / (tot.n - n_l))
                           * (CAST((tot.n - n_l) - (tot.p - p_l) AS DOUBLE)
                              / (tot.n - n_l))) END), 6)
                 AS gini_weighted
        FROM c, tot
    """,
)
def stat_gini_impurity_split(spark, sf_dir):
    """Decision-tree split scoring — the inner loop of distributed
    tree training (Spark MLlib's chief aggregation pattern): for
    EVERY candidate threshold on a feature (pre-split activity
    count), the weighted Gini impurity of the binary outcome split
    x<=thr / x>thr. One histogram aggregation to the distinct-value
    spine gives (n_v, pos_v) per value; ascending prefix sums turn it
    into left/right class counts for ALL thresholds simultaneously
    (never one pass per candidate); impurity is an identical double
    expression over exact int64 counts, zero-guarded at both edges.
    The argmin row is the best split; the full curve is returned so
    the consumer also sees the margin.

    Scale: this is exactly how tree libraries scale — sufficient
    statistics per candidate bin from ONE map-side-combinable pass
    over the data, all split evaluation on the bins-sized spine.
    100 TB changes the histogram pass, not the evaluation."""
    e = table(spark, sf_dir, "events")
    split = F.lit(DID_SPLIT).cast("timestamp_ntz")
    u = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < split, 1).otherwise(0)).alias("x"),
        (
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("ts") >= split,
                        F.round(F.col("value") * 100).cast("long"),
                    )
                ),
                F.lit(0),
            )
            > QINI_RESP_CENTS
        )
        .cast("long")
        .alias("pos"),
    )
    g = u.groupBy("x").agg(
        F.count(F.lit(1)).alias("n_v"), F.sum("pos").alias("p_v")
    )
    tot = g.agg(F.sum("n_v").alias("n"), F.sum("p_v").alias("p"))
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    c = g.select(
        F.col("x").alias("thr"),
        F.sum("n_v").over(w).alias("n_l"),
        F.sum("p_v").over(w).alias("p_l"),
    )
    j = c.crossJoin(F.broadcast(tot)).select(
        "thr",
        "n_l",
        "p_l",
        (F.col("n") - F.col("n_l")).alias("n_r"),
        (F.col("p") - F.col("p_l")).alias("p_r"),
        "n",
    )

    def side_gini(nn, pp):
        frac = nn.cast("double") / F.col("n")
        pr = pp.cast("double") / nn
        qr = (nn - pp).cast("double") / nn
        return F.when(nn == 0, F.lit(0.0)).otherwise(
            frac * (F.lit(1.0) - pr * pr - qr * qr)
        )

    return j.select(
        "thr",
        "n_l",
        "p_l",
        "n_r",
        "p_r",
        F.round(
            side_gini(F.col("n_l"), F.col("p_l"))
            + side_gini(F.col("n_r"), F.col("p_r")),
            6,
        ).alias("gini_weighted"),
    )

@register(
    "stat_theil_index",
    oracle="""
        WITH x AS (
          SELECT c.c_nationkey AS nk,
                 CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS cents
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          GROUP BY o.o_custkey, c.c_nationkey
        ),
        g AS (
          SELECT nk, CAST(count(*) AS BIGINT) AS n_g,
                 CAST(sum(cents) AS BIGINT) AS x_g
          FROM x GROUP BY 1
        ),
        tot AS (
          SELECT CAST(sum(n_g) AS BIGINT) AS n,
                 CAST(sum(x_g) AS BIGINT) AS xt
          FROM g
        ),
        w AS (
          SELECT x.nk,
                 CAST(sum(CAST(round(1000000.0
                   * (CAST(x.cents AS DOUBLE) / g.x_g)
                   * ln(CAST(x.cents AS DOUBLE) * g.n_g / g.x_g))
                   AS BIGINT)) AS BIGINT) AS within_micro
          FROM x JOIN g USING (nk) GROUP BY x.nk
        )
        SELECT g.nk AS nationkey, g.n_g AS n_customers,
               g.x_g AS rev_cents,
               round(CAST(w.within_micro AS DOUBLE) / 1000000.0, 6)
                 AS theil_within,
               round((CAST(g.x_g AS DOUBLE) / tot.xt)
                     * ln((CAST(g.x_g AS DOUBLE) / tot.xt)
                          / (CAST(g.n_g AS DOUBLE) / tot.n)), 6)
                 AS theil_between_term,
               round((CAST(g.x_g AS DOUBLE) / tot.xt)
                     * (CAST(w.within_micro AS DOUBLE) / 1000000.0), 6)
                 AS within_contribution
        FROM g JOIN w ON g.nk = w.nk, tot
    """,
)
def stat_theil_index(spark, sf_dir):
    """Theil-T inequality decomposition of customer revenue by nation
    — the inequality measure Gini can't give you: T splits EXACTLY
    into between-group + share-weighted within-group components, so
    "how much of revenue concentration is across nations vs inside
    them" is one query. Per nation: the within-group Theil
    T_g = Σ_i (x_i/X_g)·ln(x_i·n_g/X_g) (each customer's term is a
    double from exact int64 cents + two group scalars, quantized to
    integer micro-nats BEFORE the group sum — shuffle-order-proof),
    the between-term s_g·ln(s_g/p_g), and the share-weighted
    contribution; total T = Σ between_term + Σ within_contribution.

    Scale: orders collapse map-side to per-customer cents; group
    scalars come from one nation-spine aggregate joined back
    broadcast; the final fold is map-side-combinable. Same contract
    as orders_gini_concentration but decomposable."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    x = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            o.o_custkey == c.c_custkey,
        )
        .groupBy("o_custkey", F.col("c_nationkey").alias("nk"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
    )
    g = x.groupBy("nk").agg(
        F.count(F.lit(1)).alias("n_g"), F.sum("cents").alias("x_g")
    )
    tot = g.agg(F.sum("n_g").alias("n"), F.sum("x_g").alias("xt"))
    term = F.round(
        1000000.0
        * (F.col("cents").cast("double") / F.col("x_g"))
        * F.log(
            F.col("cents").cast("double") * F.col("n_g") / F.col("x_g")
        )
    ).cast("long")
    w = (
        x.join(F.broadcast(g), "nk")
        .groupBy("nk")
        .agg(F.sum(term).alias("within_micro"))
    )
    sg = F.col("x_g").cast("double") / F.col("xt")
    pg = F.col("n_g").cast("double") / F.col("n")
    tw = F.col("within_micro").cast("double") / 1000000.0
    return (
        g.join(w, "nk")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("nk").alias("nationkey"),
            F.col("n_g").alias("n_customers"),
            F.col("x_g").alias("rev_cents"),
            F.round(tw, 6).alias("theil_within"),
            F.round(sg * F.log(sg / pg), 6).alias("theil_between_term"),
            F.round(sg * tw, 6).alias("within_contribution"),
        )
    )

_CORR_FEATS = ["qty", "usd", "disc_bp", "tax_bp"]

_CORR_PAIRS = [
    (a, b)
    for i, a in enumerate(_CORR_FEATS)
    for b in _CORR_FEATS[i + 1:]
]

def _corr_sql() -> str:
    sums = ", ".join(
        [f"CAST(sum({f}) AS BIGINT) AS s_{f}" for f in _CORR_FEATS]
        + [
            f"CAST(sum({a} * {b}) AS BIGINT) AS s_{a}_{b}"
            for i, a in enumerate(_CORR_FEATS)
            for b in _CORR_FEATS[i:]
        ]
    )
    def corr(a, b):
        return (
            f"round((CAST(n AS DOUBLE) * s_{a}_{b} - CAST(s_{a} AS DOUBLE) * s_{b})"
            f" / sqrt((CAST(n AS DOUBLE) * s_{a}_{a} - CAST(s_{a} AS DOUBLE) * s_{a})"
            f" * (CAST(n AS DOUBLE) * s_{b}_{b} - CAST(s_{b} AS DOUBLE) * s_{b})), 6)"
        )
    pairs = " UNION ALL ".join(
        f"SELECT '{a}' AS feat_a, '{b}' AS feat_b, n, {corr(a, b)} AS corr FROM m"
        for a, b in _CORR_PAIRS
    )
    return f"""
        WITH q AS (
          SELECT CAST(l_quantity AS BIGINT) AS qty,
                 CAST(round(l_extendedprice) AS BIGINT) AS usd,
                 CAST(round(l_discount * 10000) AS BIGINT) AS disc_bp,
                 CAST(round(l_tax * 10000) AS BIGINT) AS tax_bp
          FROM lineitem
        ),
        m AS (SELECT CAST(count(*) AS BIGINT) AS n, {sums} FROM q)
        {pairs}
    """

@register("ml_feature_correlation_matrix", oracle=_corr_sql())
def ml_feature_correlation_matrix(spark, sf_dir):
    """Pairwise Pearson correlation matrix over four lineitem
    features (quantity, price-in-dollars, discount/tax in basis
    points) — the feature-selection screen run before any model
    training, computed the ONLY way it scales: every co-moment
    (4 sums, 4 squares, 6 cross products) accumulates as an exact
    int64 in ONE map-side-combinable pass (features are quantized to
    integer units first so the sums are shuffle-order-proof), and
    all 6 correlations are identical double expressions over that
    single 15-cell row. Never k² passes, never a row-pair join.

    Scale: one scan, one 15-column partial-agg reduce to a single
    row; the pair fan-out is a 6-element inline explode of that row.
    At sf1's magnitudes the largest co-moment (price², ~6e16) still
    clears int64 with 100× headroom."""
    li = table(spark, sf_dir, "lineitem")
    q = li.select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.round("l_extendedprice").cast("long").alias("usd"),
        F.round(F.col("l_discount") * 10000).cast("long").alias("disc_bp"),
        F.round(F.col("l_tax") * 10000).cast("long").alias("tax_bp"),
    )
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.sum(f).alias(f"s_{f}") for f in _CORR_FEATS
    ] + [
        F.sum(F.col(a) * F.col(b)).alias(f"s_{a}_{b}")
        for i, a in enumerate(_CORR_FEATS)
        for b in _CORR_FEATS[i:]
    ]
    m = q.agg(*aggs)

    def corr(a, b):
        num = (
            F.col("n").cast("double") * F.col(f"s_{a}_{b}")
            - F.col(f"s_{a}").cast("double") * F.col(f"s_{b}")
        )
        den = F.sqrt(
            (
                F.col("n").cast("double") * F.col(f"s_{a}_{a}")
                - F.col(f"s_{a}").cast("double") * F.col(f"s_{a}")
            )
            * (
                F.col("n").cast("double") * F.col(f"s_{b}_{b}")
                - F.col(f"s_{b}").cast("double") * F.col(f"s_{b}")
            )
        )
        return F.round(num / den, 6)

    pairs = F.array(
        *[
            F.struct(
                F.lit(a).alias("feat_a"),
                F.lit(b).alias("feat_b"),
                F.col("n").alias("n"),
                corr(a, b).alias("corr"),
            )
            for a, b in _CORR_PAIRS
        ]
    )
    return m.select(F.inline(pairs))

@register(
    "stat_icc_intraclass",
    oracle="""
        WITH x AS (
          SELECT user_id,
                 CAST(round(value * 100) AS BIGINT) AS cents
          FROM events
        ),
        g AS (
          SELECT user_id, CAST(count(*) AS BIGINT) AS n_g,
                 CAST(sum(cents) AS BIGINT) AS s_g
          FROM x GROUP BY 1
        ),
        tot AS (
          SELECT CAST(sum(n_g) AS BIGINT) AS n,
                 CAST(sum(s_g) AS BIGINT) AS s,
                 CAST(count(*) AS BIGINT) AS k
          FROM g
        ),
        ss AS (
          SELECT CAST(sum(cents * cents) AS BIGINT) AS s2 FROM x
        ),
        sb AS (
          SELECT CAST(sum(CAST(round(
                   (CAST(s_g AS DOUBLE) * s_g) / n_g) AS BIGINT))
                 AS BIGINT) AS sb_g
          FROM g
        )
        SELECT tot.k AS n_users, tot.n AS n_events,
               round((CAST(sb.sb_g AS DOUBLE)
                      - CAST(tot.s AS DOUBLE) * tot.s / tot.n)
                     / (CAST(ss.s2 AS DOUBLE)
                        - CAST(tot.s AS DOUBLE) * tot.s / tot.n), 6)
                 AS between_user_share
        FROM tot, ss, sb
    """,
)
def stat_icc_intraclass(spark, sf_dir):
    """Between-user variance share (SSB/SST, the intraclass-
    correlation proxy) of event value — the number that decides
    whether an A/B test can randomize by EVENT or must randomize by
    USER: when user identity explains a material share of metric
    variance, event-level randomization leaks treatment across the
    clusters and the delta-method/CUPED machinery becomes mandatory.
    SST = Σx² − (Σx)²/N and SSB = Σ_g s_g²/n_g − (Σx)²/N from ONE
    pass of exact int64 cent sums; each group's s_g²/n_g is rounded
    to an integer before the cross-group sum (shuffle-order-proof),
    and the final ratio is one identical double expression.

    Scale: the classic two-level sufficient-statistics shape — one
    map-side-combinable groupBy to the user spine plus one scalar
    moment pass; nothing downstream exceeds the spine."""
    e = table(spark, sf_dir, "events")
    x = e.select(
        "user_id", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    g = x.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_g"), F.sum("cents").alias("s_g")
    )
    tot = g.agg(
        F.sum("n_g").alias("n"),
        F.sum("s_g").alias("s"),
        F.count(F.lit(1)).alias("k"),
    )
    ss = x.agg(F.sum(F.col("cents") * F.col("cents")).alias("s2"))
    sb = g.agg(
        F.sum(
            F.round(
                (F.col("s_g").cast("double") * F.col("s_g")) / F.col("n_g")
            ).cast("long")
        ).alias("sb_g")
    )
    cm = F.col("s").cast("double") * F.col("s") / F.col("n")
    return (
        tot.crossJoin(F.broadcast(ss))
        .crossJoin(F.broadcast(sb))
        .select(
            F.col("k").alias("n_users"),
            F.col("n").alias("n_events"),
            F.round(
                (F.col("sb_g").cast("double") - cm)
                / (F.col("s2").cast("double") - cm),
                6,
            ).alias("between_user_share"),
        )
    )

DFT_MAX_K = 36

@register(
    "ts_dft_periodogram",
    oracle=f"""
        WITH c AS (
          SELECT date_trunc('hour', ts) AS h, count(*) AS x
          FROM events GROUP BY 1
        ),
        idx AS (
          SELECT CAST((epoch_ns(h) - (SELECT min(epoch_ns(h)) FROM c))
                      // 3600000000000 AS BIGINT) AS t,
                 CAST(x AS BIGINT) AS x
          FROM c
        ),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM idx),
        terms AS (
          SELECT k.k,
                 CAST(sum(CAST(round(1000.0 * x *
                   cos(2 * pi() * k.k * t / n.n)) AS BIGINT))
                   AS BIGINT) AS re_milli,
                 CAST(sum(CAST(round(1000.0 * x *
                   sin(2 * pi() * k.k * t / n.n)) AS BIGINT))
                   AS BIGINT) AS im_milli
          FROM idx, n, (SELECT l.l + 1 AS k
                        FROM unnest(range({DFT_MAX_K})) l(l)) k
          GROUP BY k.k
        ),
        pw AS (
          SELECT k,
                 (CAST(re_milli AS DOUBLE) * re_milli
                  + CAST(im_milli AS DOUBLE) * im_milli) / 1000000.0
                   AS power
          FROM terms
        ),
        best AS (SELECT max(power) AS bp FROM pw)
        SELECT CAST(pw.k AS BIGINT) AS k,
               round(CAST(n.n AS DOUBLE) / pw.k, 6) AS period_hours,
               round(pw.power / (CAST(n.n AS DOUBLE) * n.n), 6)
                 AS power_norm,
               CAST(pw.power = best.bp AS BIGINT) AS is_peak
        FROM pw, n, best
    """,
)
def ts_dft_periodogram(spark, sf_dir):
    """DFT periodogram of the hourly event series — the frequency-
    domain seasonality detector that finds the dominant cycle WITHOUT
    guessing candidate lags (the ACF's blind spot): per frequency k,
    the Fourier power |Σ x·e^(-2πikt/N)|² over k = 1..36, peak
    flagged (the fixture's 24-hour cycle lands at k = N/24). Each
    cos/sin term is quantized to integer milli-units BEFORE the
    per-frequency sum, so the folds are exact int64 and shuffle-
    order-proof; power and the peak comparison are identical double
    expressions over those ints.

    Scale: the fact scan reduces map-side to the hourly rollup; the
    36× frequency fan-out and trig are map-only arithmetic on that
    spine (36·|hours| rows), and each frequency folds independently —
    embarrassingly parallel, the textbook distributed periodogram."""
    e = table(spark, sf_dir, "events")
    c = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("x")
    )
    t0 = c.agg(F.min("h").alias("h0"))
    idx = c.crossJoin(F.broadcast(t0)).select(
        F.floor(
            (F.unix_micros("h") - F.unix_micros("h0")) / 3600000000
        ).alias("t"),
        F.col("x").cast("long").alias("x"),
    )
    n = idx.agg(F.count(F.lit(1)).alias("n"))
    ks = spark.range(1, DFT_MAX_K + 1).select(F.col("id").alias("k"))
    ang = (
        2 * F.lit(3.141592653589793) * F.col("k") * F.col("t") / F.col("n")
    )
    terms = (
        idx.crossJoin(F.broadcast(ks))
        .crossJoin(F.broadcast(n))
        .groupBy("k")
        .agg(
            F.sum(
                F.round(1000.0 * F.col("x") * F.cos(ang)).cast("long")
            ).alias("re_milli"),
            F.sum(
                F.round(1000.0 * F.col("x") * F.sin(ang)).cast("long")
            ).alias("im_milli"),
        )
    )
    pw = terms.select(
        "k",
        (
            (
                F.col("re_milli").cast("double") * F.col("re_milli")
                + F.col("im_milli").cast("double") * F.col("im_milli")
            )
            / 1000000.0
        ).alias("power"),
    )
    best = pw.agg(F.max("power").alias("bp"))
    return (
        pw.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(best))
        .select(
            F.col("k").cast("long").alias("k"),
            F.round(F.col("n").cast("double") / F.col("k"), 6).alias(
                "period_hours"
            ),
            F.round(
                F.col("power") / (F.col("n").cast("double") * F.col("n")),
                6,
            ).alias("power_norm"),
            (F.col("power") == F.col("bp")).cast("long").alias("is_peak"),
        )
    )

PERM_K = 20

@register(
    "stat_permutation_test",
    oracle=f"""
        WITH u AS (
          SELECT user_id,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents,
                 CAST(user_id % 2 = 0 AS BIGINT) AS treat
          FROM events GROUP BY 1
        ),
        obs AS (
          SELECT CAST(sum(CASE WHEN treat = 1 THEN cents END) AS DOUBLE)
                   / sum(treat)
                 - CAST(sum(CASE WHEN treat = 0 THEN cents END) AS DOUBLE)
                   / sum(1 - treat) AS d
          FROM u
        ),
        perms AS (SELECT l.l + 1 AS r FROM unnest(range({PERM_K})) l(l)),
        pl AS (
          SELECT perms.r,
                 CAST(CAST(('0x' || substr(md5(perms.r || ':' || u.user_id),
                   1, 8)) AS BIGINT) % 2 = 0 AS BIGINT) AS pt,
                 u.cents
          FROM u, perms
        ),
        pd AS (
          SELECT r,
                 CAST(sum(CASE WHEN pt = 1 THEN cents END) AS DOUBLE)
                   / sum(pt)
                 - CAST(sum(CASE WHEN pt = 0 THEN cents END) AS DOUBLE)
                   / sum(1 - pt) AS d
          FROM pl GROUP BY 1
        )
        SELECT CAST(count(*) AS BIGINT) AS k_perms,
               round(max(obs.d), 6) AS observed_diff_cents,
               CAST(sum(CAST(abs(pd.d) >= abs(obs.d) AS BIGINT))
                    AS BIGINT) AS n_extreme,
               round((1.0 + sum(CAST(abs(pd.d) >= abs(obs.d) AS BIGINT)))
                     / (count(*) + 1.0), 6) AS p_value
        FROM pd, obs
    """,
)
def stat_permutation_test(spark, sf_dir):
    """Permutation test of the treatment effect on per-user spend —
    the assumption-free inference backstop when t-test normality is
    doubtful: re-randomize the treatment label K=20 times, recompute
    the mean difference, and report the share of permutations at
    least as extreme as observed (add-one p-value, the standard
    finite-K correction). Permutations are DETERMINISTIC — each
    user's relabeling is a parity bit of md5(perm:user), the same
    reproducible-randomness trick as sample_poisson_bootstrap — so
    both engines draw identical permutations and the test
    value-hashes end to end. User sums are exact int64 cents; each
    difference is one identical double expression.

    Scale: one combinable pass to the user spine, a K× map-only
    fan-out of that spine (never of raw events), K combinable folds.
    At 100 TB the spine fan-out is the entire cost — the reference
    permutation-test shape."""
    e = table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    ).select(
        "user_id",
        "cents",
        (F.col("user_id") % 2 == 0).cast("long").alias("treat"),
    )

    def mean_diff(flag):
        t = F.sum(F.when(flag == 1, F.col("cents"))).cast("double") / F.sum(
            flag
        )
        c = F.sum(F.when(flag == 0, F.col("cents"))).cast("double") / F.sum(
            1 - flag
        )
        return t - c

    obs = u.agg(mean_diff(F.col("treat")).alias("d"))
    perms = spark.range(1, PERM_K + 1).select(F.col("id").alias("r"))
    pt = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("r").cast("string"),
                        F.lit(":"),
                        F.col("user_id").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
        == 0
    ).cast("long")
    pl = u.crossJoin(F.broadcast(perms)).select(
        "r", pt.alias("pt"), "cents"
    )
    pd_ = pl.groupBy("r").agg(mean_diff(F.col("pt")).alias("d"))
    return (
        pd_.crossJoin(F.broadcast(obs.select(F.col("d").alias("obs_d"))))
        .agg(
            F.count(F.lit(1)).alias("k_perms"),
            F.round(F.max("obs_d"), 6).alias("observed_diff_cents"),
            F.sum(
                (F.abs(F.col("d")) >= F.abs(F.col("obs_d"))).cast("long")
            ).alias("n_extreme"),
            F.round(
                (
                    1.0
                    + F.sum(
                        (
                            F.abs(F.col("d")) >= F.abs(F.col("obs_d"))
                        ).cast("long")
                    )
                )
                / (F.count(F.lit(1)) + 1.0),
                6,
            ).alias("p_value"),
        )
    )

@register(
    "stat_cramers_v",
    oracle="""
        WITH c AS (
          SELECT o_orderpriority AS a, o_orderstatus AS b,
                 CAST(count(*) AS BIGINT) AS n
          FROM orders GROUP BY 1, 2
        ),
        ra AS (SELECT a, CAST(sum(n) AS BIGINT) AS na FROM c GROUP BY 1),
        rb AS (SELECT b, CAST(sum(n) AS BIGINT) AS nb FROM c GROUP BY 1),
        tot AS (
          SELECT CAST(sum(n) AS BIGINT) AS nt,
                 CAST((SELECT count(*) FROM ra) AS BIGINT) AS r,
                 CAST((SELECT count(*) FROM rb) AS BIGINT) AS k
          FROM c
        ),
        chi AS (
          SELECT CAST(sum(CAST(round(1000000.0 *
                   (c.n - CAST(ra.na AS DOUBLE) * rb.nb / tot.nt)
                   * (c.n - CAST(ra.na AS DOUBLE) * rb.nb / tot.nt)
                   / (CAST(ra.na AS DOUBLE) * rb.nb / tot.nt))
                   AS BIGINT)) AS BIGINT) AS chi_micro
          FROM c JOIN ra USING (a) JOIN rb USING (b), tot
        )
        SELECT tot.nt AS n, tot.r AS n_rows_levels, tot.k AS n_col_levels,
               round(CAST(chi.chi_micro AS DOUBLE) / 1000000.0, 6)
                 AS chi_square,
               round(sqrt(CAST(chi.chi_micro AS DOUBLE) / 1000000.0
                     / (tot.nt * (least(tot.r, tot.k) - 1))), 6)
                 AS cramers_v
        FROM tot, chi
    """,
)
def stat_cramers_v(spark, sf_dir):
    """Cramér's V — the normalized effect size for categorical
    association that the raw chi-square (stat_chi_square) can't give
    you: χ² grows with N, V ∈ [0,1] answers "is priority actually
    related to order status, and how strongly". Cell, row, and column
    counts are exact int64; each cell's (O−E)²/E term is an identical
    double expression micro-quantized BEFORE the cross-cell sum
    (shuffle-order-proof); V is one final sqrt over those ints.

    Scale: one combinable pass to the contingency cells (r×k,
    constant-sized), broadcast margins, constant-size fold — the
    categorical-association screen at scan-bound cost."""
    o = table(spark, sf_dir, "orders")
    c = o.groupBy(
        F.col("o_orderpriority").alias("a"),
        F.col("o_orderstatus").alias("b"),
    ).agg(F.count(F.lit(1)).alias("n"))
    ra = c.groupBy("a").agg(F.sum("n").alias("na"))
    rb = c.groupBy("b").agg(F.sum("n").alias("nb"))
    tot = c.agg(F.sum("n").alias("nt")).crossJoin(
        F.broadcast(ra.agg(F.count(F.lit(1)).alias("r")))
    ).crossJoin(F.broadcast(rb.agg(F.count(F.lit(1)).alias("k"))))
    e = F.col("na").cast("double") * F.col("nb") / F.col("nt")
    term = F.round(
        1000000.0 * (F.col("n") - e) * (F.col("n") - e) / e
    ).cast("long")
    chi = (
        c.join(F.broadcast(ra), "a")
        .join(F.broadcast(rb), "b")
        .crossJoin(F.broadcast(tot))
        .agg(F.sum(term).alias("chi_micro"))
    )
    return tot.crossJoin(F.broadcast(chi)).select(
        F.col("nt").alias("n"),
        F.col("r").alias("n_rows_levels"),
        F.col("k").alias("n_col_levels"),
        F.round(F.col("chi_micro").cast("double") / 1000000.0, 6).alias(
            "chi_square"
        ),
        F.round(
            F.sqrt(
                F.col("chi_micro").cast("double")
                / 1000000.0
                / (F.col("nt") * (F.least("r", "k") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )

@register(
    "stat_power_mde",
    oracle="""
        WITH u AS (
          SELECT user_id,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
          FROM events GROUP BY 1
        ),
        m AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(cents) AS BIGINT) AS s,
                 CAST(sum(cents * cents) AS BIGINT) AS s2
          FROM u
        )
        SELECT n AS n_users,
               round(CAST(s AS DOUBLE) / n / 100.0, 6) AS mean_value,
               round(sqrt((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                     / (n - 1)) / 100.0, 6) AS sd_value,
               round((1.959964 + 0.841621)
                     * sqrt((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                            / (n - 1))
                     * sqrt(4.0 / n) / 100.0, 6) AS mde_abs,
               round((1.959964 + 0.841621)
                     * sqrt((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                            / (n - 1))
                     * sqrt(4.0 / n)
                     / (CAST(s AS DOUBLE) / n), 6) AS mde_rel
        FROM m
    """,
)
def stat_power_mde(spark, sf_dir):
    """Experiment power analysis — the minimum detectable effect a
    50/50 split of THIS population can resolve at α=0.05, power=0.8:
    MDE = (z_{0.975}+z_{0.8})·σ·sqrt(2/(n/2)), the number every A/B
    test should publish BEFORE launch (an underpowered test's null is
    meaningless). σ comes from exact int64 cent moments over the
    per-user spine (the correct randomization unit per
    stat_icc_intraclass); the z constants are fixed literals, so the
    whole row is identical double expressions over exact ints.

    Scale: one combinable pass to the user spine + a 3-cell scalar
    fold — free at any size, which is the point: there is no excuse
    not to run it."""
    e = table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )
    m = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).alias("s2"),
    )
    var = (
        F.col("s2").cast("double")
        - F.col("s").cast("double") * F.col("s") / F.col("n")
    ) / (F.col("n") - 1)
    sd = F.sqrt(var)
    zsum = F.lit(1.959964) + F.lit(0.841621)
    mde = zsum * sd * F.sqrt(4.0 / F.col("n"))
    return m.select(
        F.col("n").alias("n_users"),
        F.round(F.col("s").cast("double") / F.col("n") / 100.0, 6).alias(
            "mean_value"
        ),
        F.round(sd / 100.0, 6).alias("sd_value"),
        F.round(mde / 100.0, 6).alias("mde_abs"),
        F.round(
            mde / (F.col("s").cast("double") / F.col("n")), 6
        ).alias("mde_rel"),
    )


BH_ALPHA_MICRO = 50_000  # 0.05 in micro units


@register(
    "stat_bh_fdr",
    oracle=f"""
        WITH u AS (
          SELECT event_type, user_id,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents,
                 CAST(user_id % 2 = 0 AS BIGINT) AS treat
          FROM events GROUP BY 1, 2
        ),
        obs AS (
          SELECT event_type,
                 CAST(sum(CASE WHEN treat = 1 THEN cents END) AS DOUBLE)
                   / sum(treat)
                 - CAST(sum(CASE WHEN treat = 0 THEN cents END) AS DOUBLE)
                   / sum(1 - treat) AS d
          FROM u GROUP BY 1
        ),
        perms AS (SELECT l.l + 1 AS r FROM unnest(range({PERM_K})) l(l)),
        pl AS (
          SELECT u.event_type, perms.r,
                 CAST(CAST(('0x' || substr(md5(perms.r || ':' || u.user_id),
                   1, 8)) AS BIGINT) % 2 = 0 AS BIGINT) AS pt,
                 u.cents
          FROM u, perms
        ),
        pd AS (
          SELECT event_type, r,
                 CAST(sum(CASE WHEN pt = 1 THEN cents END) AS DOUBLE)
                   / sum(pt)
                 - CAST(sum(CASE WHEN pt = 0 THEN cents END) AS DOUBLE)
                   / sum(1 - pt) AS d
          FROM pl GROUP BY 1, 2
        ),
        ex AS (
          SELECT pd.event_type,
                 round(max(o.d), 6) AS observed_diff_cents,
                 CAST(sum(CAST(abs(pd.d) >= abs(o.d) AS BIGINT))
                      AS BIGINT) AS n_extreme
          FROM pd JOIN obs o USING (event_type) GROUP BY 1
        ),
        mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ex),
        rk AS (
          SELECT ex.*, CAST(row_number() OVER (ORDER BY n_extreme,
                 event_type) AS BIGINT) AS i
          FROM ex
        ),
        adj AS (
          SELECT rk.*, mm.m,
                 (1000000 * (n_extreme + 1) * mm.m)
                   // (({PERM_K} + 1) * i) AS a
          FROM rk, mm
        ),
        bh AS (
          SELECT adj.*,
                 min(a) OVER (ORDER BY i DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
          FROM adj
        )
        SELECT event_type, observed_diff_cents, n_extreme,
               CAST((1000000 * (n_extreme + 1)) // ({PERM_K} + 1)
                    AS BIGINT) AS p_raw_micro,
               CAST(least(s, 1000000) AS BIGINT) AS p_bh_micro,
               least(s, 1000000) <= {BH_ALPHA_MICRO} AS reject_05
        FROM bh
    """,
)
def stat_bh_fdr(spark, sf_dir):
    """Benjamini–Hochberg FDR control over a FAMILY of tests — the
    multiple-testing step every metrics platform needs once it runs
    one test per segment: a per-event-type permutation test of the
    treatment effect (the stat_permutation_test machinery, partitioned
    by type — deterministic md5-parity relabels, exact-cents sums,
    add-one empirical p-values) feeds the BH step-up: order the m
    p-values, adjust p_(i)·m/i, take the suffix min, reject at
    α=0.05. Everything after the mean differences is INTEGER-exact
    (p-values are rationals over K+1; the adjustment is one integer
    floor-division per row), so the whole procedure value-hashes —
    no erf/gamma CDFs anywhere, which is exactly why the
    permutation+BH pair is the distribution-free production choice.

    Scale: the heavy part is the K× spine fan-out per segment (the
    permutation economics, combinable folds); the BH step runs on the
    m-row report (m = segment count, window over a report-sized
    frame)."""
    e = table(spark, sf_dir, "events")
    u = (
        e.groupBy("event_type", "user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
        )
        .select(
            "event_type",
            "user_id",
            "cents",
            (F.col("user_id") % 2 == 0).cast("long").alias("treat"),
        )
    )

    def mean_diff(flag):
        t = F.sum(F.when(flag == 1, F.col("cents"))).cast(
            "double"
        ) / F.sum(flag)
        c = F.sum(F.when(flag == 0, F.col("cents"))).cast(
            "double"
        ) / F.sum(1 - flag)
        return t - c

    obs = u.groupBy("event_type").agg(mean_diff(F.col("treat")).alias("d"))
    perms = spark.range(1, PERM_K + 1).select(F.col("id").alias("r"))
    pt = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("r").cast("string"),
                        F.lit(":"),
                        F.col("user_id").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
        == 0
    ).cast("long")
    pl = u.crossJoin(F.broadcast(perms)).select(
        "event_type", "r", pt.alias("pt"), "cents"
    )
    pd_ = pl.groupBy("event_type", "r").agg(mean_diff(F.col("pt")).alias("d"))
    ex = (
        pd_.join(obs.withColumnRenamed("d", "obs_d"), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.max("obs_d"), 6).alias("observed_diff_cents"),
            F.sum(
                (F.abs(F.col("d")) >= F.abs(F.col("obs_d"))).cast("long")
            ).alias("n_extreme"),
        )
    )
    m = ex.count()  # segment count: bounded by event-type cardinality
    wi = Window.orderBy("n_extreme", "event_type")
    ws = Window.orderBy(F.desc("i")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    den = PERM_K + 1
    return (
        ex.withColumn("i", F.row_number().over(wi).cast("long"))
        .withColumn(
            "a",
            F.expr(
                f"(1000000 * (n_extreme + 1) * {m}) div ({den} * i)"
            ),
        )
        .withColumn("s", F.min("a").over(ws))
        .select(
            "event_type",
            "observed_diff_cents",
            "n_extreme",
            F.expr(f"(1000000 * (n_extreme + 1)) div {den}").alias(
                "p_raw_micro"
            ),
            F.least(F.col("s"), F.lit(1_000_000))
            .cast("long")
            .alias("p_bh_micro"),
            (F.least(F.col("s"), F.lit(1_000_000)) <= BH_ALPHA_MICRO).alias(
                "reject_05"
            ),
        )
    )
