"""Event-stream analytics ops (events_*): funnels, retention, DAU,
sessionization-adjacent aggregates. Split out of aggregates.py in
round 6; shared helpers import from .aggregates."""

from __future__ import annotations
from pyspark.sql import Window
from pyspark.sql import functions as F
from ..registry import register, table

from .aggregates import (  # noqa: F401 — shared helpers
    DID_SPLIT,
)


@register(
    "events_anomaly_mad",
    oracle="""
        WITH med AS (
          SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
          FROM events GROUP BY event_type
        ),
        dev AS (
          SELECT e.event_id, e.event_type, e.value, m.med,
                 abs(e.value - m.med) AS dev
          FROM events e JOIN med m USING (event_type)
        ),
        mad AS (
          SELECT event_type, round(quantile_cont(dev, 0.5), 6) AS mad
          FROM dev GROUP BY event_type
        )
        SELECT d.event_id, d.event_type, d.value, d.med, a.mad
        FROM dev d JOIN mad a USING (event_type)
        WHERE d.dev > 3.5 * a.mad
        ORDER BY d.event_id
    """,
)
def events_anomaly_mad(spark, sf_dir):
    """Robust outlier detection via median absolute deviation — the
    median/MAD analogue of flow_zscore_anomaly, immune to the outliers
    it hunts. Two grouped exact medians with broadcast join-backs (the
    per-type stats are dim-sized at any scale).

    Both medians are rounded to 6 dp BEFORE any downstream arithmetic
    so the interpolation-ulp divergence between engines can't flip the
    3.5×MAD comparison."""
    e = table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.round(F.percentile("dev", F.lit(0.5)), 6).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("dev") > 3.5 * F.col("mad"))
        .select("event_id", "event_type", "value", "med", "mad")
        .orderBy("event_id")
    )

@register(
    "events_dau_stickiness",
    oracle="""
        WITH d AS (
          SELECT CAST(ts AS DATE) AS day,
                 CAST(week(ts) AS BIGINT) AS iso_week,
                 user_id
          FROM events
        ), dau AS (
          SELECT day, any_value(iso_week) AS iso_week,
                 count(DISTINCT user_id) AS dau
          FROM d GROUP BY day
        ), wau AS (
          SELECT iso_week, count(DISTINCT user_id) AS wau
          FROM d GROUP BY iso_week
        )
        SELECT CAST(dau.day AS VARCHAR) AS day, dau.dau, wau.wau,
               round(CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE), 6)
                 AS stickiness
        FROM dau JOIN wau ON dau.iso_week = wau.iso_week
        ORDER BY day
    """,
)
def events_dau_stickiness(spark, sf_dir):
    """DAU/WAU stickiness: daily and ISO-week distinct actives joined
    on the week — the engagement ratio every product-analytics
    deployment computes. Two distinct-aggs over the same scan (both
    map-side partial), then a broadcast join of the week-cardinality
    relation back onto days. A day's week is recovered with
    any_value (all rows in a day share the ISO week) rather than a
    re-derivation in the join key."""
    e = table(spark, sf_dir, "events")
    d = e.select(
        F.col("ts").cast("date").alias("day"),
        F.weekofyear("ts").cast("long").alias("iso_week"),
        "user_id",
    )
    dau = d.groupBy("day").agg(
        F.any_value("iso_week").alias("iso_week"),
        F.count_distinct("user_id").alias("dau"),
    )
    wau = d.groupBy("iso_week").agg(F.count_distinct("user_id").alias("wau"))
    return (
        dau.join(F.broadcast(wau), "iso_week")
        .select(
            F.col("day").cast("string").alias("day"),
            "dau",
            "wau",
            F.round(
                F.col("dau").cast("double") / F.col("wau").cast("double"), 6
            ).alias("stickiness"),
        )
        .orderBy("day")
    )

@register(
    "events_seasonality_matrix",
    oracle="""
        SELECT CAST(isodow(ts) - 1 AS BIGINT) AS weekday_mon0,
               CAST(hour(ts) AS BIGINT) AS hr,
               count(*) AS n_events,
               count(DISTINCT user_id) AS n_users,
               sum(CAST(round(value*100) AS BIGINT))/100.0 AS total_value
        FROM events
        GROUP BY weekday_mon0, hr
        ORDER BY weekday_mon0, hr
    """,
)
def events_seasonality_matrix(spark, sf_dir):
    """Hour-of-day × day-of-week activity heatmap — the seasonality
    profile behind capacity planning and anomaly baselines (compare
    an hour against its weekday-hour cell, not the global mean).
    168 output cells regardless of input size: the canonical
    high-reduction aggregate where map-side partials collapse
    each scan task to ≤168 rows before the single tiny shuffle."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.weekday("ts").cast("long").alias("weekday_mon0"),
            F.hour("ts").cast("long").alias("hr"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            (
                F.sum(F.round(F.col("value") * 100.0).cast("long")) / 100.0
            ).alias("total_value"),
        )
        .orderBy("weekday_mon0", "hr")
    )

@register(
    "events_welch_ttest",
    oracle="""
        WITH q AS (
          SELECT CAST(ts AS DATE) AS day, event_type,
                 CAST(round(value * 10000) AS BIGINT) AS v
          FROM events WHERE event_type IN ('purchase', 'click')
        ),
        s AS (
          SELECT day,
                 count(*) FILTER (WHERE event_type = 'purchase') AS na,
                 CAST(sum(v) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS sa,
                 CAST(sum(v * v) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS qa,
                 count(*) FILTER (WHERE event_type = 'click') AS nb,
                 CAST(sum(v) FILTER (WHERE event_type = 'click') AS BIGINT) AS sb,
                 CAST(sum(v * v) FILTER (WHERE event_type = 'click') AS BIGINT) AS qb
          FROM q GROUP BY day
        )
        SELECT CAST(day AS VARCHAR) AS day, na, nb,
               round(((CAST(sa AS DOUBLE) / na) - (CAST(sb AS DOUBLE) / nb))
                     / sqrt(((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / na) / (na - 1)) / na
                          + ((CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / nb) / (nb - 1)) / nb),
                     6) AS t_stat
        FROM s
        WHERE na >= 2 AND nb >= 2
        ORDER BY day
    """,
)
def events_welch_ttest(spark, sf_dir):
    """Daily Welch two-sample t statistic between purchase and click
    values — the A/B-experiment primitive. One conditional aggregate
    per day accumulates EXACT integer (n, Σv, Σv²) for both arms
    (values quantized to 1e-4 units; Σv² stays far inside int64 at
    per-day group sizes), then t is derived through an identical
    scalar double expression in both engines — bit-stable at any
    parallelism, where a naive stddev-of-doubles would drift with
    shuffle order. Single map-side-combinable shuffle on day."""
    e = table(spark, sf_dir, "events")
    v = F.round(F.col("value") * 10000).cast("long")
    is_a = F.col("event_type") == "purchase"
    is_b = F.col("event_type") == "click"
    s = (
        e.filter(F.col("event_type").isin("purchase", "click"))
        .select(F.col("ts").cast("date").alias("day"), "event_type", v.alias("v"))
        .groupBy("day")
        .agg(
            F.count_if(is_a).alias("na"),
            F.sum(F.when(is_a, F.col("v"))).alias("sa"),
            F.sum(F.when(is_a, F.col("v") * F.col("v"))).alias("qa"),
            F.count_if(is_b).alias("nb"),
            F.sum(F.when(is_b, F.col("v"))).alias("sb"),
            F.sum(F.when(is_b, F.col("v") * F.col("v"))).alias("qb"),
        )
    )
    mean_a = F.col("sa").cast("double") / F.col("na")
    mean_b = F.col("sb").cast("double") / F.col("nb")
    var_a = (
        F.col("qa").cast("double")
        - F.col("sa").cast("double") * F.col("sa").cast("double") / F.col("na")
    ) / (F.col("na") - 1)
    var_b = (
        F.col("qb").cast("double")
        - F.col("sb").cast("double") * F.col("sb").cast("double") / F.col("nb")
    ) / (F.col("nb") - 1)
    t = (mean_a - mean_b) / F.sqrt(var_a / F.col("na") + var_b / F.col("nb"))
    return (
        s.filter((F.col("na") >= 2) & (F.col("nb") >= 2))
        .select(
            F.col("day").cast("string").alias("day"),
            "na",
            "nb",
            F.round(t, 6).alias("t_stat"),
        )
        .orderBy("day")
    )

@register(
    "events_time_to_convert",
    oracle="""
        WITH fv AS (
          SELECT user_id, min(epoch_us(ts)) AS first_view_us
          FROM events WHERE event_type = 'view' GROUP BY user_id
        ),
        fp AS (
          SELECT e.user_id, min(epoch_us(e.ts)) AS first_purchase_us
          FROM events e JOIN fv ON e.user_id = fv.user_id
          WHERE e.event_type = 'purchase'
            AND epoch_us(e.ts) >= fv.first_view_us
          GROUP BY e.user_id
        ),
        lat AS (
          SELECT fv.user_id,
                 (fp.first_purchase_us - fv.first_view_us) AS us
          FROM fv JOIN fp ON fv.user_id = fp.user_id
        )
        SELECT us // 3600000000 AS hours_bucket,
               count(*) AS n_users,
               CAST(min(us) AS BIGINT) AS min_us,
               CAST(max(us) AS BIGINT) AS max_us,
               round(CAST(sum(us) AS DOUBLE) / count(*) / 1000000, 6)
                 AS avg_secs
        FROM lat
        GROUP BY hours_bucket
        ORDER BY hours_bucket
    """,
)
def events_time_to_convert(spark, sf_dir):
    """View→purchase conversion-latency histogram: each user's first
    view, their first purchase at-or-after it, and the latency bucketed
    by hour. The funnel-latency primitive behind 'how long does
    conversion take'. Both firsts are min() aggregates over exact
    integer epoch microseconds (user-count sized relations, broadcast-
    joinable); the final histogram is a high-reduction aggregate on
    the bucket. No window over raw events — state is per-user, and
    every sum is exact integer math until the one avg division."""
    e = table(spark, sf_dir, "events")
    us = F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
    fv = (
        e.filter(F.col("event_type") == "view")
        .select("user_id", us.alias("us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("first_view_us"))
    )
    fp = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", us.alias("us"))
        .join(F.broadcast(fv), "user_id")
        .filter(F.col("us") >= F.col("first_view_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("first_purchase_us"))
    )
    lat = fv.join(fp, "user_id").select(
        "user_id", (F.col("first_purchase_us") - F.col("first_view_us")).alias("us")
    )
    return (
        lat.groupBy(F.expr("us div 3600000000").alias("hours_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.min("us").alias("min_us"),
            F.max("us").alias("max_us"),
            F.round(F.sum("us").cast("double") / F.count(F.lit(1)) / 1000000, 6).alias(
                "avg_secs"
            ),
        )
        .orderBy("hours_bucket")
    )

@register(
    "events_user_overlap_jaccard",
    oracle="""
        WITH ut AS (
          SELECT DISTINCT user_id, event_type FROM events
        ),
        sz AS (
          SELECT event_type, count(*) AS n FROM ut GROUP BY event_type
        ),
        inter AS (
          SELECT a.event_type AS type_a, b.event_type AS type_b,
                 count(*) AS n_both
          FROM ut a JOIN ut b
            ON a.user_id = b.user_id AND a.event_type < b.event_type
          GROUP BY 1, 2
        )
        SELECT type_a, type_b, n_both, sa.n AS n_a, sb.n AS n_b,
               round(CAST(n_both AS DOUBLE)
                     / (sa.n + sb.n - n_both), 6) AS jaccard
        FROM inter
        JOIN sz sa ON sa.event_type = type_a
        JOIN sz sb ON sb.event_type = type_b
        ORDER BY type_a, type_b
    """,
)
def events_user_overlap_jaccard(spark, sf_dir):
    """Audience overlap between event types: Jaccard of the user sets
    for every type pair — the segment-overlap matrix behind 'do
    purchasers also file errors'. The (user, type) relation is first
    deduplicated (high reduction: bounded by users × types), then the
    pair intersection is a self-equi-join on user_id — fan-out
    quadratic only in types-per-user (≤5), never in events. Set sizes
    are a types-sized dim broadcast back; all counts exact integers,
    one division at output."""
    e = table(spark, sf_dir, "events")
    ut = e.select("user_id", "event_type").distinct()
    sz = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a, b = ut.alias("a"), ut.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = sz.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sz.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    jac = F.col("n_both").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_both")
    )
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            F.round(jac, 6).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )

CHURN_ACTIVE_DAYS = 7

CHURN_LAPSED_DAYS = 21

@register(
    "events_churn_bands",
    oracle=f"""
        WITH mx AS (SELECT max(ts) AS now_ts FROM events),
        feed AS (
          SELECT e.user_id, e.ts FROM events e, mx
          WHERE NOT (e.user_id % 7 = 0
                     AND e.ts > now_ts - INTERVAL 25 DAY)
            AND NOT (e.user_id % 7 != 0 AND e.user_id % 5 = 0
                     AND e.ts > now_ts - INTERVAL 14 DAY)
        ),
        last_seen AS (
          SELECT user_id, max(ts) AS last_ts,
                 count(*) AS lifetime_events
          FROM feed GROUP BY user_id
        )
        SELECT CASE
                 WHEN date_diff('day', last_ts, now_ts)
                      < {CHURN_ACTIVE_DAYS} THEN 'active'
                 WHEN date_diff('day', last_ts, now_ts)
                      < {CHURN_LAPSED_DAYS} THEN 'lapsed'
                 ELSE 'churned'
               END AS band,
               count(*) AS n_users,
               CAST(sum(lifetime_events) AS BIGINT) AS n_events
        FROM last_seen, mx
        GROUP BY 1 ORDER BY 1
    """,
)
def events_churn_bands(spark, sf_dir):
    """Churn banding: users split into active / lapsed / churned by
    days since last activity, measured against the corpus watermark
    (max ts) so the report is reproducible rather than wall-clock
    dependent — the retention snapshot every product pipeline emits.

    Fixture augmentation (structurally-empty differential): every
    fixture user is active through the last week, so only the
    'active' branch could ever fire — the report runs over a
    simulated lagged feed (every 7th user's last 25 days dropped →
    churned; every 5th-not-7th user's last 14 days dropped → lapsed),
    restated by the oracle, so all three CASE branches are genuinely
    exercised.

    One aggregation builds per-user last-seen + lifetime counts; the
    watermark is a 1-row broadcast crossJoin (never a collect); the
    banding is a scalar CASE and the final rollup is three rows.
    date_diff on exact timestamps matches DuckDB's day arithmetic
    (both truncate toward the floor of whole days)."""
    e = table(spark, sf_dir, "events")
    mx = e.agg(F.max("ts").alias("now_ts"))
    u7 = F.col("user_id") % 7 == 0
    u5 = (F.col("user_id") % 7 != 0) & (F.col("user_id") % 5 == 0)
    feed = (
        e.crossJoin(F.broadcast(mx))
        .filter(
            ~(u7 & (F.col("ts") > F.col("now_ts") - F.expr("INTERVAL 25 DAYS")))
            & ~(u5 & (F.col("ts") > F.col("now_ts") - F.expr("INTERVAL 14 DAYS")))
        )
    )
    last_seen = feed.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("lifetime_events"),
        F.first("now_ts").alias("now_ts"),
    )
    dd = F.datediff(F.col("now_ts"), F.col("last_ts"))
    band = (
        F.when(dd < CHURN_ACTIVE_DAYS, "active")
        .when(dd < CHURN_LAPSED_DAYS, "lapsed")
        .otherwise("churned")
    )
    return (
        last_seen.groupBy(band.alias("band"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("lifetime_events").alias("n_events"),
        )
        .orderBy("band")
    )

@register(
    "events_seasonal_naive_forecast",
    oracle="""
        WITH c AS (
          SELECT date_trunc('hour', ts) AS h, count(*) AS n
          FROM events GROUP BY 1
        ),
        mx AS (SELECT max(CAST(ts AS DATE)) AS maxd FROM events),
        j AS (
          SELECT a.h, a.n AS actual, p.n AS pred
          FROM c a JOIN c p ON p.h = a.h - INTERVAL 24 HOURS
        )
        SELECT CAST(CAST(h AS DATE) AS VARCHAR) AS day,
               count(*) AS n_hours,
               CAST(sum(abs(actual - pred)) AS BIGINT) AS mae_num,
               round(CAST(sum(abs(actual - pred)) AS DOUBLE) / count(*), 6)
                 AS mae
        FROM j, mx
        WHERE CAST(h AS DATE) > maxd - 7
        GROUP BY day
    """,
)
def events_seasonal_naive_forecast(spark, sf_dir):
    """Seasonal-naive forecast backtest — the baseline every capacity
    forecast is judged against: predict each hour's event count with
    the SAME HOUR YESTERDAY, score the last 7 days by daily MAE.
    Counts come from one hash aggregate on the hour bucket; the
    prediction is a self-equi-join of that (tiny, dim-sized) hourly
    series shifted 24 h; MAE is an exact integer |Δ| sum with one
    final division. Inner join = hours observed in both — the honest
    convention for sparse fixtures, stated here so the oracle matches
    by construction.

    Scale: the fact-table scan reduces immediately to the hourly
    rollup (map-side combinable, time-bounded cardinality); the
    shifted self-join and the 7-day filter run on that rollup, so
    the whole backtest is O(hours) after one pass over events — at
    100 TB you'd land the rollup once and backtest any horizon
    against it."""
    e = table(spark, sf_dir, "events")
    c = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("n")
    )
    mx = e.agg(F.max(F.col("ts").cast("date")).alias("maxd"))
    a = c.select(F.col("h"), F.col("n").alias("actual"))
    p = c.select(
        (F.col("h") + F.expr("INTERVAL 24 HOURS")).alias("h"),
        F.col("n").alias("pred"),
    )
    j = a.join(p, "h").crossJoin(F.broadcast(mx))
    err = F.abs(F.col("actual") - F.col("pred"))
    return (
        j.filter(F.col("h").cast("date") > F.date_sub("maxd", 7))
        .groupBy(F.col("h").cast("date").cast("string").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.sum(err).alias("mae_num"),
            F.round(F.sum(err).cast("double") / F.count(F.lit(1)), 6).alias(
                "mae"
            ),
        )
    )

@register(
    "events_wilcoxon_rank_sum",
    oracle="""
        WITH q AS (
          SELECT CAST(round(value * 10000) AS BIGINT) AS v,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ia
          FROM events WHERE event_type IN ('purchase', 'view')
        ),
        g AS (
          SELECT v, CAST(sum(ia) AS BIGINT) AS ca,
                 CAST(count(*) AS BIGINT) AS t
          FROM q GROUP BY v
        ),
        c AS (
          SELECT ca, t,
                 CAST(COALESCE(sum(t) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum_before,
                 CAST(sum(ca) OVER () AS BIGINT) AS na,
                 CAST(sum(t - ca) OVER () AS BIGINT) AS nb,
                 CAST(sum(t * t * t - t) OVER () AS BIGINT) AS tie3
          FROM g
        ),
        s AS (
          SELECT max(na) AS na, max(nb) AS nb, max(tie3) AS tie3,
                 CAST(sum(ca * (2 * cum_before + t + 1)) AS BIGINT) AS r2a
          FROM c
        )
        SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
               CAST(r2a - na * (na + 1) AS BIGINT) AS u2_a,
               round((CAST(r2a - na * (na + 1) AS DOUBLE) - CAST(na AS DOUBLE) * nb)
                     / (2 * sqrt(CAST(na AS DOUBLE) * nb / 12
                        * ((na + nb + 1)
                           - CAST(tie3 AS DOUBLE)
                             / ((na + nb) * (na + nb - 1))))), 6) AS z
        FROM s
    """,
)
def events_wilcoxon_rank_sum(spark, sf_dir):
    """Wilcoxon–Mann–Whitney rank-sum test (purchase vs view values)
    with tie correction — the nonparametric LOCATION test completing
    the inference family (Welch = parametric mean, KS = full
    distribution, this = rank shift). All rank arithmetic is EXACT:
    average ranks are carried doubled (2·r̄ = 2·cum_before + t + 1,
    an integer), so the rank-sum R, the U statistic, and the tie term
    Σ(t³−t) are BIGINTs; the normal-approximation z is one
    identical-structure double expression at the end.

    Scale: one hash aggregate to per-value (count, group-count), one
    prefix sum over the distinct quantized-value spine (bounded by
    value resolution — the stat_ks_test shape), and a scalar combine."""
    e = table(spark, sf_dir, "events")
    q = e.filter(F.col("event_type").isin("purchase", "view")).select(
        F.round(F.col("value") * 10000).cast("long").alias("v"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("ia"),
    )
    g = q.groupBy("v").agg(
        F.sum("ia").alias("ca"), F.count(F.lit(1)).alias("t")
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.partitionBy()
    c = g.select(
        "ca",
        "t",
        F.coalesce(F.sum("t").over(wv), F.lit(0)).alias("cum_before"),
        F.sum("ca").over(wall).alias("na"),
        F.sum(F.col("t") - F.col("ca")).over(wall).alias("nb"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .over(wall)
        .alias("tie3"),
    )
    s = c.agg(
        F.max("na").alias("na"),
        F.max("nb").alias("nb"),
        F.max("tie3").alias("tie3"),
        F.sum(
            F.col("ca") * (2 * F.col("cum_before") + F.col("t") + 1)
        ).alias("r2a"),
    )
    na, nb, tie3, r2a = (
        F.col("na"),
        F.col("nb"),
        F.col("tie3"),
        F.col("r2a"),
    )
    u2 = r2a - na * (na + 1)
    z = (u2.cast("double") - na.cast("double") * nb) / (
        2
        * F.sqrt(
            na.cast("double")
            * nb
            / 12
            * ((na + nb + 1) - tie3.cast("double") / ((na + nb) * (na + nb - 1)))
        )
    )
    return s.select(
        na.alias("n_a"),
        nb.alias("n_b"),
        u2.cast("long").alias("u2_a"),
        F.round(z, 6).alias("z"),
    )

CCF_MAX_LAG = 3

@register(
    "events_cross_correlation",
    oracle=f"""
        WITH c AS (
          SELECT date_trunc('hour', ts) AS h,
                 CAST(count(*) FILTER (WHERE event_type = 'purchase')
                   AS BIGINT) AS xa,
                 CAST(count(*) FILTER (WHERE event_type = 'error')
                   AS BIGINT) AS xb
          FROM events GROUP BY 1
        ),
        tot AS (
          SELECT count(*) AS n, CAST(sum(xa) AS BIGINT) AS sa,
                 CAST(sum(xb) AS BIGINT) AS sb FROM c
        ),
        dens AS (
          SELECT CAST(sum((n * xa - sa) * (n * xa - sa)) AS BIGINT) AS da,
                 CAST(sum((n * xb - sb) * (n * xb - sb)) AS BIGINT) AS db
          FROM c, tot
        ),
        lags AS (
          SELECT l.l - {CCF_MAX_LAG} AS lag
          FROM unnest(range({2 * CCF_MAX_LAG + 1})) l(l)
        ),
        p AS (
          SELECT lag, a.xa AS xa, b.xb AS xb
          FROM lags, c a JOIN c b
            ON b.h = a.h + to_hours(CAST(lag AS BIGINT))
        )
        SELECT lag, count(*) AS n_pairs,
               round(CAST(sum((n * xa - sa) * (n * xb - sb)) AS DOUBLE)
                     / sqrt(CAST(max(da) AS DOUBLE) * max(db)), 6) AS ccf
        FROM p, tot, dens
        GROUP BY lag
    """,
)
def events_cross_correlation(spark, sf_dir):
    """Cross-correlation between the purchase-rate and error-rate
    hourly series at lags −3…+3 — the "which series LEADS" diagnostic
    (a peak at positive lag = errors follow purchases by that many
    hours). Same exact-integer discipline as ts_acf_lags: both series
    come from ONE conditional hourly aggregate, deviations are cleared
    to integers (N·x−S), numerators are BIGINT sums per lag, and the
    two variance denominators are computed once and broadcast; lag
    pairing is a true time-shift join, gap-safe.

    Scale: O(hours) after the single fact-scan rollup; the 7-lag
    fan-out is a broadcast dim. The same shape extends to any metric
    pair at 100 TB because the rollup, not the fact table, carries
    every downstream step."""
    e = table(spark, sf_dir, "events")
    c = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count_if(F.col("event_type") == "purchase").alias("xa"),
        F.count_if(F.col("event_type") == "error").alias("xb"),
    )
    wall = Window.partitionBy()
    tot = c.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xa").alias("sa"),
        F.sum("xb").alias("sb"),
    )
    dens = (
        c.crossJoin(F.broadcast(tot))
        .select(
            ((F.col("n") * F.col("xa") - F.col("sa"))
             * (F.col("n") * F.col("xa") - F.col("sa"))).alias("dxa"),
            ((F.col("n") * F.col("xb") - F.col("sb"))
             * (F.col("n") * F.col("xb") - F.col("sb"))).alias("dxb"),
        )
        .agg(F.sum("dxa").alias("da"), F.sum("dxb").alias("db"))
    )
    lags = spark.range(-CCF_MAX_LAG, CCF_MAX_LAG + 1).select(
        F.col("id").alias("lag")
    )
    a = c.crossJoin(F.broadcast(lags)).select("lag", "h", "xa")
    b = c.select(F.col("h").alias("hb"), "xb")
    p = a.join(
        b, b.hb == F.col("h") + F.col("lag") * F.expr("INTERVAL 1 HOUR")
    )
    num = F.sum(
        (F.col("n") * F.col("xa") - F.col("sa"))
        * (F.col("n") * F.col("xb") - F.col("sb"))
    )
    return (
        p.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(dens))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(
                num.cast("double")
                / F.sqrt(F.max("da").cast("double") * F.max("db")),
                6,
            ).alias("ccf"),
        )
    )

MARKOV_SPLIT = "2024-01-25"

@register(
    "events_markov_next_accuracy",
    oracle=f"""
        WITH seq AS (
          SELECT user_id, ts, event_type,
                 lead(event_type) OVER w AS next_type,
                 lead(ts) OVER w AS next_ts
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        tr AS (
          SELECT event_type AS prev, next_type AS nxt, next_ts
          FROM seq WHERE next_type IS NOT NULL
        ),
        model AS (
          SELECT prev, nxt AS predicted FROM (
            SELECT prev, nxt, count(*) AS c,
                   row_number() OVER (PARTITION BY prev
                                      ORDER BY count(*) DESC, nxt) AS rn
            FROM tr WHERE next_ts < TIMESTAMP '{MARKOV_SPLIT}'
            GROUP BY prev, nxt
          ) WHERE rn = 1
        ),
        ev AS (
          SELECT t.prev, t.nxt, m.predicted
          FROM tr t JOIN model m ON t.prev = m.prev
          WHERE t.next_ts >= TIMESTAMP '{MARKOV_SPLIT}'
        )
        SELECT count(*) AS n_eval,
               CAST(count(*) FILTER (WHERE nxt = predicted) AS BIGINT)
                 AS n_correct,
               round(CAST(count(*) FILTER (WHERE nxt = predicted) AS DOUBLE)
                     / count(*), 6) AS accuracy
        FROM ev
    """,
)
def events_markov_next_accuracy(spark, sf_dir):
    """First-order Markov next-event baseline with a TEMPORAL
    train/eval split — the sequence-model sanity floor every session
    recommender is judged against: train = transitions completing
    before Jan 25 (most-frequent next state per previous state, ties
    alphabetical), eval = later transitions, metric = exact top-1
    accuracy. Transitions come from one lead() window per user
    (event_id tiebreak), the model is a 5×5 count table picked by
    row_number, and the eval join broadcasts the 5-row model.

    Scale: the model is |states|²-sized regardless of data; the only
    data-sized work is the per-user window and two conditional
    aggregates — the canonical baseline-eval shape."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        F.lead("event_type").over(w).alias("nxt"),
        F.lead("ts").over(w).alias("next_ts"),
    ).filter(F.col("nxt").isNotNull())
    split = F.lit(MARKOV_SPLIT).cast("timestamp_ntz")
    wm = Window.partitionBy("prev").orderBy(F.desc("c"), F.asc("nxt"))
    model = (
        seq.filter(F.col("next_ts") < split)
        .groupBy(F.col("event_type").alias("prev"), "nxt")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") == 1)
        .select("prev", F.col("nxt").alias("predicted"))
    )
    ev = (
        seq.filter(F.col("next_ts") >= split)
        .select(F.col("event_type").alias("prev"), "nxt")
        .join(F.broadcast(model), "prev")
    )
    correct = F.count_if(F.col("nxt") == F.col("predicted"))
    return ev.agg(
        F.count(F.lit(1)).alias("n_eval"),
        correct.alias("n_correct"),
        F.round(correct.cast("double") / F.count(F.lit(1)), 6).alias(
            "accuracy"
        ),
    )

@register(
    "events_rolling_wau",
    oracle="""
        WITH du AS (
          SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
        ),
        days AS (SELECT DISTINCT d FROM du)
        SELECT CAST(g.d AS VARCHAR) AS day,
               count(DISTINCT du.user_id) AS wau,
               count(*) AS n_user_days
        FROM days g JOIN du
          ON du.d BETWEEN g.d - 6 AND g.d
        GROUP BY g.d
    """,
)
def events_rolling_wau(spark, sf_dir):
    """Trailing-7-day rolling distinct active users (WAU) per calendar
    day — the rolling-distinct metric plain window frames cannot
    express (no COUNT(DISTINCT) over a frame in either engine). Exact
    spelling: collapse events to the DISTINCT (day, user) activity
    table first, then range-join the (tiny, broadcast) day spine
    against it over a 7-day band and COUNT(DISTINCT user) per spine
    day.

    Scale: the activity table is days x active-users (orders of
    magnitude below raw events) and the band join duplicates each
    activity row at most 7x against a broadcast spine — cost stays
    O(7 * |activity|) with no row-level global sort; the classic exact
    shape before switching to per-day HLL-sketch unions when even the
    activity table is too big."""
    e = table(spark, sf_dir, "events")
    du = e.select(
        F.to_date("ts").alias("d"), "user_id"
    ).distinct()
    days = du.select(F.col("d").alias("g_d")).distinct()
    j = F.broadcast(days).join(
        du,
        (F.col("d") >= F.date_sub(F.col("g_d"), 6))
        & (F.col("d") <= F.col("g_d")),
    )
    return j.groupBy(F.col("g_d").cast("string").alias("day")).agg(
        F.countDistinct("user_id").alias("wau"),
        F.count(F.lit(1)).alias("n_user_days"),
    )

@register(
    "events_uplift_did",
    oracle=f"""
        WITH cell AS (
          SELECT CAST(user_id % 2 = 0 AS INT) AS treat,
                 CAST(ts >= TIMESTAMP '{DID_SPLIT}' AS INT) AS post,
                 count(*) AS n,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
          FROM events GROUP BY 1, 2
        ),
        m AS (
          SELECT
            CAST(max(CASE WHEN treat = 1 AND post = 1 THEN cents END)
                 AS DOUBLE)
              / max(CASE WHEN treat = 1 AND post = 1 THEN n END) AS tp,
            CAST(max(CASE WHEN treat = 1 AND post = 0 THEN cents END)
                 AS DOUBLE)
              / max(CASE WHEN treat = 1 AND post = 0 THEN n END) AS tb,
            CAST(max(CASE WHEN treat = 0 AND post = 1 THEN cents END)
                 AS DOUBLE)
              / max(CASE WHEN treat = 0 AND post = 1 THEN n END) AS cp,
            CAST(max(CASE WHEN treat = 0 AND post = 0 THEN cents END)
                 AS DOUBLE)
              / max(CASE WHEN treat = 0 AND post = 0 THEN n END) AS cb,
            CAST(sum(n) AS BIGINT) AS n_events
          FROM cell
        )
        SELECT n_events,
               round(tp, 6) AS treat_post_mean_cents,
               round(tb, 6) AS treat_pre_mean_cents,
               round(cp, 6) AS control_post_mean_cents,
               round(cb, 6) AS control_pre_mean_cents,
               round((tp - tb) - (cp - cb), 6) AS did_cents
        FROM m
    """,
)
def events_uplift_did(spark, sf_dir):
    """Difference-in-differences uplift estimate over a synthetic
    assignment (treat = even user_id, documented as the A/B hash split
    production experiments use; post = on/after DID_SPLIT):
    DiD = (treated post − pre) − (control post − pre) on mean event
    value in cents. The four cell means come from ONE conditional
    rollup of exact integer cent sums and counts; every mean and the
    DiD contrast are identical-structure double expressions over those
    ints, rounded to 6 dp.

    Scale: a single map-side-combinable pass producing a 4-row cell
    table, then a scalar fold — the causal-inference primitive at
    scan-bound cost."""
    e = table(spark, sf_dir, "events")
    split = F.lit(DID_SPLIT).cast("timestamp_ntz")
    cell = e.groupBy(
        (F.col("user_id") % 2 == 0).cast("int").alias("treat"),
        (F.col("ts") >= split).cast("int").alias("post"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )

    def mean_of(t, p):
        cents = F.max(
            F.when((F.col("treat") == t) & (F.col("post") == p), F.col("cents"))
        )
        n = F.max(
            F.when((F.col("treat") == t) & (F.col("post") == p), F.col("n"))
        )
        return cents.cast("double") / n

    m = cell.agg(
        mean_of(1, 1).alias("tp"),
        mean_of(1, 0).alias("tb"),
        mean_of(0, 1).alias("cp"),
        mean_of(0, 0).alias("cb"),
        F.sum("n").alias("n_events"),
    )
    return m.select(
        "n_events",
        F.round(F.col("tp"), 6).alias("treat_post_mean_cents"),
        F.round(F.col("tb"), 6).alias("treat_pre_mean_cents"),
        F.round(F.col("cp"), 6).alias("control_post_mean_cents"),
        F.round(F.col("cb"), 6).alias("control_pre_mean_cents"),
        F.round(
            (F.col("tp") - F.col("tb")) - (F.col("cp") - F.col("cb")), 6
        ).alias("did_cents"),
    )

@register(
    "events_markov_entropy_rate",
    oracle="""
        WITH seq AS (
          SELECT event_type AS prev,
                 lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                 ) AS nxt
          FROM events
        ),
        c AS (
          SELECT prev, nxt, count(*) AS c_ij
          FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
        ),
        r AS (
          SELECT prev, CAST(sum(c_ij) AS BIGINT) AS c_i
          FROM c GROUP BY 1
        ),
        t AS (
          SELECT CAST(sum(c_ij) AS BIGINT) AS n,
                 count(DISTINCT prev) AS k
          FROM c
        ),
        terms AS (
          SELECT CAST(round(
                   1000000.0 * (CAST(c.c_ij AS DOUBLE) / t.n)
                   * ln(CAST(c.c_ij AS DOUBLE) / r.c_i)
                 ) AS BIGINT) AS u
          FROM c JOIN r ON c.prev = r.prev, t
        )
        SELECT t.n AS n_transitions,
               CAST(t.k AS BIGINT) AS n_states,
               round(-CAST(sum(terms.u) AS DOUBLE) / 1000000.0, 6)
                 AS entropy_rate_nats,
               round(ln(t.k), 6) AS max_entropy_nats
        FROM terms, t
        GROUP BY t.n, t.k
    """,
)
def events_markov_entropy_rate(spark, sf_dir):
    """Entropy rate of the first-order event-type Markov chain:
    H = -sum_ij (c_ij/N) * ln(c_ij/c_i) over per-user transition
    counts — how predictable the NEXT event is given the current one
    (the information-theoretic summary the Markov baseline op's
    accuracy approximates). Every summand is micro-nat-quantized to
    int64 before the cross-cell sum (shuffle-order-proof; the memory
    discipline that has held cross-engine for every ln-based op), and
    the max-entropy bound ln(k) is reported for calibration.

    Scale: transition counts are one window pass per user partition
    followed by a map-side-combinable groupBy to a k*k cell table
    (25 here) — the chain statistics are tiny regardless of corpus
    size."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("prev"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    c = seq.groupBy("prev", "nxt").agg(F.count(F.lit(1)).alias("c_ij"))
    r = c.groupBy("prev").agg(F.sum("c_ij").alias("c_i"))
    t = c.agg(
        F.sum("c_ij").alias("n"),
        F.countDistinct("prev").alias("k"),
    )
    terms = (
        c.join(F.broadcast(r), "prev")
        .crossJoin(F.broadcast(t))
        .select(
            F.round(
                1000000.0
                * (F.col("c_ij").cast("double") / F.col("n"))
                * F.log(F.col("c_ij").cast("double") / F.col("c_i"))
            )
            .cast("long")
            .alias("u"),
            "n",
            "k",
        )
    )
    return terms.groupBy("n", "k").agg(
        F.round(-F.sum("u").cast("double") / 1000000.0, 6).alias(
            "entropy_rate_nats"
        ),
        F.round(F.log(F.col("k").cast("double")), 6).alias(
            "max_entropy_nats"
        ),
    ).select(
        F.col("n").alias("n_transitions"),
        F.col("k").cast("long").alias("n_states"),
        "entropy_rate_nats",
        "max_entropy_nats",
    )

@register(
    "events_attribution_last_touch",
    oracle="""
        WITH seq AS (
          SELECT event_type, value,
                 last_value(CASE WHEN event_type <> 'purchase'
                                 THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS chan
          FROM events
        )
        SELECT coalesce(chan, 'direct') AS channel,
               count(*) AS n_purchases,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                 AS attributed_cents
        FROM seq WHERE event_type = 'purchase'
        GROUP BY 1
    """,
)
def events_attribution_last_touch(spark, sf_dir):
    """Last-touch marketing attribution: each purchase's value is
    credited to the user's most recent PRECEDING non-purchase event
    type (the "channel"), falling back to 'direct' when the purchase
    is the user's first touch. One IGNORE-NULLS last_value window per
    user plus a conditional rollup of exact cent sums — the revenue
    attribution report every growth team runs.

    Scale: the window is per-user partitioned (no global sort), the
    rollup map-side-combinable over |channels| keys; at 100 TB this
    is one shuffle keyed user_id then a tiny aggregation."""
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chan = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    seq = e.select("event_type", "value", chan.alias("chan"))
    return (
        seq.filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce(F.col("chan"), F.lit("direct")).alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "attributed_cents"
            ),
        )
    )

@register(
    "events_cuped_adjustment",
    oracle=f"""
        WITH u AS (
          SELECT user_id,
                 CAST(sum(CASE WHEN ts < TIMESTAMP '{DID_SPLIT}'
                          THEN CAST(round(value) AS BIGINT) ELSE 0 END)
                      AS BIGINT) AS x,
                 CAST(sum(CASE WHEN ts >= TIMESTAMP '{DID_SPLIT}'
                          THEN CAST(round(value) AS BIGINT) ELSE 0 END)
                      AS BIGINT) AS y
          FROM events GROUP BY user_id
        ),
        t AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * y) AS BIGINT) AS sxy,
                 CAST(sum(x * x) AS BIGINT) AS sxx,
                 CAST(sum(y * y) AS BIGINT) AS syy
          FROM u
        )
        SELECT n AS n_users,
               round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                     / (CAST(n AS DOUBLE) * sxx
                        - CAST(sx AS DOUBLE) * sx), 6) AS theta,
               round(
                 ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                  * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy))
                 / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * syy
                       - CAST(sy AS DOUBLE) * sy)), 6)
                 AS var_reduction
        FROM t
    """,
)
def events_cuped_adjustment(spark, sf_dir):
    """CUPED (controlled-experiment using pre-experiment data): the
    variance-reduction workhorse of modern A/B platforms. Per user,
    X = pre-period and Y = post-period dollar totals (same DID_SPLIT
    as the uplift op); theta = cov(X,Y)/var(X) is the optimal linear
    adjustment, and the achievable variance reduction equals rho² —
    both computed from ONE pass of exact int64 user-level sums, with
    the n-scaled cross products cast to double BEFORE multiplying
    (cents-level sums of squares would overflow int64 at bench scale;
    dollars hold — same unit discipline as stat_anova_f).

    Scale: one keyed rollup to users, one scalar co-moment fold —
    scan-bound, the cheapest variance win an experimentation platform
    ever gets."""
    e = table(spark, sf_dir, "events")
    split = F.lit(DID_SPLIT).cast("timestamp_ntz")
    dollars = F.round(F.col("value")).cast("long")
    u = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < split, dollars).otherwise(0)).alias("x"),
        F.sum(F.when(F.col("ts") >= split, dollars).otherwise(0)).alias(
            "y"
        ),
    )
    t = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    cov_n = n * F.col("sxy") - sx * F.col("sy")
    varx_n = n * F.col("sxx") - sx * F.col("sx")
    vary_n = n * F.col("syy") - sy * F.col("sy")
    return t.select(
        F.col("n").alias("n_users"),
        F.round(cov_n / varx_n, 6).alias("theta"),
        F.round((cov_n * cov_n) / (varx_n * vary_n), 6).alias(
            "var_reduction"
        ),
    )

@register(
    "events_seasonal_zscore",
    oracle="""
        WITH h AS (
          SELECT CAST(ts AS DATE) AS day,
                 CAST(hour(ts) AS INT) AS hod,
                 count(*) AS c
          FROM events GROUP BY 1, 2
        ),
        base AS (
          SELECT hod,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(c) AS BIGINT) AS s,
                 CAST(sum(c * c) AS BIGINT) AS ss
          FROM h GROUP BY hod
        )
        SELECT CAST(h.day AS VARCHAR) AS day, h.hod, h.c AS n_events,
               CASE WHEN base.n * base.ss - base.s * base.s = 0 THEN NULL
                    ELSE round(
                      (CAST(h.c AS DOUBLE) * base.n - base.s)
                      / sqrt(CAST(base.n * base.ss - base.s * base.s
                                  AS DOUBLE)), 6)
               END AS seasonal_z
        FROM h JOIN base ON h.hod = base.hod
    """,
)
def events_seasonal_zscore(spark, sf_dir):
    """Seasonally-conditioned anomaly score: each (day, hour) count is
    z-scored against the SAME-HOUR-OF-DAY baseline across all days —
    3 AM traffic is judged against other 3 AMs, not the daily mean,
    which is what makes nightly spikes visible and lunchtime peaks
    unremarkable. Spelled shuffle-order-proof: per-hour-of-day
    baseline moments are exact int64 sums, and the z-score is one
    identical double expression (numerator and variance both scaled
    by n so no intermediate mean is materialized), NULL-guarded for
    zero-variance hours.

    Scale: hourly rollup (map-side-combinable) + a 24-row broadcast
    baseline join — scan-bound."""
    e = table(spark, sf_dir, "events")
    h = e.groupBy(
        F.col("ts").cast("date").alias("day"),
        F.hour("ts").alias("hod"),
    ).agg(F.count(F.lit(1)).alias("c"))
    base = h.groupBy("hod").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    )
    j = h.join(F.broadcast(base), "hod")
    varn = F.col("n") * F.col("ss") - F.col("s") * F.col("s")
    z = F.when(varn == 0, F.lit(None).cast("double")).otherwise(
        F.round(
            (F.col("c").cast("double") * F.col("n") - F.col("s"))
            / F.sqrt(varn.cast("double")),
            6,
        )
    )
    return j.select(
        F.col("day").cast("string").alias("day"),
        "hod",
        F.col("c").alias("n_events"),
        z.alias("seasonal_z"),
    )

@register(
    "events_ab_srm_check",
    oracle="""
        WITH u AS (
          SELECT user_id, CAST(user_id % 2 = 0 AS INT) AS treat
          FROM events GROUP BY 1, 2
        ),
        t AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(count(*) FILTER (WHERE treat = 1) AS BIGINT) AS nt
          FROM u
        )
        SELECT n AS n_users, nt AS n_treat, n - nt AS n_control,
               round(
                 (CAST(nt AS DOUBLE) - CAST(n AS DOUBLE) / 2)
                 * (CAST(nt AS DOUBLE) - CAST(n AS DOUBLE) / 2)
                 / (CAST(n AS DOUBLE) / 2)
                 + (CAST(n - nt AS DOUBLE) - CAST(n AS DOUBLE) / 2)
                   * (CAST(n - nt AS DOUBLE) - CAST(n AS DOUBLE) / 2)
                   / (CAST(n AS DOUBLE) / 2), 6) AS chi2,
               ((CAST(nt AS DOUBLE) - CAST(n AS DOUBLE) / 2)
                * (CAST(nt AS DOUBLE) - CAST(n AS DOUBLE) / 2)
                / (CAST(n AS DOUBLE) / 2)
                + (CAST(n - nt AS DOUBLE) - CAST(n AS DOUBLE) / 2)
                  * (CAST(n - nt AS DOUBLE) - CAST(n AS DOUBLE) / 2)
                  / (CAST(n AS DOUBLE) / 2)) > 3.841459 AS srm_alarm
        FROM t
    """,
)
def events_ab_srm_check(spark, sf_dir):
    """Sample Ratio Mismatch guardrail — the FIRST check every
    experiment readout must pass: do the observed arm sizes match the
    designed 50/50 split? A 1-df chi-square against the expected
    halves, alarming above the 95% critical value (3.841459; a firing
    SRM invalidates the experiment regardless of its metric
    movements, usually exposing assignment or logging bugs). Counts
    are exact; chi2 is one identical double expression against
    literal expectations.

    Scale: one distinct-user rollup + a scalar fold — the cheapest
    guardrail in the experimentation suite (complements
    events_uplift_did / events_cuped_adjustment /
    stat_ratio_delta_method)."""
    e = table(spark, sf_dir, "events")
    u = e.groupBy(
        "user_id", (F.col("user_id") % 2 == 0).cast("int").alias("treat")
    ).agg(F.lit(1).alias("one"))
    t = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("treat") == 1).alias("nt"),
    )
    n = F.col("n").cast("double")
    nt = F.col("nt").cast("double")
    nc = (F.col("n") - F.col("nt")).cast("double")
    half = n / 2
    chi2 = (nt - half) * (nt - half) / half + (nc - half) * (nc - half) / half
    return t.select(
        F.col("n").alias("n_users"),
        F.col("nt").alias("n_treat"),
        (F.col("n") - F.col("nt")).alias("n_control"),
        F.round(chi2, 6).alias("chi2"),
        (chi2 > 3.841459).alias("srm_alarm"),
    )

@register(
    "events_attribution_time_decay",
    oracle="""
        WITH p AS (
          SELECT user_id, ts AS p_ts, event_id AS p_id,
                 CAST(round(value * 100) AS BIGINT) AS cents
          FROM events WHERE event_type = 'purchase'
        ),
        tch AS (
          SELECT user_id, ts AS t_ts, event_type AS channel
          FROM events WHERE event_type <> 'purchase'
        ),
        j AS (
          SELECT p.p_id, p.cents, tch.channel,
                 CASE CAST(floor((epoch(p.p_ts) - epoch(tch.t_ts))
                                 / 86400) AS BIGINT)
                      WHEN 0 THEN 1.0 WHEN 1 THEN 0.5 ELSE 0.25
                 END AS w
          FROM p JOIN tch
            ON p.user_id = tch.user_id
           AND tch.t_ts < p.p_ts
           AND epoch(p.p_ts) - epoch(tch.t_ts) < 259200
        ),
        tot AS (
          SELECT p_id, sum(w) AS tw FROM j GROUP BY 1
        ),
        credit AS (
          SELECT j.channel,
                 CAST(round(1000000.0 * j.cents * j.w / tot.tw)
                      AS BIGINT) AS credit_u
          FROM j JOIN tot ON j.p_id = tot.p_id
        )
        SELECT channel,
               CAST(count(*) AS BIGINT) AS n_credited_touches,
               CAST(sum(credit_u) AS BIGINT) AS credit_u,
               round(CAST(sum(credit_u) AS DOUBLE) / 1000000.0 / 100.0, 4)
                 AS credited_dollars
        FROM credit GROUP BY channel
    """,
)
def events_attribution_time_decay(spark, sf_dir):
    """Multi-touch time-decay attribution — the fractional-credit
    model beyond events_attribution_last_touch's winner-take-all:
    every non-purchase touch within a 3-day lookback shares each
    purchase's revenue, weighted 1 / 0.5 / 0.25 by whole days of age
    (EXACT dyadic weights — no pow(), so per-purchase weight totals
    are exact binary fractions) and normalized per purchase. Each
    touch's credited micro-cents are rounded to int64 before the
    per-channel sum, so fan-out order can't move the hash. Purchases
    with no in-window touch drop out (the 'direct' bucket
    last-touch already reports).

    Scale: the purchase x touch join is per-user keyed with a 3-day
    band — O(purchases * touches-in-window) per user, the bounded
    fan-out every MTA pipeline accepts; both aggregations are
    map-side-combinable."""
    e = table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    tch = e.filter(F.col("event_type") != "purchase").select(
        "user_id", F.col("ts").alias("t_ts"), F.col("event_type").alias("channel")
    )
    age = F.unix_timestamp("p_ts") - F.unix_timestamp("t_ts")
    j = p.join(
        tch,
        (p.user_id == tch.user_id)
        & (F.col("t_ts") < F.col("p_ts"))
        & (age < 259200),
    ).select(
        "p_id",
        "cents",
        "channel",
        F.when(F.floor(age / 86400) == 0, F.lit(1.0))
        .when(F.floor(age / 86400) == 1, F.lit(0.5))
        .otherwise(F.lit(0.25))
        .alias("w"),
    )
    tot = j.groupBy("p_id").agg(F.sum("w").alias("tw"))
    credit = j.join(tot, "p_id").select(
        "channel",
        F.round(1000000.0 * F.col("cents") * F.col("w") / F.col("tw"))
        .cast("long")
        .alias("credit_u"),
    )
    return credit.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_credited_touches"),
        F.sum("credit_u").alias("credit_u"),
        F.round(
            F.sum("credit_u").cast("double") / 1000000.0 / 100.0, 4
        ).alias("credited_dollars"),
    )

@register(
    "events_motif_sequence_detect",
    oracle="""
        WITH seq AS (
          SELECT user_id, event_type AS e1,
                 lead(event_type, 1) OVER w AS e2,
                 lead(event_type, 2) OVER w AS e3
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        hits AS (
          SELECT user_id, count(*) AS n_motifs
          FROM seq
          WHERE e1 = 'view' AND e2 = 'click' AND e3 = 'purchase'
          GROUP BY 1
        )
        SELECT CAST(count(*) AS BIGINT) AS n_users_with_motif,
               CAST(sum(n_motifs) AS BIGINT) AS n_motifs_total,
               CAST(max(n_motifs) AS BIGINT) AS max_per_user
        FROM hits
    """,
)
def events_motif_sequence_detect(spark, sf_dir):
    """Consecutive-motif detection: count strictly consecutive
    view→click→purchase triples per user — the sequence-pattern
    primitive behind funnels with NO intervening events (the
    MATCH_RECOGNIZE-style contract, stricter than win_event_funnel's
    subsequence semantics). Two lead() columns over each user's
    ordered stream turn the motif into a row predicate; counts are
    exact.

    Scale: one per-user window pass — pattern length k costs k-1
    lead columns, no joins, no state machine."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    hits = (
        seq.filter(
            (F.col("e1") == "view")
            & (F.col("e2") == "click")
            & (F.col("e3") == "purchase")
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_motifs"))
    )
    return hits.agg(
        F.count(F.lit(1)).alias("n_users_with_motif"),
        F.sum("n_motifs").alias("n_motifs_total"),
        F.max("n_motifs").alias("max_per_user"),
    )

@register(
    "events_interarrival_exp_fit",
    oracle="""
        WITH s AS (
          SELECT event_type,
                 (epoch_ns(ts) - epoch_ns(lag(ts) OVER (
                    PARTITION BY event_type ORDER BY ts, event_id
                  ))) // 1000000 AS gap_ms
          FROM events
        ),
        g AS (
          SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n_gaps,
                 CAST(sum(gap_ms) AS BIGINT) AS sum_ms,
                 CAST(sum(gap_ms * gap_ms) AS BIGINT) AS sum_ms2
          FROM s WHERE gap_ms IS NOT NULL GROUP BY 1
        )
        SELECT event_type, n_gaps,
               round(CAST(sum_ms AS DOUBLE) / n_gaps / 1000.0, 6)
                 AS mean_gap_sec,
               round(3600000.0 * n_gaps / sum_ms, 6) AS lambda_per_hour,
               round(
                 (CAST(n_gaps AS DOUBLE) * sum_ms2 - CAST(sum_ms AS DOUBLE) * sum_ms)
                 / (CAST(sum_ms AS DOUBLE) * sum_ms), 6
               ) AS cv_squared
        FROM g
    """,
)
def events_interarrival_exp_fit(spark, sf_dir):
    """Exponential inter-arrival fit per event type — the Poisson-ness
    diagnostic behind capacity planning and anomaly baselines: MLE
    rate λ̂ = n/Σgap, mean gap, and the squared coefficient of
    variation CV² = n·Σg²/(Σg)² − 1 (restated n·S2−S1² over S1² so
    every term is exact before one division). CV² ≈ 1 means memoryless
    Poisson arrivals; CV² ≫ 1 means bursty traffic where naive
    rate-based alerting misfires. Gaps are exact integer milliseconds
    from a (type)-partitioned lag with event_id tiebreak; the moment
    sums are exact int64 (ms² keeps 20k×3.6e9 « 2^63).

    Scale: the per-type sort for lag() partitions by event_type —
    at 100 TB the same spelling partitions by (type, day) with a
    first-gap-per-day correction or rides the ingest-time ordering;
    the moment fold is one map-side-combinable aggregation."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    gap = F.floor(
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(prev.cast("timestamp"))
        )
        / 1000
    ).alias("gap_ms")
    s = e.select("event_type", gap)
    g = s.filter(F.col("gap_ms").isNotNull()).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("gap_ms").alias("sum_ms"),
        F.sum(F.col("gap_ms") * F.col("gap_ms")).alias("sum_ms2"),
    )
    return g.select(
        "event_type",
        "n_gaps",
        F.round(
            F.col("sum_ms").cast("double") / F.col("n_gaps") / 1000.0, 6
        ).alias("mean_gap_sec"),
        F.round(
            3600000.0 * F.col("n_gaps") / F.col("sum_ms"), 6
        ).alias("lambda_per_hour"),
        F.round(
            (
                F.col("n_gaps").cast("double") * F.col("sum_ms2")
                - F.col("sum_ms").cast("double") * F.col("sum_ms")
            )
            / (F.col("sum_ms").cast("double") * F.col("sum_ms")),
            6,
        ).alias("cv_squared"),
    )

@register(
    "events_dow_hour_heatmap",
    oracle="""
        WITH c AS (
          -- NO dow primitive is cross-dialect (dayofweek/extract-dow
          -- anchors differ: DuckDB Sun=0, Spark Sun=1; isodow field
          -- names differ; Spark 4 even parses `::` casts), so the
          -- DuckDB-only strftime('%w') spelling marks this oracle as
          -- DuckDB-dialect: the Spark-side parity sampler skips it at
          -- analysis instead of executing the wrong anchor, and
          -- correctness stays covered by the DuckDB differential.
          SELECT CAST(strftime(ts, '%w') AS BIGINT) + 1 AS dow,
                 hour(ts) AS hr,
                 count(*) AS n,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
          FROM events GROUP BY 1, 2
        ),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM c)
        SELECT CAST(dow AS BIGINT) AS dow, CAST(hr AS BIGINT) AS hr,
               CAST(n AS BIGINT) AS n, cents,
               round(CAST(n AS DOUBLE) / tot.nt, 6) AS share,
               round(CAST(n AS DOUBLE) * 168 / tot.nt, 6)
                 AS load_vs_uniform
        FROM c, tot
    """,
)
def events_dow_hour_heatmap(spark, sf_dir):
    """Day-of-week × hour-of-day activity heatmap — the capacity-
    planning matrix behind every on-call staffing and autoscaling
    policy: event count and exact cent value per (dow, hour) cell,
    each cell's share of total traffic, and its load relative to a
    uniform 168-cell week (load_vs_uniform > 1 = hot cell). Engines
    disagree on week anchors, so dow is pinned to Spark's Sunday=1
    convention and the oracle shifts DuckDB's Sunday=0 to match.

    Scale: one map-side-combinable groupBy to a ≤168-row matrix —
    scan-bound at any size; the share join broadcasts a scalar."""
    e = table(spark, sf_dir, "events")
    c = e.groupBy(
        F.dayofweek("ts").cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hr"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )
    tot = c.agg(F.sum("n").alias("nt"))
    return c.crossJoin(F.broadcast(tot)).select(
        "dow",
        "hr",
        "n",
        "cents",
        F.round(F.col("n").cast("double") / F.col("nt"), 6).alias("share"),
        F.round(F.col("n").cast("double") * 168 / F.col("nt"), 6).alias(
            "load_vs_uniform"
        ),
    )

@register(
    "events_abandoned_cart_rate",
    oracle="""
        WITH k AS (
          SELECT event_id, user_id, ts, CAST(ts AS DATE) AS day
          FROM events WHERE event_type = 'click'
        ),
        hit AS (
          SELECT k.event_id,
                 max(CASE WHEN p.ts > k.ts
                            AND p.ts <= k.ts + INTERVAL 1 HOUR
                          THEN 1 ELSE 0 END) AS converted
          FROM k LEFT JOIN events p
            ON p.user_id = k.user_id AND p.event_type = 'purchase'
           AND p.ts > k.ts AND p.ts <= k.ts + INTERVAL 1 HOUR
          GROUP BY k.event_id
        )
        SELECT CAST(k.day AS VARCHAR) AS day,
               CAST(count(*) AS BIGINT) AS n_clicks,
               CAST(sum(1 - coalesce(hit.converted, 0)) AS BIGINT)
                 AS n_abandoned,
               round(CAST(sum(1 - coalesce(hit.converted, 0)) AS DOUBLE)
                     / count(*), 6) AS abandon_rate
        FROM k JOIN hit ON k.event_id = hit.event_id
        GROUP BY k.day
    """,
)
def events_abandoned_cart_rate(spark, sf_dir):
    """Abandoned-cart rate per day — the NEGATION funnel pattern
    (clicked but did NOT purchase within the next hour), which plain
    funnel counting can't express without an anti-join: each click
    LEFT-joins the user's purchases over a 1-hour forward band, a
    conditional max collapses the matches to a converted flag, and
    the daily rollup reports the abandonment share. All counts exact
    int64; the rate is the only double.

    Scale: the band join is co-partitioned on user_id and bounded by
    the 1-hour window (each click meets only that user's purchases in
    one hour — at 100 TB the same join adds a day-bucket equi-key to
    cap the band), and the per-click collapse is map-side-combinable
    on the join output."""
    e = table(spark, sf_dir, "events")
    k = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.to_date("ts").alias("day")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    j = k.join(
        p,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("p_ts") > F.col("ts"))
        & (F.col("p_ts") <= F.col("ts") + F.expr("INTERVAL 1 HOUR")),
        "left",
    )
    hit = j.groupBy("event_id", "day").agg(
        F.max(
            F.when(F.col("p_ts").isNotNull(), 1).otherwise(0)
        ).alias("converted")
    )
    return hit.groupBy(F.col("day").cast("string").alias("day")).agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.sum(1 - F.col("converted")).alias("n_abandoned"),
        F.round(
            F.sum(1 - F.col("converted")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("abandon_rate"),
    )

@register(
    "events_hhi_concentration",
    oracle="""
        WITH c AS (
          SELECT CAST(ts AS DATE) AS day, event_type,
                 CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2
        ),
        t AS (
          SELECT day, CAST(sum(n) AS BIGINT) AS nt,
                 CAST(sum(n * n) AS BIGINT) AS nsq,
                 CAST(count(*) AS BIGINT) AS k
          FROM c GROUP BY 1
        )
        SELECT CAST(day AS VARCHAR) AS day, nt AS n_events, k AS n_types,
               round(CAST(nsq AS DOUBLE) / (CAST(nt AS DOUBLE) * nt), 6)
                 AS hhi,
               round((CAST(nsq AS DOUBLE) / (CAST(nt AS DOUBLE) * nt)
                      - 1.0 / k) / (1.0 - 1.0 / k), 6)
                 AS hhi_normalized
        FROM t
    """,
)
def events_hhi_concentration(spark, sf_dir):
    """Herfindahl–Hirschman concentration of the daily event-type mix
    — HHI = Σ share², the antitrust-grade concentration index ops
    teams use to spot traffic-mix collapse (one event type suddenly
    dominating = instrumentation bug or bot flood). Computed without
    materializing shares: HHI = Σn²/N² from two exact int64 sums, and
    the normalized form rescales by the k-type floor 1/k so days with
    different active-type counts compare fairly. One identical double
    expression per row.

    Scale: one map-side-combinable rollup to the days × types spine,
    one more to the day spine — scan-bound with tiny state."""
    e = table(spark, sf_dir, "events")
    c = e.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    t = c.groupBy("day").agg(
        F.sum("n").alias("nt"),
        F.sum(F.col("n") * F.col("n")).alias("nsq"),
        F.count(F.lit(1)).alias("k"),
    )
    hhi = F.col("nsq").cast("double") / (
        F.col("nt").cast("double") * F.col("nt")
    )
    return t.select(
        F.col("day").cast("string").alias("day"),
        F.col("nt").alias("n_events"),
        F.col("k").alias("n_types"),
        F.round(hhi, 6).alias("hhi"),
        F.round(
            (hhi - 1.0 / F.col("k")) / (1.0 - 1.0 / F.col("k")), 6
        ).alias("hhi_normalized"),
    )

BOT_RATE_PER_MIN = 5

@register(
    "events_bot_rate_screen",
    oracle=f"""
        WITH pm AS (
          SELECT user_id, date_trunc('minute', ts) AS m,
                 CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2
        ),
        u AS (
          SELECT user_id,
                 CAST(max(n) AS BIGINT) AS peak_per_min,
                 CAST(sum(n) AS BIGINT) AS n_events,
                 CAST(count(*) AS BIGINT) AS n_minutes
          FROM pm GROUP BY 1
        )
        SELECT user_id, n_events, peak_per_min,
               round(CAST(n_events AS DOUBLE) / n_minutes, 6)
                 AS mean_per_active_min,
               CAST(peak_per_min >= {BOT_RATE_PER_MIN} AS BIGINT)
                 AS bot_flag
        FROM u
    """,
)
def events_bot_rate_screen(spark, sf_dir):
    """Bot-rate screen per user — peak events in any single minute
    plus the mean rate over ACTIVE minutes (idle gaps excluded, so a
    bursty human isn't diluted into looking calm): the first-line
    abuse filter every event pipeline runs before analytics, here
    with a fixed superhuman threshold on the per-minute peak. Pure
    integer counting; the mean is the only double.

    Scale: one map-side-combinable rollup to (user, minute) — the
    cardinality cap that makes per-user peak rates computable at
    100 TB without windowing raw events — then a user-spine rollup.
    Both shuffles carry pre-combined partials."""
    e = table(spark, sf_dir, "events")
    pm = e.groupBy(
        "user_id", F.date_trunc("minute", "ts").alias("m")
    ).agg(F.count(F.lit(1)).alias("n"))
    u = pm.groupBy("user_id").agg(
        F.max("n").alias("peak_per_min"),
        F.sum("n").alias("n_events"),
        F.count(F.lit(1)).alias("n_minutes"),
    )
    return u.select(
        "user_id",
        "n_events",
        "peak_per_min",
        F.round(
            F.col("n_events").cast("double") / F.col("n_minutes"), 6
        ).alias("mean_per_active_min"),
        (F.col("peak_per_min") >= BOT_RATE_PER_MIN)
        .cast("long")
        .alias("bot_flag"),
    )

SLO_TARGET_PPM = 990000  # 99.0% success objective

@register(
    "events_error_budget_burn",
    oracle=f"""
        WITH d AS (
          SELECT CAST(ts AS DATE) AS day,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CAST(event_type = 'error' AS BIGINT))
                      AS BIGINT) AS errs
          FROM events GROUP BY 1
        ),
        c AS (
          SELECT day, n, errs,
                 CAST(sum(n) OVER w AS BIGINT) AS cum_n,
                 CAST(sum(errs) OVER w AS BIGINT) AS cum_errs
          FROM d
          WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)
        )
        SELECT CAST(day AS VARCHAR) AS day, n, errs,
               round(CAST(errs AS DOUBLE) / n, 6) AS error_rate,
               round(CAST(errs AS DOUBLE) / n
                     / (1.0 - {SLO_TARGET_PPM} / 1000000.0), 6)
                 AS burn_rate,
               round(CAST(cum_errs AS DOUBLE)
                     / (cum_n * (1.0 - {SLO_TARGET_PPM} / 1000000.0)), 6)
                 AS budget_consumed,
               CAST(cum_errs * 1000000 > cum_n
                    * (1000000 - {SLO_TARGET_PPM}) AS BIGINT)
                 AS budget_exhausted
        FROM c
    """,
)
def events_error_budget_burn(spark, sf_dir):
    """SRE error-budget burn-down against a 99% success SLO — daily
    error rate, burn rate (rate ÷ budget; >1 means the budget
    depletes before the window ends), cumulative budget consumed, and
    an exhaustion flag. The exhaustion comparison is PURE INTEGER
    (cum_errs·1e6 > cum_n·allowed_ppm) so the alert fires identically
    in both engines — paging decisions never ride a double. This is
    the error-budget policy table from the SRE workbook as one query.

    Scale: combinable rollup to the day spine; the cumulative window
    runs on the spine. The integer-ppm SLO encoding is also what a
    streaming version would carry in state."""
    e = table(spark, sf_dir, "events")
    d = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("event_type") == "error").cast("long")).alias("errs"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    c = d.select(
        "day",
        "n",
        "errs",
        F.sum("n").over(w).alias("cum_n"),
        F.sum("errs").over(w).alias("cum_errs"),
    )
    budget = 1.0 - SLO_TARGET_PPM / 1000000.0
    return c.select(
        F.col("day").cast("string").alias("day"),
        "n",
        "errs",
        F.round(F.col("errs").cast("double") / F.col("n"), 6).alias(
            "error_rate"
        ),
        F.round(
            F.col("errs").cast("double") / F.col("n") / budget, 6
        ).alias("burn_rate"),
        F.round(
            F.col("cum_errs").cast("double") / (F.col("cum_n") * budget), 6
        ).alias("budget_consumed"),
        (
            F.col("cum_errs") * 1000000
            > F.col("cum_n") * (1000000 - SLO_TARGET_PPM)
        )
        .cast("long")
        .alias("budget_exhausted"),
    )

HOLIDAYS_2024_JAN = ["2024-01-01", "2024-01-15"]

@register(
    "events_holiday_calendar_lift",
    oracle=f"""
        WITH hol AS (
          SELECT CAST(x AS DATE) AS day
          FROM unnest(['{HOLIDAYS_2024_JAN[0]}',
                       '{HOLIDAYS_2024_JAN[1]}']) t(x)
        ),
        d AS (
          SELECT CAST(ts AS DATE) AS day,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
          FROM events GROUP BY 1
        ),
        f AS (
          SELECT d.*, CAST(hol.day IS NOT NULL AS BIGINT) AS is_holiday
          FROM d LEFT JOIN hol ON d.day = hol.day
        ),
        g AS (
          SELECT is_holiday,
                 CAST(count(*) AS BIGINT) AS n_days,
                 CAST(sum(n) AS BIGINT) AS n_events,
                 CAST(sum(cents) AS BIGINT) AS cents
          FROM f GROUP BY 1
        )
        SELECT g.is_holiday, g.n_days, g.n_events, g.cents,
               round(CAST(g.n_events AS DOUBLE) / g.n_days, 6)
                 AS events_per_day,
               round((CAST(g.n_events AS DOUBLE) / g.n_days)
                     / ((SELECT CAST(sum(n_events) AS DOUBLE)
                         FROM g) / (SELECT sum(n_days) FROM g)), 6)
                 AS lift_vs_overall
        FROM g
    """,
)
def events_holiday_calendar_lift(spark, sf_dir):
    """Holiday-calendar enrichment and lift — the inline-dimension
    pattern every analytics team uses before a real calendar service
    exists: a two-row holiday table (New Year's Day, MLK Day)
    broadcast-joined onto the day spine, then events-per-day on
    holidays vs the overall baseline as a lift ratio. Demonstrates
    calendar enrichment as a BROADCAST join against a literal dim
    (never a UDF date lookup); exact integer counting, ratios last.

    Scale: fact collapses to the day spine; the holiday dim is
    literal-sized and broadcast; two-row output."""
    e = table(spark, sf_dir, "events")
    hol = spark.createDataFrame(
        [(d,) for d in HOLIDAYS_2024_JAN], "day_s string"
    ).select(F.col("day_s").cast("date").alias("hday"))
    d = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )
    f = d.join(F.broadcast(hol), d.day == hol.hday, "left").select(
        "day",
        "n",
        "cents",
        F.col("hday").isNotNull().cast("long").alias("is_holiday"),
    )
    g = f.groupBy("is_holiday").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n").alias("n_events"),
        F.sum("cents").alias("cents"),
    )
    tot = g.agg(
        F.sum("n_events").alias("te"), F.sum("n_days").alias("td")
    )
    return g.crossJoin(F.broadcast(tot)).select(
        "is_holiday",
        "n_days",
        "n_events",
        "cents",
        F.round(
            F.col("n_events").cast("double") / F.col("n_days"), 6
        ).alias("events_per_day"),
        F.round(
            (F.col("n_events").cast("double") / F.col("n_days"))
            / (F.col("te").cast("double") / F.col("td")),
            6,
        ).alias("lift_vs_overall"),
    )

@register(
    "events_wow_significance",
    oracle="""
        WITH w AS (
          SELECT CAST((CAST(ts AS DATE) - DATE '2024-01-01') // 7
                      AS BIGINT) AS week,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CAST(event_type = 'purchase' AS BIGINT))
                      AS BIGINT) AS conv
          FROM events GROUP BY 1
        ),
        l AS (
          SELECT week, n, conv,
                 lag(n) OVER (ORDER BY week) AS pn,
                 lag(conv) OVER (ORDER BY week) AS pconv
          FROM w
        )
        SELECT week, n, conv,
               round(CAST(conv AS DOUBLE) / n, 6) AS conv_rate,
               round(CAST(conv AS DOUBLE) / n
                     - CAST(pconv AS DOUBLE) / pn, 6) AS wow_delta,
               round((CAST(conv AS DOUBLE) / n - CAST(pconv AS DOUBLE) / pn)
                     / sqrt((CAST(conv + pconv AS DOUBLE) / (n + pn))
                            * (1 - CAST(conv + pconv AS DOUBLE) / (n + pn))
                            * (1.0 / n + 1.0 / pn)), 6) AS z_score,
               CAST(abs((CAST(conv AS DOUBLE) / n
                         - CAST(pconv AS DOUBLE) / pn)
                    / sqrt((CAST(conv + pconv AS DOUBLE) / (n + pn))
                           * (1 - CAST(conv + pconv AS DOUBLE) / (n + pn))
                           * (1.0 / n + 1.0 / pn))) > 1.959964 AS BIGINT)
                 AS significant
        FROM l WHERE pn IS NOT NULL
    """,
)
def events_wow_significance(spark, sf_dir):
    """Week-over-week conversion movement WITH significance — the
    guardrail that stops dashboards from narrating noise: each week's
    purchase-conversion rate, its delta vs last week, and the pooled
    two-proportion z-test verdict at α=0.05. Weeks are integer
    day-bucket arithmetic from a fixed anchor (no ISO-week
    cross-engine trap); counts are exact int64 and every rate/z term
    is one identical double expression, so the significant flag
    agrees bit-for-bit.

    Scale: combinable rollup to the week spine, lag on the spine —
    scan-bound. The pooled z is the same formula a streaming weekly
    job would emit from its state row."""
    e = table(spark, sf_dir, "events")
    w = e.groupBy(
        F.floor(
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
            / 7
        ).alias("week")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias(
            "conv"
        ),
    )
    ww = Window.orderBy("week")
    l = w.select(
        "week",
        "n",
        "conv",
        F.lag("n").over(ww).alias("pn"),
        F.lag("conv").over(ww).alias("pconv"),
    ).filter(F.col("pn").isNotNull())
    rate = F.col("conv").cast("double") / F.col("n")
    prate = F.col("pconv").cast("double") / F.col("pn")
    pool = (F.col("conv") + F.col("pconv")).cast("double") / (
        F.col("n") + F.col("pn")
    )
    z = (rate - prate) / F.sqrt(
        pool * (1 - pool) * (1.0 / F.col("n") + 1.0 / F.col("pn"))
    )
    return l.select(
        "week",
        "n",
        "conv",
        F.round(rate, 6).alias("conv_rate"),
        F.round(rate - prate, 6).alias("wow_delta"),
        F.round(z, 6).alias("z_score"),
        (F.abs(z) > 1.959964).cast("long").alias("significant"),
    )

LIFECYCLE_ASOF = "2024-01-31"

@register(
    "events_lifecycle_stages",
    oracle=f"""
        WITH u AS (
          SELECT user_id,
                 CAST(DATE '{LIFECYCLE_ASOF}' - max(CAST(ts AS DATE))
                      AS BIGINT) AS recency_days,
                 CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT)
                   AS active_days
          FROM events GROUP BY 1
        ),
        s AS (
          SELECT user_id, recency_days, active_days,
                 CASE WHEN recency_days <= 1 AND active_days >= 29
                        THEN 'power'
                      WHEN recency_days <= 1 AND active_days >= 26
                        THEN 'active'
                      WHEN recency_days <= 2 THEN 'casual'
                      ELSE 'lapsing' END AS stage
          FROM u
        )
        SELECT stage, CAST(count(*) AS BIGINT) AS n_users,
               round(CAST(sum(recency_days) AS DOUBLE) / count(*), 6)
                 AS avg_recency_days,
               round(CAST(sum(active_days) AS DOUBLE) / count(*), 6)
                 AS avg_active_days
        FROM s GROUP BY 1
    """,
)
def events_lifecycle_stages(spark, sf_dir):
    """User-lifecycle segmentation as of a fixed snapshot date —
    power / active / casual / lapsing by recency and activity-day
    rules, the stage table every retention team keys campaigns off.
    (Thresholds are tuned to this fixture's dense January traffic so
    every stage is populated; production swaps the constants.)
    Rule thresholds are pure integer day comparisons (bit-identical
    staging in both engines); per-stage averages are the only
    doubles. Complements orders_rfm_segmentation (quantile bands on
    spend) with the rule-based engagement view.

    Scale: one combinable pass with an embedded distinct-day count
    (two-tier aggregate) to the user spine; the stage rollup is
    4 rows."""
    e = table(spark, sf_dir, "events")
    asof = F.lit(LIFECYCLE_ASOF).cast("date")
    u = e.groupBy("user_id").agg(
        F.datediff(asof, F.max(F.to_date("ts"))).cast("long").alias(
            "recency_days"
        ),
        F.countDistinct(F.to_date("ts")).alias("active_days"),
    )
    stage = (
        F.when(
            (F.col("recency_days") <= 1) & (F.col("active_days") >= 29),
            "power",
        )
        .when(
            (F.col("recency_days") <= 1) & (F.col("active_days") >= 26),
            "active",
        )
        .when(F.col("recency_days") <= 2, "casual")
        .otherwise("lapsing")
    )
    s = u.select("recency_days", "active_days", stage.alias("stage"))
    return s.groupBy("stage").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(
            F.sum("recency_days").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_recency_days"),
        F.round(
            F.sum("active_days").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_active_days"),
    )
