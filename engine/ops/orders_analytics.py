"""Order/revenue analytics ops (orders_*): RFM, Pareto, pricing and
shipment rollups. Split out of aggregates.py in round 6; shared
helpers import from .aggregates."""

from __future__ import annotations
from pyspark.sql import Window
from pyspark.sql import functions as F
from ..dsl import dsum
from ..registry import register, table


@register(
    "orders_rfm_segmentation",
    oracle="""
        WITH rfm AS (
          SELECT o_custkey AS c_custkey,
                 date_diff('day', max(o_orderdate), TIMESTAMP '2001-09-01')
                   AS recency_days,
                 count(*) AS frequency,
                 sum(CAST(round(o_totalprice*100) AS BIGINT))/100.0 AS monetary
          FROM orders GROUP BY o_custkey
        )
        SELECT c_custkey, recency_days, frequency, monetary,
               ntile(5) OVER (ORDER BY recency_days DESC, c_custkey) AS r_score,
               ntile(5) OVER (ORDER BY frequency, c_custkey) AS f_score,
               ntile(5) OVER (ORDER BY monetary, c_custkey) AS m_score
        FROM rfm
        ORDER BY c_custkey
    """,
)
def orders_rfm_segmentation(spark, sf_dir):
    """RFM customer segmentation: recency / frequency / monetary per
    customer, each quintile-scored with ntile (higher = better). The
    windows are global but run over the POST-AGG one-row-per-customer
    relation, not the fact table; at true scale the global sorts
    become range-partitioned exchanges. Unique c_custkey tiebreak in
    every ntile ordering keeps quintile boundaries deterministic;
    monetary is an exact cents sum."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    rfm = o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.datediff(
            F.lit("2001-09-01").cast("timestamp_ntz").cast("date"),
            F.max("o_orderdate").cast("date"),
        ).alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        dsum(F.col("o_totalprice"), 100).alias("monetary"),
    )
    return rfm.select(
        "c_custkey",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(5)
        .over(Window.orderBy(F.desc("recency_days"), F.asc("c_custkey")))
        .alias("r_score"),
        F.ntile(5)
        .over(Window.orderBy(F.asc("frequency"), F.asc("c_custkey")))
        .alias("f_score"),
        F.ntile(5)
        .over(Window.orderBy(F.asc("monetary"), F.asc("c_custkey")))
        .alias("m_score"),
    ).orderBy("c_custkey")

@register(
    "orders_pareto_customers",
    oracle="""
        WITH spend AS (
          SELECT o_custkey,
                 sum(CAST(round(o_totalprice*100) AS BIGINT)) AS cents
          FROM orders GROUP BY o_custkey
        ), tot AS (SELECT sum(cents) AS total_cents FROM spend),
        ranked AS (
          SELECT o_custkey, cents,
                 sum(cents) OVER (ORDER BY cents DESC, o_custkey
                                  ROWS UNBOUNDED PRECEDING) AS cum_cents,
                 row_number() OVER (ORDER BY cents DESC, o_custkey) AS rnk
          FROM spend
        )
        SELECT rnk, o_custkey, cents/100.0 AS spend,
               round(CAST(cum_cents AS DOUBLE)/CAST(total_cents AS DOUBLE), 6)
                 AS cum_share
        FROM ranked, tot
        WHERE CAST(cum_cents AS DOUBLE)/CAST(total_cents AS DOUBLE) <= 0.5
        ORDER BY rnk
    """,
)
def orders_pareto_customers(spark, sf_dir):
    """Pareto concentration: the smallest set of customers covering
    half of total revenue (the 80/20 diagnostic). Revenue ranks and
    the running share are windows over the POST-AGG per-customer
    relation (|customers| rows, not |orders|); integer cents keep
    the running sum exact so the 0.5 cutoff is tie-free and
    identical on both engines. The unpartitioned window is the one
    intentionally serial step — it consumes the reduced relation,
    the same shape as text_zipf_rank's rank pass."""
    o = table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100.0).cast("long")).alias(
            "cents"
        )
    )
    tot = spend.agg(F.sum("cents").alias("total_cents"))
    w = Window.orderBy(F.desc("cents"), F.asc("o_custkey"))
    ranked = spend.select(
        "o_custkey",
        "cents",
        F.sum("cents")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_cents"),
        F.row_number().over(w).cast("long").alias("rnk"),
    )
    share = F.col("cum_cents").cast("double") / F.col("total_cents").cast(
        "double"
    )
    return (
        ranked.join(F.broadcast(tot))
        .filter(share <= 0.5)
        .select(
            "rnk",
            "o_custkey",
            (F.col("cents") / 100.0).alias("spend"),
            F.round(share, 6).alias("cum_share"),
        )
        .orderBy("rnk")
    )

@register(
    "orders_priority_share_shift",
    oracle="""
        WITH m AS (
          SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                 o_orderpriority, count(*) AS n
          FROM orders GROUP BY 1, 2
        ),
        tot AS (
          SELECT month, CAST(sum(n) AS BIGINT) AS mn FROM m GROUP BY month
        ),
        sh AS (
          SELECT m.month, o_orderpriority, n,
                 CAST(n AS DOUBLE) / mn AS share
          FROM m JOIN tot USING (month)
        )
        SELECT CAST(month AS VARCHAR) AS month, o_orderpriority, n,
               round(share, 6) AS share,
               round(share - lag(share) OVER (PARTITION BY o_orderpriority
                                              ORDER BY month), 6) AS delta_pp
        FROM sh
        ORDER BY month, o_orderpriority
    """,
)
def orders_priority_share_shift(spark, sf_dir):
    """Month-over-month mix shift: each priority class's share of the
    month's orders and its change vs the prior month — the composition
    drift behind 'did urgent orders grow or did everything else
    shrink'. Shares divide exact integer counts by the month total
    (computed as a second aggregate, joined back — months are
    dim-sized so the join broadcasts); the lag runs over the tiny
    (month, priority) relation. Both engines evaluate share and delta
    through the same division/subtraction, and the lag key (priority,
    month) is unique, so no tiebreak is needed."""
    o = table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month"),
        "o_orderpriority",
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = m.groupBy("month").agg(F.sum("n").alias("mn"))
    sh = m.join(F.broadcast(tot), "month").select(
        "month",
        "o_orderpriority",
        "n",
        (F.col("n").cast("double") / F.col("mn")).alias("share"),
    )
    w = Window.partitionBy("o_orderpriority").orderBy("month")
    return sh.select(
        F.col("month").cast("string").alias("month"),
        "o_orderpriority",
        "n",
        F.round("share", 6).alias("share"),
        F.round(F.col("share") - F.lag("share").over(w), 6).alias("delta_pp"),
    ).orderBy("month", "o_orderpriority")

@register(
    "orders_backlog_aging",
    oracle="""
        SELECT CASE
                 WHEN age_days < 365 THEN '0-1y'
                 WHEN age_days < 730 THEN '1-2y'
                 WHEN age_days < 1095 THEN '2-3y'
                 ELSE '3y+'
               END AS age_bucket,
               count(*) AS n_open,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS open_cents
        FROM (
          SELECT date_diff('day', o_orderdate, TIMESTAMP '2001-09-01')
                   AS age_days, o_totalprice
          FROM orders WHERE o_orderstatus = 'O'
        )
        GROUP BY 1
        ORDER BY age_bucket
    """,
)
def orders_backlog_aging(spark, sf_dir):
    """Open-order backlog aging: orders still in status 'O' bucketed
    by age against the corpus horizon, with count and exact-cents
    value per bucket — the AR-aging shape every ops dashboard carries.
    The status filter pushes to the parquet scan; the CASE ladder is
    a pure map expression; one 4-row high-reduction aggregate."""
    o = table(spark, sf_dir, "orders")
    age = F.datediff(F.lit("2001-09-01").cast("date"), F.col("o_orderdate"))
    bucket = (
        F.when(age < 365, "0-1y")
        .when(age < 730, "1-2y")
        .when(age < 1095, "2-3y")
        .otherwise("3y+")
    )
    return (
        o.filter(F.col("o_orderstatus") == "O")
        .groupBy(bucket.alias("age_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_open"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "open_cents"
            ),
        )
        .orderBy("age_bucket")
    )

@register(
    "orders_survival_km",
    oracle="""
        WITH o AS (
          SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_orderkey
          FROM orders
        ),
        mx AS (SELECT max(d) AS maxd FROM o),
        dur AS (
          SELECT CASE WHEN nxt IS NOT NULL THEN date_diff('day', d, nxt)
                      ELSE date_diff('day', d, maxd) END AS t,
                 CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS ev
          FROM (
            SELECT o_custkey, d, o_orderkey,
                   lead(d) OVER (PARTITION BY o_custkey
                                 ORDER BY d, o_orderkey) AS nxt
            FROM o
          ), mx
        ),
        g AS (
          SELECT t, count(*) AS c_all, CAST(sum(ev) AS BIGINT) AS d_events
          FROM dur GROUP BY t
        ),
        r AS (
          SELECT t, d_events,
                 CAST(sum(c_all) OVER () AS BIGINT)
                   - CAST(COALESCE(sum(c_all) OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS BIGINT) AS n_risk
          FROM g
        ),
        e AS (
          SELECT t, n_risk, d_events,
                 CASE WHEN n_risk = d_events THEN NULL
                      ELSE CAST(round(1e6 * ln(CAST(n_risk - d_events AS DOUBLE)
                                               / n_risk)) AS BIGINT)
                 END AS term_mnat
          FROM r WHERE d_events > 0
        )
        SELECT t AS t_day, n_risk, d_events,
               CAST(sum(term_mnat) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                 AS BIGINT) AS surv_mnat,
               CASE WHEN max(CASE WHEN term_mnat IS NULL THEN 1 ELSE 0 END)
                         OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) = 1 THEN 0.0
                    ELSE round(exp(CAST(sum(term_mnat) OVER (ORDER BY t
                           ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 1e6), 6)
               END AS surv
        FROM e
    """,
)
def orders_survival_km(spark, sf_dir):
    """Kaplan–Meier survival curve over inter-order gaps — the
    time-to-repeat-purchase estimator, with the last order of each
    customer right-censored at the fixture's max order date. Event
    durations come from one lead() window per customer; the risk set
    n(t) = N − #{durations < t} falls out of a prefix sum over the
    grouped duration spine, so no per-time rescan of the fact table.

    Determinism discipline: Π(1 − d/n) is taken in log space with
    each factor quantized to integer micro-nats BEFORE the cumulative
    sum (the engine-wide log-prob rule), so the curve is bit-stable
    across engines and shuffle orders; the final exp/round is one
    scalar per row. S(t) hits exact 0 iff the last risk set is all
    events (term is NULL-guarded; the running had-null flag pins surv
    to 0.0 from that point on). Scale: windows partition by customer
    (millions of small groups); only the distinct-duration spine —
    bounded by the date-range in days, not row count — is globally
    ordered, the same two-level-prefix-sum shape as stat_ks_test."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("d"),
        "o_orderkey",
    )
    mx = o.agg(F.max("d").alias("maxd"))
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    dur = (
        o.withColumn("nxt", F.lead("d").over(w))
        .crossJoin(F.broadcast(mx))
        .select(
            F.when(
                F.col("nxt").isNotNull(), F.datediff("nxt", "d")
            ).otherwise(F.datediff("maxd", "d")).cast("long").alias("t"),
            F.when(F.col("nxt").isNotNull(), 1).otherwise(0).alias("ev"),
        )
    )
    g = dur.groupBy("t").agg(
        F.count(F.lit(1)).alias("c_all"), F.sum("ev").alias("d_events")
    )
    wt = Window.orderBy("t")
    before = F.coalesce(
        F.sum("c_all").over(wt.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    r = g.select(
        "t",
        "d_events",
        (F.sum("c_all").over(Window.partitionBy()) - before).alias("n_risk"),
    )
    term = F.when(F.col("n_risk") == F.col("d_events"), F.lit(None)).otherwise(
        F.round(
            1e6
            * F.log(
                (F.col("n_risk") - F.col("d_events")).cast("double")
                / F.col("n_risk")
            )
        ).cast("long")
    )
    e = r.filter(F.col("d_events") > 0).withColumn("term_mnat", term)
    wcum = wt.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    had_null = F.max(
        F.when(F.col("term_mnat").isNull(), 1).otherwise(0)
    ).over(wcum)
    cum = F.sum("term_mnat").over(wcum)
    return e.select(
        F.col("t").alias("t_day"),
        "n_risk",
        "d_events",
        cum.alias("surv_mnat"),
        F.when(had_null == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(cum.cast("double") / 1e6), 6))
        .alias("surv"),
    )

@register(
    "orders_gini_concentration",
    oracle="""
        WITH rev AS (
          SELECT o_custkey,
                 CAST(sum(CAST(round(o_totalprice) AS BIGINT))
                   AS BIGINT) AS dollars
          FROM orders GROUP BY o_custkey
        ),
        r AS (
          SELECT dollars,
                 row_number() OVER (ORDER BY dollars, o_custkey) AS i,
                 count(*) OVER () AS n,
                 CAST(sum(dollars) OVER () AS BIGINT) AS s
          FROM rev
        )
        SELECT CAST(max(n) AS BIGINT) AS n_customers,
               CAST(max(s) AS BIGINT) AS total_dollars,
               CAST(2 * sum(i * dollars) - (max(n) + 1) * max(s) AS BIGINT)
                 AS gini_num,
               round(CAST(2 * sum(i * dollars) - (max(n) + 1) * max(s) AS DOUBLE)
                     / (max(n) * max(s)), 6) AS gini
        FROM r
    """,
)
def orders_gini_concentration(spark, sf_dir):
    """Gini coefficient of customer revenue concentration — the
    inequality scalar behind every "top-X% of customers" narrative
    (orders_pareto_customers charts the curve; this is its summary
    statistic). Uses the rank formula G = (2·Σi·x₍ᵢ₎ − (n+1)·Σx) /
    (n·Σx) over revenue sorted ascending: the numerator is an EXACT
    BIGINT (ties contribute a fixed rank-sum regardless of internal
    order, so the custkey tiebreak is belt-and-braces), and only the
    final ratio is double. Revenue is quantized to whole DOLLARS, not
    cents: Σi·xᵢ grows ~ rank·value·customers, and dollar units keep
    the BIGINT headroom to ~sf100 where cents would overflow near
    sf0.5 — Gini is invariant to the unit up to rounding.

    Scale: per-customer revenue is one map-side-combinable groupBy;
    the ranked spine is customer-sized, and the rank weighting is the
    same bounded global-order shape as stat_ks_test (two-level prefix
    sum at 100 TB)."""
    o = table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.round("o_totalprice").cast("long")).alias("dollars")
    )
    wall = Window.partitionBy()
    r = rev.select(
        "dollars",
        F.row_number()
        .over(Window.orderBy("dollars", "o_custkey"))
        .alias("i"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("dollars").over(wall).alias("s"),
    )
    num = 2 * F.sum(F.col("i") * F.col("dollars")) - (
        F.max("n") + 1
    ) * F.max("s")
    return r.agg(
        F.max("n").alias("n_customers"),
        F.max("s").alias("total_dollars"),
        num.cast("long").alias("gini_num"),
        F.round(num.cast("double") / (F.max("n") * F.max("s")), 6).alias(
            "gini"
        ),
    )

@register(
    "orders_cohort_ltv_curve",
    oracle="""
        WITH f AS (
          SELECT o_custkey,
                 min(year(o_orderdate)) OVER (PARTITION BY o_custkey)
                   AS cohort_year,
                 year(o_orderdate) AS order_year,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders
        ),
        per_age AS (
          SELECT cohort_year, order_year - cohort_year AS age,
                 CAST(sum(cents) AS BIGINT) AS rev,
                 count(DISTINCT o_custkey) AS active_customers
          FROM f GROUP BY 1, 2
        ),
        sized AS (
          SELECT cohort_year, count(DISTINCT o_custkey) AS cohort_size
          FROM f GROUP BY 1
        )
        SELECT p.cohort_year, p.age, p.active_customers, s.cohort_size,
               CAST(sum(p.rev) OVER (PARTITION BY p.cohort_year ORDER BY p.age
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_cents,
               round(CAST(sum(p.rev) OVER (PARTITION BY p.cohort_year
                     ORDER BY p.age ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                     / s.cohort_size / 100, 6) AS ltv_per_customer
        FROM per_age p JOIN sized s ON p.cohort_year = s.cohort_year
    """,
)
def orders_cohort_ltv_curve(spark, sf_dir):
    """Cohort lifetime-value curves: customers cohorted by first-order
    year, revenue accumulated by cohort age — the curve that answers
    "how much is a Y-cohort customer worth after k years" (the revenue
    sibling of agg_retention_cohort's activity counts). Cohort
    assignment is one min() window per customer, per-(cohort, age)
    revenue one exact-cents aggregate, and the running LTV a prefix
    sum over the tiny (cohort × age) grid; per-customer LTV divides by
    the cohort's distinct-customer size only in the final projection.

    Scale: windows partition by customer (small groups), the cumsum
    runs on a years×years grid — constant-sized regardless of fact
    rows. Map-side-combinable aggregates throughout."""
    o = table(spark, sf_dir, "orders")
    wc = Window.partitionBy("o_custkey")
    f = o.select(
        "o_custkey",
        F.min(F.year("o_orderdate")).over(wc).alias("cohort_year"),
        F.year("o_orderdate").alias("order_year"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    per_age = f.groupBy(
        "cohort_year", (F.col("order_year") - F.col("cohort_year")).alias("age")
    ).agg(
        F.sum("cents").alias("rev"),
        F.countDistinct("o_custkey").alias("active_customers"),
    )
    sized = f.groupBy("cohort_year").agg(
        F.countDistinct("o_custkey").alias("cohort_size")
    )
    wa = Window.partitionBy("cohort_year").orderBy("age").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    j = per_age.join(F.broadcast(sized), "cohort_year")
    cum = F.sum("rev").over(wa)
    return j.select(
        "cohort_year",
        "age",
        "active_customers",
        "cohort_size",
        cum.alias("cum_rev_cents"),
        F.round(
            cum.cast("double") / F.col("cohort_size") / 100, 6
        ).alias("ltv_per_customer"),
    )

PVM_Y0, PVM_Y1 = 1997, 1998

@register(
    "orders_price_volume_mix",
    oracle=f"""
        WITH s AS (
          SELECT o_orderpriority AS segment,
                 CAST(count(*) FILTER (WHERE year(o_orderdate) = {PVM_Y0})
                   AS BIGINT) AS n0,
                 CAST(count(*) FILTER (WHERE year(o_orderdate) = {PVM_Y1})
                   AS BIGINT) AS n1,
                 CAST(COALESCE(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                   FILTER (WHERE year(o_orderdate) = {PVM_Y0}), 0)
                   AS BIGINT) AS s0,
                 CAST(COALESCE(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                   FILTER (WHERE year(o_orderdate) = {PVM_Y1}), 0)
                   AS BIGINT) AS s1
          FROM orders
          WHERE year(o_orderdate) IN ({PVM_Y0}, {PVM_Y1})
          GROUP BY o_orderpriority
        )
        SELECT segment, n0, n1, s0, s1,
               CAST(s1 - s0 AS BIGINT) AS delta_cents,
               round((n1 - n0) * (CAST(s0 AS DOUBLE) / n0), 6) AS volume_eff,
               round((CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0) * n0,
                     6) AS price_eff,
               round((n1 - n0) * (CAST(s1 AS DOUBLE) / n1
                                  - CAST(s0 AS DOUBLE) / n0), 6) AS cross_eff
        FROM s WHERE n0 > 0 AND n1 > 0
    """,
)
def orders_price_volume_mix(spark, sf_dir):
    """Price–volume–mix bridge between two years, per priority
    segment — the FP&A decomposition ΔRev = Δn·p₀ + Δp·n₀ + Δn·Δp
    (volume, price, cross terms sum EXACTLY to Δcents by algebra, a
    property the test asserts to 1e-4 cents). Both years are
    accumulated in ONE conditional aggregate over the filtered fact
    scan (no self-join of year slices); counts and cents are exact
    BIGINTs, average order values appear only inside the three final
    identical-structure double expressions.

    Scale: single scan with the year-pair predicate pushed, map-side
    combinable FILTER aggregates, segment-sized output — the shape
    survives any fact-table size."""
    o = table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    y = F.year("o_orderdate")
    s = (
        o.filter(y.isin(PVM_Y0, PVM_Y1))
        .groupBy(F.col("o_orderpriority").alias("segment"))
        .agg(
            F.count_if(y == PVM_Y0).alias("n0"),
            F.count_if(y == PVM_Y1).alias("n1"),
            F.coalesce(F.sum(F.when(y == PVM_Y0, cents)), F.lit(0)).alias("s0"),
            F.coalesce(F.sum(F.when(y == PVM_Y1, cents)), F.lit(0)).alias("s1"),
        )
    )
    n0, n1, s0, s1 = F.col("n0"), F.col("n1"), F.col("s0"), F.col("s1")
    p0 = s0.cast("double") / n0
    p1 = s1.cast("double") / n1
    return s.filter((n0 > 0) & (n1 > 0)).select(
        "segment",
        "n0",
        "n1",
        "s0",
        "s1",
        (s1 - s0).cast("long").alias("delta_cents"),
        F.round((n1 - n0) * p0, 6).alias("volume_eff"),
        F.round((p1 - p0) * n0, 6).alias("price_eff"),
        F.round((n1 - n0) * (p1 - p0), 6).alias("cross_eff"),
    )

@register(
    "orders_interpurchase_median",
    oracle="""
        WITH seq AS (
          SELECT o_custkey,
                 CAST(CAST(o_orderdate AS DATE)
                      - lag(CAST(o_orderdate AS DATE)) OVER (
                          PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderkey
                        ) AS BIGINT) AS gap_days
          FROM orders
        ),
        v AS (SELECT gap_days FROM seq WHERE gap_days IS NOT NULL),
        g AS (SELECT gap_days, count(*) AS n_g FROM v GROUP BY 1),
        c AS (
          SELECT gap_days,
                 CAST(sum(n_g) OVER (ORDER BY gap_days
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cumn
          FROM g
        ),
        t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v)
        SELECT t.n AS n_gaps,
               CAST(min(c.gap_days) AS BIGINT) AS median_gap_days,
               (SELECT CAST(min(gap_days) AS BIGINT) FROM v)
                 AS min_gap_days,
               (SELECT CAST(max(gap_days) AS BIGINT) FROM v)
                 AS max_gap_days
        FROM c, t
        WHERE 2 * c.cumn >= t.n
        GROUP BY t.n
    """,
)
def orders_interpurchase_median(spark, sf_dir):
    """Median days between a customer's consecutive orders — the
    repeat-purchase cadence that drives replenishment and churn
    models. Per-customer gaps come from one lag window (integer day
    differences, exact); the median uses the doubled-cumulative-count
    integer midpoint test on the distinct-gap spine, with exact
    min/max for the range.

    Scale: the lag window is per-customer partitioned; the spine
    prefix-sum runs over distinct gap values (bounded by the date
    range, not the row count)."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    day = F.col("o_orderdate").cast("date")
    seq = o.select(
        (
            F.datediff(day, F.lag(day).over(w))
        ).cast("long").alias("gap_days")
    )
    v = seq.filter(F.col("gap_days").isNotNull())
    g = v.groupBy("gap_days").agg(F.count(F.lit(1)).alias("n_g"))
    wc = Window.orderBy("gap_days").rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = g.select("gap_days", F.sum("n_g").over(wc).alias("cumn"))
    t = v.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("gap_days").alias("mn"),
        F.max("gap_days").alias("mx"),
    )
    return (
        c.crossJoin(F.broadcast(t))
        .filter(2 * F.col("cumn") >= F.col("n"))
        .groupBy(F.col("n").alias("n_gaps"), "mn", "mx")
        .agg(F.min("gap_days").alias("median_gap_days"))
        .select(
            "n_gaps",
            "median_gap_days",
            F.col("mn").alias("min_gap_days"),
            F.col("mx").alias("max_gap_days"),
        )
    )

MIGRATION_SPLIT = "1999-01-01"

SEG_LO_CENTS = 50000000  # $500k

SEG_HI_CENTS = 120000000  # $1.2M

@register(
    "orders_customer_migration_matrix",
    oracle=f"""
        WITH s AS (
          SELECT o_custkey,
                 CAST(o_orderdate >= TIMESTAMP '{MIGRATION_SPLIT}' AS INT)
                   AS p,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS cents
          FROM orders GROUP BY 1, 2
        ),
        seg AS (
          SELECT o_custkey, p,
                 CASE WHEN cents >= {SEG_HI_CENTS} THEN 'high'
                      WHEN cents >= {SEG_LO_CENTS} THEN 'mid'
                      ELSE 'low' END AS segment
          FROM s
        ),
        m AS (
          SELECT coalesce(a.segment, 'absent') AS seg_pre,
                 coalesce(b.segment, 'absent') AS seg_post
          FROM (SELECT o_custkey, segment FROM seg WHERE p = 0) a
          FULL JOIN (SELECT o_custkey, segment FROM seg WHERE p = 1) b
            ON a.o_custkey = b.o_custkey
        )
        SELECT seg_pre, seg_post, count(*) AS n_customers
        FROM m GROUP BY 1, 2
    """,
)
def orders_customer_migration_matrix(spark, sf_dir):
    """Customer value-segment migration matrix across two periods —
    the retention/upgrade report behind "are our high-value customers
    downgrading?": per period each customer lands in a fixed-cutoff
    spend band (documented dollar thresholds; fixed cutoffs keep the
    matrix comparable period over period, unlike quantile bands that
    move with the distribution), a FULL outer join aligns the
    periods, and absences map to an explicit 'absent' state so churn
    and acquisition appear as matrix rows/columns rather than
    vanishing.

    Scale: two keyed rollups + one customer-keyed full join + a
    16-cell rollup — all map-side-combinable or key-partitioned."""
    o = table(spark, sf_dir, "orders")
    split = F.lit(MIGRATION_SPLIT).cast("timestamp_ntz")
    s = o.groupBy(
        "o_custkey",
        (F.col("o_orderdate") >= split).cast("int").alias("p"),
    ).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("long")
        ).alias("cents")
    )
    seg = s.select(
        "o_custkey",
        "p",
        F.when(F.col("cents") >= SEG_HI_CENTS, "high")
        .when(F.col("cents") >= SEG_LO_CENTS, "mid")
        .otherwise("low")
        .alias("segment"),
    )
    a = seg.filter(F.col("p") == 0).select(
        "o_custkey", F.col("segment").alias("sa")
    )
    b = seg.filter(F.col("p") == 1).select(
        "o_custkey", F.col("segment").alias("sb")
    )
    m = a.join(b, "o_custkey", "full")
    return m.groupBy(
        F.coalesce(F.col("sa"), F.lit("absent")).alias("seg_pre"),
        F.coalesce(F.col("sb"), F.lit("absent")).alias("seg_post"),
    ).agg(F.count(F.lit(1)).alias("n_customers"))

@register(
    "orders_ship_leadtime_stats",
    oracle="""
        WITH lt AS (
          SELECT o.o_orderpriority AS prio,
                 CAST(CAST(l.l_shipdate AS DATE)
                      - CAST(o.o_orderdate AS DATE) AS BIGINT) AS days
          FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        ),
        g AS (SELECT prio, days, count(*) AS n_g FROM lt GROUP BY 1, 2),
        c AS (
          SELECT prio, days,
                 CAST(sum(n_g) OVER (PARTITION BY prio ORDER BY days
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cumn
          FROM g
        ),
        t AS (SELECT prio, CAST(count(*) AS BIGINT) AS n,
                     CAST(min(days) AS BIGINT) AS min_days,
                     CAST(max(days) AS BIGINT) AS max_days
              FROM lt GROUP BY 1),
        med AS (
          SELECT c.prio, CAST(min(c.days) AS BIGINT) AS median_days
          FROM c JOIN t ON c.prio = t.prio
          WHERE 2 * c.cumn >= t.n GROUP BY 1
        ),
        p90 AS (
          SELECT c.prio, CAST(min(c.days) AS BIGINT) AS p90_days
          FROM c JOIN t ON c.prio = t.prio
          WHERE 10 * c.cumn >= 9 * t.n GROUP BY 1
        )
        SELECT t.prio, t.n AS n_lines, t.min_days, t.max_days,
               med.median_days, p90.p90_days
        FROM t JOIN med ON t.prio = med.prio
               JOIN p90 ON t.prio = p90.prio
    """,
)
def orders_ship_leadtime_stats(spark, sf_dir):
    """Order-to-ship lead time by priority — the supply-chain SLA
    report: integer day gaps from the orders x lineitem join,
    with exact median and p90 per priority via the integer midpoint
    tests (2·cum ≥ n and 10·cum ≥ 9n) on each priority's distinct-gap
    spine — checking whether URGENT actually ships faster.

    Scale: the fact join is key-partitioned; the spine window is
    per-priority partitioned over distinct day values (bounded by
    the calendar, not row count)."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    lt = o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.col("o_orderpriority").alias("prio"),
        F.datediff(
            F.col("l_shipdate").cast("date"),
            F.col("o_orderdate").cast("date"),
        ).cast("long").alias("days"),
    )
    g = lt.groupBy("prio", "days").agg(F.count(F.lit(1)).alias("n_g"))
    wc = (
        Window.partitionBy("prio")
        .orderBy("days")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = g.select("prio", "days", F.sum("n_g").over(wc).alias("cumn"))
    t = lt.groupBy("prio").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("days").alias("min_days"),
        F.max("days").alias("max_days"),
    )
    ct = c.join(F.broadcast(t.select("prio", "n")), "prio")
    med = (
        ct.filter(2 * F.col("cumn") >= F.col("n"))
        .groupBy("prio")
        .agg(F.min("days").alias("median_days"))
    )
    p90 = (
        ct.filter(10 * F.col("cumn") >= 9 * F.col("n"))
        .groupBy("prio")
        .agg(F.min("days").alias("p90_days"))
    )
    return (
        t.join(med, "prio")
        .join(p90, "prio")
        .select(
            "prio",
            F.col("n").alias("n_lines"),
            "min_days",
            "max_days",
            "median_days",
            "p90_days",
        )
    )

@register(
    "orders_abc_classification",
    oracle="""
        WITH p AS (
          SELECT l_partkey,
                 CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                      AS BIGINT) AS rev_cents
          FROM lineitem GROUP BY 1
        ),
        tot AS (SELECT CAST(sum(rev_cents) AS BIGINT) AS t FROM p),
        c AS (
          SELECT rev_cents,
                 CAST(coalesce(sum(rev_cents) OVER (
                   ORDER BY rev_cents DESC, l_partkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS BIGINT) AS cum_b
          FROM p
        ),
        k AS (
          SELECT CASE WHEN cum_b * 100 < 80 * tot.t THEN 'A'
                      WHEN cum_b * 100 < 95 * tot.t THEN 'B'
                      ELSE 'C' END AS abc_class,
                 rev_cents
          FROM c, tot
        )
        SELECT abc_class,
               CAST(count(*) AS BIGINT) AS n_parts,
               CAST(sum(rev_cents) AS BIGINT) AS rev_cents,
               round(CAST(sum(rev_cents) AS DOUBLE) / max(tot.t), 6)
                 AS rev_share
        FROM k, tot GROUP BY 1
    """,
)
def orders_abc_classification(spark, sf_dir):
    """ABC (Pareto) inventory classification of parts by revenue:
    rank parts by exact cent revenue descending (partkey tiebreak, so
    both engines agree on equal-revenue parts), class A = parts whose
    cumulative-revenue-before is under 80% of total, B under 95%, C
    the tail. The class boundaries are pure int64 comparisons
    (cum_b·100 < 80·total — no percentage doubles anywhere near the
    cut), so boundary parts land identically in both engines; only
    the reported share is a final rounded double.

    Scale: lineitem collapses map-side to the part spine; the ordered
    prefix sum runs on that spine (20k rows at sf1 — and at 100 TB a
    range-partitioned two-pass prefix sum swaps in without changing
    the query shape); output is 3 rows."""
    li = table(spark, sf_dir, "lineitem")
    p = li.groupBy("l_partkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "rev_cents"
        )
    )
    tot = p.agg(F.sum("rev_cents").alias("t"))
    w = Window.orderBy(F.desc("rev_cents"), F.asc("l_partkey")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    c = p.select(
        "rev_cents",
        F.coalesce(F.sum("rev_cents").over(w), F.lit(0)).alias("cum_b"),
    )
    k = c.crossJoin(F.broadcast(tot)).select(
        F.when(F.col("cum_b") * 100 < 80 * F.col("t"), "A")
        .when(F.col("cum_b") * 100 < 95 * F.col("t"), "B")
        .otherwise("C")
        .alias("abc_class"),
        "rev_cents",
        "t",
    )
    return k.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("rev_cents").alias("rev_cents"),
        F.round(
            F.sum("rev_cents").cast("double") / F.max("t"), 6
        ).alias("rev_share"),
    )

@register(
    "orders_seasonality_index",
    oracle="""
        WITH ym AS (
          SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS cents
          FROM orders GROUP BY 1, 2
        ),
        m AS (
          SELECT mo, CAST(count(*) AS BIGINT) AS n_years,
                 CAST(sum(cents) AS BIGINT) AS cents
          FROM ym GROUP BY 1
        ),
        tot AS (
          SELECT CAST(count(*) AS BIGINT) AS n_all,
                 CAST(sum(cents) AS BIGINT) AS c_all
          FROM ym
        )
        SELECT CAST(m.mo AS BIGINT) AS month_of_year, m.n_years,
               m.cents AS rev_cents,
               round((CAST(m.cents AS DOUBLE) / m.n_years)
                     / (CAST(tot.c_all AS DOUBLE) / tot.n_all), 6)
                 AS seasonal_index
        FROM m, tot
    """,
)
def orders_seasonality_index(spark, sf_dir):
    """Classical monthly seasonality index — each calendar month's
    average revenue across all observed years divided by the overall
    monthly average (index > 1 = seasonally strong month), the
    multiplicative-decomposition companion to win_yoy_growth (which
    differences; this one profiles). Exact cent sums per (year,
    month) cell, exact cell counts, and one identical double ratio —
    robust to partially-observed first/last years because each month
    divides by ITS OWN observation count.

    Scale: one map-side-combinable rollup to the ≤12×years cell
    table; everything downstream is 12 rows + a broadcast scalar."""
    o = table(spark, sf_dir, "orders")
    ym = o.groupBy(
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents"
        )
    )
    m = ym.groupBy("mo").agg(
        F.count(F.lit(1)).alias("n_years"), F.sum("cents").alias("cents")
    )
    tot = ym.agg(
        F.count(F.lit(1)).alias("n_all"), F.sum("cents").alias("c_all")
    )
    return m.crossJoin(F.broadcast(tot)).select(
        F.col("mo").cast("long").alias("month_of_year"),
        "n_years",
        F.col("cents").alias("rev_cents"),
        F.round(
            (F.col("cents").cast("double") / F.col("n_years"))
            / (F.col("c_all").cast("double") / F.col("n_all")),
            6,
        ).alias("seasonal_index"),
    )

@register(
    "orders_return_rate_trend",
    oracle="""
        WITH m AS (
          SELECT strftime(l_shipdate, '%Y-%m') AS month,
                 CAST(count(*) AS BIGINT) AS n_lines,
                 CAST(sum(CAST(l_returnflag = 'R' AS BIGINT)) AS BIGINT)
                   AS n_returned,
                 CAST(sum(CASE WHEN l_returnflag = 'R'
                     THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS returned_cents,
                 CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                      AS BIGINT) AS total_cents
          FROM lineitem GROUP BY 1
        )
        SELECT month, n_lines, n_returned,
               round(CAST(n_returned AS DOUBLE) / n_lines, 6)
                 AS return_rate,
               round(CAST(returned_cents AS DOUBLE) / total_cents, 6)
                 AS returned_value_share
        FROM m
    """,
)
def orders_return_rate_trend(spark, sf_dir):
    """Monthly return-rate trend — share of shipped lines (and of
    shipped VALUE) flagged returned, the merchandising-quality
    headline that catches a bad product batch or a fraud ring months
    before margin reports do. Line-count rate and value-weighted rate
    move differently when expensive items return disproportionately —
    both are reported. One conditional rollup of exact int64 counts
    and cent sums; rates are the only doubles.

    Scale: single map-side-combinable pass to the month spine —
    scan-bound at any size."""
    li = table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    ret = (F.col("l_returnflag") == "R").cast("long")
    m = li.groupBy(
        F.date_format("l_shipdate", "yyyy-MM").alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(ret).alias("n_returned"),
        F.sum(F.when(F.col("l_returnflag") == "R", cents).otherwise(0)).alias(
            "returned_cents"
        ),
        F.sum(cents).alias("total_cents"),
    )
    return m.select(
        "month",
        "n_lines",
        "n_returned",
        F.round(
            F.col("n_returned").cast("double") / F.col("n_lines"), 6
        ).alias("return_rate"),
        F.round(
            F.col("returned_cents").cast("double") / F.col("total_cents"),
            6,
        ).alias("returned_value_share"),
    )

@register(
    "orders_supplier_hhi",
    oracle="""
        WITH ps AS (
          SELECT l_partkey AS pk, l_suppkey AS sk,
                 CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                      AS BIGINT) AS cents
          FROM lineitem GROUP BY 1, 2
        ),
        p AS (
          SELECT pk, CAST(count(*) AS BIGINT) AS n_suppliers,
                 CAST(sum(cents) AS BIGINT) AS tot,
                 CAST(sum(cents * cents) AS BIGINT) AS sq
          FROM ps GROUP BY 1
        )
        SELECT pk AS partkey, n_suppliers, tot AS spend_cents,
               round(CAST(sq AS DOUBLE) / (CAST(tot AS DOUBLE) * tot), 6)
                 AS supplier_hhi,
               CAST(CAST(sq AS DOUBLE) / (CAST(tot AS DOUBLE) * tot)
                    > 0.5 AS BIGINT) AS single_source_risk
        FROM p WHERE n_suppliers >= 2
    """,
)
def orders_supplier_hhi(spark, sf_dir):
    """Supplier-concentration HHI per part — the supply-risk screen
    procurement runs before a shortage does: each part's spend shares
    across its suppliers folded as Σcents²/(Σcents)² (no share
    materialization, same trick as events_hhi_concentration), with an
    HHI > 0.5 single-source-risk flag. Multi-supplier parts only —
    sole-sourced parts are a different (known) list.

    Scale: one combinable rollup to the (part, supplier) spine, one
    to the part spine; the squared-cents sum stays in int64 because
    the per-(part,supplier) cents are bounded by part-level spend,
    not corpus revenue."""
    li = table(spark, sf_dir, "lineitem")
    ps = li.groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "cents"
        )
    )
    p = ps.groupBy("pk").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("cents").alias("tot"),
        F.sum(F.col("cents") * F.col("cents")).alias("sq"),
    )
    hhi = F.col("sq").cast("double") / (
        F.col("tot").cast("double") * F.col("tot")
    )
    return p.filter(F.col("n_suppliers") >= 2).select(
        F.col("pk").alias("partkey"),
        "n_suppliers",
        F.col("tot").alias("spend_cents"),
        F.round(hhi, 6).alias("supplier_hhi"),
        (hhi > 0.5).cast("long").alias("single_source_risk"),
    )

@register(
    "orders_basket_size_histogram",
    oracle="""
        WITH b AS (
          SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines
          FROM lineitem GROUP BY 1
        ),
        h AS (
          SELECT n_lines, CAST(count(*) AS BIGINT) AS n_orders
          FROM b GROUP BY 1
        ),
        tot AS (SELECT CAST(sum(n_orders) AS BIGINT) AS t FROM h)
        SELECT h.n_lines, h.n_orders,
               round(CAST(h.n_orders AS DOUBLE) / tot.t, 6) AS share,
               round(CAST(sum(h.n_orders) OVER (ORDER BY h.n_lines)
                     AS DOUBLE) / tot.t, 6) AS cum_share
        FROM h, tot
    """,
)
def orders_basket_size_histogram(spark, sf_dir):
    """Basket-size distribution — lines per order as an exact
    histogram with shares and the cumulative curve ("90% of orders
    have ≤7 lines" drives packing, picking, and UI pagination
    decisions alike). Two combinable rollups (order spine → size
    spine); the cumulative window runs on the ≤max-basket-size spine.

    Scale: the second rollup's key cardinality is the max basket
    size (double digits), so the final stage is constant-sized no
    matter the fact volume."""
    li = table(spark, sf_dir, "lineitem")
    b = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_lines"))
    h = b.groupBy("n_lines").agg(F.count(F.lit(1)).alias("n_orders"))
    tot = h.agg(F.sum("n_orders").alias("t"))
    w = Window.orderBy("n_lines").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return h.crossJoin(F.broadcast(tot)).select(
        "n_lines",
        "n_orders",
        F.round(F.col("n_orders").cast("double") / F.col("t"), 6).alias(
            "share"
        ),
        F.round(
            F.sum("n_orders").over(w).cast("double") / F.col("t"), 6
        ).alias("cum_share"),
    )

@register(
    "orders_discount_response_curve",
    oracle="""
        WITH b AS (
          SELECT CAST(round(l_discount * 100) AS BIGINT) AS disc_pct,
                 CAST(l_quantity AS BIGINT) AS qty,
                 CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
          FROM lineitem
        ),
        g AS (
          SELECT disc_pct, CAST(count(*) AS BIGINT) AS n_lines,
                 CAST(sum(qty) AS BIGINT) AS units,
                 CAST(sum(cents) AS BIGINT) AS cents
          FROM b GROUP BY 1
        ),
        tot AS (SELECT CAST(sum(cents) AS BIGINT) AS t FROM g)
        SELECT disc_pct, n_lines, units,
               round(CAST(units AS DOUBLE) / n_lines, 6)
                 AS avg_units_per_line,
               round(CAST(g.cents AS DOUBLE) / tot.t, 6)
                 AS revenue_share
        FROM g, tot
    """,
)
def orders_discount_response_curve(spark, sf_dir):
    """Discount response curve — average units per line and revenue
    share at each whole-percent discount level, the first chart any
    pricing analysis draws ("do deeper discounts actually move more
    units, and how much revenue rides each band?"). Discount
    percentages are exact integers (round(d·100)); all masses are
    exact int64 with the two ratios as final doubles.

    Scale: one combinable rollup to the ≤11-row discount spine —
    scan-bound; the share join broadcasts a scalar."""
    li = table(spark, sf_dir, "lineitem")
    g = li.groupBy(
        F.round(F.col("l_discount") * 100).cast("long").alias("disc_pct")
    ).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("l_quantity").cast("long")).alias("units"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "cents"
        ),
    )
    tot = g.agg(F.sum("cents").alias("t"))
    return g.crossJoin(F.broadcast(tot)).select(
        "disc_pct",
        "n_lines",
        "units",
        F.round(F.col("units").cast("double") / F.col("n_lines"), 6).alias(
            "avg_units_per_line"
        ),
        F.round(F.col("cents").cast("double") / F.col("t"), 6).alias(
            "revenue_share"
        ),
    )

@register(
    "orders_shipment_consolidation",
    oracle="""
        WITH sh AS (
          SELECT l_orderkey,
                 CAST(count(DISTINCT CAST(l_shipdate AS DATE)) AS BIGINT)
                   AS n_ship_days,
                 CAST(count(*) AS BIGINT) AS n_lines
          FROM lineitem GROUP BY 1
        )
        SELECT CAST(count(*) AS BIGINT) AS n_orders,
               round(CAST(sum(n_ship_days) AS DOUBLE) / count(*), 6)
                 AS avg_shipments_per_order,
               round(CAST(sum(CAST(n_ship_days = 1 AS BIGINT)) AS DOUBLE)
                     / count(*), 6) AS single_shipment_share,
               round(CAST(sum(n_lines) AS DOUBLE) / sum(n_ship_days), 6)
                 AS avg_lines_per_shipment
        FROM sh
    """,
)
def orders_shipment_consolidation(spark, sf_dir):
    """Shipment consolidation report — distinct ship dates per order
    as a proxy for physical shipments: average shipments per order,
    the share of orders fulfilled in ONE shipment (the customer-
    experience number), and lines per shipment (the packing-density
    number logistics optimizes). One two-tier aggregate (distinct
    dates inside the order rollup) plus a scalar fold — all exact
    int64 until the three final ratios.

    Scale: the distinct-inside-groupBy plans as a two-level partial
    aggregate on the order key; the final fold is a single
    combinable pass over the order spine."""
    li = table(spark, sf_dir, "lineitem")
    sh = li.groupBy("l_orderkey").agg(
        F.countDistinct(F.col("l_shipdate").cast("date")).alias(
            "n_ship_days"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )
    return sh.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(
            F.sum("n_ship_days").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_shipments_per_order"),
        F.round(
            F.sum((F.col("n_ship_days") == 1).cast("long")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("single_shipment_share"),
        F.round(
            F.sum("n_lines").cast("double") / F.sum("n_ship_days"), 6
        ).alias("avg_lines_per_shipment"),
    )
