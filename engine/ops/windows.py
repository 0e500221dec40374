"""2.E — window functions (SURVEY §2.E).

Determinism rule from the survey: every ORDER BY inside a window ends
with a unique key (o_orderkey / event_id) so row_number, frames, and
LIMIT boundaries are tie-free in both engines. Running sums use the
scaled-integer trick (engine.dsl rationale) — a running double sum
would be prefix-order-exact here, but the scaled form also keeps the
partial-agg path deterministic.

Scale: window partitions are per-customer / per-user — millions of
small partitions, one shuffle each; nothing accumulates driver-side.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..registry import register, table


@register(
    "win_ranking",
    oracle="""
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER w AS rn,
               rank()       OVER w AS rnk,
               dense_rank() OVER w AS drnk,
               ntile(4)     OVER w AS quartile
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def win_ranking(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.row_number().over(w).cast("long").alias("rn"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


@register(
    "win_topk_per_group",
    oracle="""
        SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders
        ) WHERE rn <= 3
    """,
)
def win_topk_per_group(spark, sf_dir):
    """Top-3 orders per customer. At scale this is the rank-then-filter
    pattern: one shuffle on the group key; AQE handles group skew."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@register(
    "win_lag_lead",
    oracle="""
        SELECT event_id, user_id, ts, value,
               value - lag(value)  OVER w AS delta_prev,
               lead(event_type)    OVER w AS next_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def win_lag_lead(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        (F.col("value") - F.lag("value").over(w)).alias("delta_prev"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@register(
    "win_running_sum",
    oracle="""
        SELECT o_custkey, o_orderkey, o_orderdate,
               sum(CAST(round(o_totalprice*100) AS BIGINT))
                 OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 / 100.0 AS running_spend
        FROM orders
    """,
)
def win_running_sum(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        (F.sum(cents).over(w) / F.lit(100.0)).alias("running_spend"),
    )


@register(
    "win_moving_avg",
    oracle="""
        SELECT event_id, user_id, ts,
               (sum(CAST(round(value*10000) AS BIGINT)) OVER w)
                 / (count(*) OVER w) / 10000.0 AS value_ma3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
)
def win_moving_avg(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    cents = F.round(F.col("value") * 10000).cast("long")
    return e.select(
        "event_id",
        "user_id",
        "ts",
        (F.sum(cents).over(w) / F.count(F.lit(1)).over(w) / F.lit(10000.0)).alias(
            "value_ma3"
        ),
    )


@register(
    "win_percent_cume",
    oracle="""
        SELECT o_custkey, o_orderkey,
               percent_rank() OVER w AS pct_rank,
               cume_dist()    OVER w AS cume
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice)
    """,
)
def win_percent_cume(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@register(
    "win_range_interval",
    oracle="""
        SELECT event_id, user_id, ts,
               count(*) OVER (
                 PARTITION BY user_id ORDER BY epoch_ns(ts)//1000
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
               ) AS n_prev_hour
        FROM events
    """,
)
def win_range_interval(spark, sf_dir):
    """Time-based RANGE frame: per user, how many of their events fell
    in the trailing hour (inclusive). The frame is value-based on the
    microsecond epoch, so ties (same ts) are peers — deterministic
    without a unique tiebreak, unlike ROWS frames."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events").withColumn(
        "us", F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_prev_hour"),
    )


@register(
    "win_first_last_nth",
    oracle="""
        SELECT event_id, user_id,
               first_value(event_id) OVER w AS first_event,
               last_value(event_id) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
               ) AS last_event,
               nth_value(event_id, 2) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
               ) AS second_event
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def win_first_last_nth(spark, sf_dir):
    """first/last/nth_value navigation. last/nth use the full-partition
    frame explicitly — the default ORDER BY frame stops at CURRENT ROW,
    where last_value degenerates to the current row (a classic window
    footgun both engines share). Unique (ts, event_id) ordering keeps
    every value deterministic."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    cur = Window.partitionBy("user_id").orderBy("ts", "event_id")
    full = cur.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return e.select(
        "event_id",
        "user_id",
        F.first("event_id").over(cur).alias("first_event"),
        F.last("event_id").over(full).alias("last_event"),
        F.nth_value("event_id", 2).over(full).alias("second_event"),
    )


@register(
    "win_gaps_islands",
    oracle="""
        WITH g AS (
          SELECT user_id, event_type, ts, event_id,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id)
               - row_number() OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts, event_id) AS grp
          FROM events
        )
        SELECT user_id, event_type, count(*) AS streak_len,
               min(ts) AS streak_start, max(ts) AS streak_end
        FROM g GROUP BY user_id, event_type, grp
        HAVING count(*) >= 3
    """,
)
def win_gaps_islands(spark, sf_dir):
    """Gaps-and-islands streak detection: runs of >=3 consecutive
    same-type events per user, via the double-row_number difference
    trick — one window pass + one aggregation, no self-joins."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    g = e.withColumn(
        "grp", F.row_number().over(w_all) - F.row_number().over(w_type)
    )
    return (
        g.groupBy("user_id", "event_type", "grp")
        .agg(
            F.count(F.lit(1)).alias("streak_len"),
            F.min("ts").alias("streak_start"),
            F.max("ts").alias("streak_end"),
        )
        .filter(F.col("streak_len") >= 3)
        .drop("grp")
    )


@register(
    "win_event_funnel",
    oracle="""
        WITH v AS (
          SELECT user_id, min(ts) FILTER (event_type = 'view') AS t_view
          FROM events GROUP BY user_id
        ),
        c AS (
          SELECT e.user_id, min(e.ts) AS t_click
          FROM events e JOIN v USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > v.t_view
          GROUP BY e.user_id
        ),
        p AS (
          SELECT e.user_id, min(e.ts) AS t_purchase
          FROM events e JOIN c USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > c.t_click
          GROUP BY e.user_id
        )
        SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
               1 + CAST(c.t_click IS NOT NULL AS INT)
                 + CAST(p.t_purchase IS NOT NULL AS INT) AS funnel_stage
        FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        WHERE v.t_view IS NOT NULL
    """,
)
def win_event_funnel(spark, sf_dir):
    """Ordered funnel analytics: view → first click AFTER the first
    view → first purchase AFTER that click, per user, with the stage
    reached. Stage chaining is two conditional-agg joins (each stage
    filters on the previous stage's timestamp) — no per-user sorting
    in Python, no window over the whole history."""
    e = table(spark, sf_dir, "events")
    v = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view")
    ).filter(F.col("t_view").isNotNull())
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "t_view",
            "t_click",
            "t_purchase",
            (
                F.lit(1)
                + F.col("t_click").isNotNull().cast("int")
                + F.col("t_purchase").isNotNull().cast("int")
            ).alias("funnel_stage"),
        )
    )


@register(
    "win_event_transitions",
    oracle="""
        WITH s AS (
          SELECT user_id, event_type,
                 lead(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS next_type
          FROM events
        )
        SELECT event_type AS from_type, next_type AS to_type,
               count(*) AS n_transitions
        FROM s WHERE next_type IS NOT NULL
        GROUP BY 1, 2
    """,
)
def win_event_transitions(spark, sf_dir):
    """First-order event-transition (Markov) matrix: per-user event
    sequences ordered by (ts, event_id), adjacent pairs counted per
    (from, to) type. One window shuffle on user_id + one tiny grouped
    count — the path-analysis primitive behind funnel discovery and
    next-action models."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


@register(
    "win_time_weighted_avg",
    oracle="""
        WITH s AS (
          SELECT user_id,
                 CAST(round(value*100) AS BIGINT) AS cents,
                 (epoch_ns(ts) // 1000000000) AS ts_s,
                 lead((epoch_ns(ts) // 1000000000))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_s
          FROM events
        )
        SELECT user_id,
               CAST(sum(next_s - ts_s) AS BIGINT) AS total_seconds,
               CAST(sum(cents * (next_s - ts_s)) AS BIGINT) / 100.0
                 / CAST(sum(next_s - ts_s) AS BIGINT) AS twap
        FROM s WHERE next_s IS NOT NULL
        GROUP BY user_id
        HAVING sum(next_s - ts_s) > 0
    """,
)
def win_time_weighted_avg(spark, sf_dir):
    """Time-weighted average value per user (TWAP): each observation
    weighted by how long it was current (seconds to the next event).
    The timeseries aggregation sensor/finance pipelines need, which a
    plain avg() gets wrong under irregular sampling. Determinism: the
    weights and scaled values are exact integers, so the shuffled sums
    are order-independent; the only float math is the identical final
    division sequence in both engines."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_s = F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000000")
    s = e.select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        ts_s.alias("ts_s"),
    ).withColumn("next_s", F.lead("ts_s").over(w))
    dt = F.col("next_s") - F.col("ts_s")
    return (
        s.filter(F.col("next_s").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(dt).alias("total_seconds"),
            F.sum(F.col("cents") * dt).alias("wsum"),
        )
        .filter(F.col("total_seconds") > 0)
        .select(
            "user_id",
            "total_seconds",
            (
                F.col("wsum").cast("double")
                / F.lit(100.0)
                / F.col("total_seconds")
            ).alias("twap"),
        )
    )


@register(
    "win_pct_of_total",
    oracle="""
        WITH nat AS (
          SELECT c.c_nationkey,
                 sum(CAST(round(o.o_totalprice*100) AS BIGINT)) AS cents
          FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
          GROUP BY c.c_nationkey
        )
        SELECT c_nationkey, cents / 100.0 AS nation_rev,
               CAST(cents AS DOUBLE)
                 / CAST(sum(cents) OVER () AS DOUBLE) AS pct_of_total
        FROM nat
        ORDER BY c_nationkey
    """,
)
def win_pct_of_total(spark, sf_dir):
    """Share-of-total: per-nation revenue over the global total via an
    unpartitioned window ON THE POST-AGG RELATION (25 rows), never on
    the fact table — the aggregate shrinks first, so the single-
    partition window is trivially cheap at any scale. Both the nation
    sums and the total are exact integer-cent sums; the final division
    is one IEEE op on identical operands in both engines."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    nat = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * F.lit(100.0)).cast("long"))
            .alias("cents")
        )
    )
    w = Window.partitionBy()
    return nat.select(
        "c_nationkey",
        (F.col("cents") / F.lit(100.0)).alias("nation_rev"),
        (
            F.col("cents").cast("double")
            / F.sum("cents").over(w).cast("double")
        ).alias("pct_of_total"),
    ).orderBy("c_nationkey")


@register(
    "ts_gap_fill",
    oracle="""
        WITH hourly AS (
          SELECT user_id, date_trunc('hour', ts) AS hr,
                 CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents,
                 count(*) AS n
          FROM events WHERE user_id < 50 GROUP BY 1, 2
        ),
        bounds AS (SELECT user_id, min(hr) mn, max(hr) mx FROM hourly GROUP BY 1),
        grid AS (
          SELECT b.user_id, g.g AS hr
          FROM bounds b, unnest(generate_series(b.mn, b.mx, INTERVAL 1 HOUR)) g(g)
        ),
        j AS (
          SELECT g.user_id, g.hr, h.cents * 1.0 / h.n / 100.0 AS obs
          FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hr = h.hr
        ),
        w AS (
          SELECT user_id, hr, obs,
            last_value(obs IGNORE NULLS) OVER wp AS prev_v,
            last_value(CASE WHEN obs IS NOT NULL THEN hr END IGNORE NULLS)
              OVER wp AS prev_hr,
            first_value(obs IGNORE NULLS) OVER wf AS next_v,
            first_value(CASE WHEN obs IS NOT NULL THEN hr END IGNORE NULLS)
              OVER wf AS next_hr
          FROM j
          WINDOW
            wp AS (PARTITION BY user_id ORDER BY hr
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
            wf AS (PARTITION BY user_id ORDER BY hr
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT user_id, hr,
               CASE WHEN obs IS NOT NULL THEN 1 ELSE 0 END AS observed,
               CAST(floor((CASE WHEN obs IS NOT NULL THEN obs
                            ELSE prev_v + (next_v - prev_v)
                                 * (epoch(hr) - epoch(prev_hr))
                                 / (epoch(next_hr) - epoch(prev_hr)) END)
                           * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
                 AS value_filled
        FROM w ORDER BY user_id, hr
    """,
)
def ts_gap_fill(spark, sf_dir):
    """Hypertable-style gap-fill: linearly interpolate missing hours of
    each user's hourly series between the surrounding observations.

    Round-5 single-pass spelling: instead of densifying the grid and
    running TWO ignore-nulls window passes over it (the first
    spelling — norm ~10.6), interpolation runs against the SPARSE
    observed series only: one lead() window over the per-(user,hour)
    aggregate gives each observation its successor, then each
    [obs, next_obs) segment explodes into its missing hours with both
    interpolation bounds already in hand. The window input shrinks
    from |grid| (every user-hour) to |observations|, and the
    grid-vs-hourly join disappears entirely — the dense rows only
    ever exist inside the final projection.

    Determinism: hourly means come from exact integer cent sums; the
    interpolation is the identical scalar expression in both engines.
    Scale shape: segments explode off per-observation rows (never a
    global calendar cross-join); one shuffle for the hourly agg, one
    for the lead window on the same key."""
    e = table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    hourly = (
        e.select("user_id", F.date_trunc("hour", "ts").alias("hr"), "value")
        .groupBy("user_id", "hr")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "user_id",
            "hr",
            (F.col("cents") * F.lit(1.0) / F.col("n") / F.lit(100.0)).alias(
                "obs"
            ),
        )
    )
    w = Window.partitionBy("user_id").orderBy("hr")
    seg = hourly.select(
        "user_id",
        "hr",
        "obs",
        F.lead("hr").over(w).alias("nx_hr"),
        F.lead("obs").over(w).alias("nx_v"),
    )
    # each segment emits its own hour plus the gap hours before the
    # next observation; the last observation (nx_hr NULL) emits itself
    out = seg.select(
        "user_id",
        "hr",
        "obs",
        "nx_hr",
        "nx_v",
        F.explode(
            F.expr(
                "sequence(hr, coalesce(nx_hr - interval 1 hour, hr),"
                " interval 1 hour)"
            )
        ).alias("out_hr"),
    )
    interp = F.col("obs") + (F.col("nx_v") - F.col("obs")) * (
        F.col("out_hr").cast("long") - F.col("hr").cast("long")
    ) / (F.col("nx_hr").cast("long") - F.col("hr").cast("long"))
    return (
        out.select(
            "user_id",
            F.col("out_hr").alias("hr"),
            F.when(F.col("out_hr") == F.col("hr"), 1).otherwise(0).alias(
                "observed"
            ),
            (
                F.floor(
                    F.when(F.col("out_hr") == F.col("hr"), F.col("obs"))
                    .otherwise(interp)
                    * 1000000.0
                    + 0.5
                )
                / 1000000.0
            ).alias("value_filled"),
        )
        .orderBy("user_id", "hr")
    )


@register(
    "win_running_distinct",
    oracle="""
        WITH flagged AS (
          SELECT event_id, user_id, ts,
                 CASE WHEN row_number() OVER (
                        PARTITION BY user_id, event_type
                        ORDER BY ts, event_id) = 1
                      THEN 1 ELSE 0 END AS first_seen
          FROM events
        )
        SELECT event_id, user_id,
               CAST(sum(first_seen) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS distinct_types_so_far
        FROM flagged
        ORDER BY user_id, event_id
        LIMIT 5000
    """,
)
def win_running_distinct(spark, sf_dir):
    """Running COUNT(DISTINCT) over an ordered per-user stream —
    neither engine supports DISTINCT aggregates in a window frame,
    so it is decomposed into two plain windows: a first-occurrence
    flag (row_number over the (user, type) sub-partition) and a
    running sum of flags. An explicit repartition on user_id feeds
    BOTH windows: HashPartitioning(user_id) satisfies the
    (user_id, event_type) clustering too, so EnsureRequirements
    inserts no further Exchange — one shuffle total (plan-asserted
    in tests/test_plans.py). The pattern is the scalable form:
    state per group is a counter, not a growing set (vs collect_set
    over a frame, which buffers every distinct value per row at
    100 TB)."""
    e = table(spark, sf_dir, "events").repartition(F.col("user_id"))
    w_first = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = e.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.row_number().over(w_first) == 1, 1)
        .otherwise(0)
        .alias("first_seen"),
    )
    return (
        flagged.select(
            "event_id",
            "user_id",
            F.sum("first_seen").over(w_run).cast("long").alias(
                "distinct_types_so_far"
            ),
        )
        .orderBy("user_id", "event_id")
        .limit(5000)
    )


@register(
    "events_interarrival_stats",
    oracle="""
        WITH gaps AS (
          SELECT event_type,
                 epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id) AS gap_us
          FROM events
        )
        SELECT event_type,
               count(gap_us) AS n_gaps,
               CAST(sum(gap_us) AS BIGINT) AS total_gap_us,
               round(CAST(sum(gap_us) AS DOUBLE) / count(gap_us) / 1000000.0, 6)
                 AS avg_gap_s,
               CAST(max(gap_us) AS BIGINT) AS max_gap_us,
               CAST(min(gap_us) AS BIGINT) AS min_gap_us
        FROM gaps
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def events_interarrival_stats(spark, sf_dir):
    """Per-type inter-arrival-time statistics (rate/burstiness
    profiling): lag() over the event-time order inside each type,
    then one aggregation of the integer-microsecond gaps — sums and
    extrema are exact int64 arithmetic, the only double op is the
    final single division. At scale both the window and the agg
    partition on event_type; the window's sort is the only
    per-partition cost (no driver state)."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    # unix_micros requires TIMESTAMP (LTZ); the NTZ→LTZ cast is a
    # wall-clock no-op under the UTC session timezone.
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gaps = e.select(
        "event_type", (us - F.lag(us).over(w)).alias("gap_us")
    )
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count("gap_us").alias("n_gaps"),
            F.sum("gap_us").cast("long").alias("total_gap_us"),
            F.round(
                F.sum("gap_us").cast("double") / F.count("gap_us") / 1000000.0,
                6,
            ).alias("avg_gap_s"),
            F.max("gap_us").cast("long").alias("max_gap_us"),
            F.min("gap_us").cast("long").alias("min_gap_us"),
        )
        .orderBy("event_type")
    )


@register(
    "win_sessionized_path",
    oracle="""
        WITH flagged AS (
          SELECT user_id, ts, event_id, event_type,
                 CASE WHEN epoch_us(ts)
                        - lag(epoch_us(ts)) OVER w > 1800000000
                      OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
          SELECT user_id, ts, event_id, event_type,
                 CAST(sum(new_s) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
                   AS BIGINT) AS session_no
          FROM flagged
        )
        SELECT user_id, session_no,
               count(*) AS n_events,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        FROM sess
        GROUP BY user_id, session_no
        HAVING count(*) >= 3
        ORDER BY user_id, session_no
    """,
)
def win_sessionized_path(spark, sf_dir):
    """Clickstream path analysis: 30-minute-gap sessionization (the
    batch twin of session_window) followed by the ordered event-type
    path string per session — the input to funnel mining and
    next-action models. The gap flag + running sum reuse ONE
    user_id partitioning (same single-shuffle discipline as
    win_running_distinct); the path is built with Spark 4's native
    `listagg(event_type, '>') WITHIN GROUP (ORDER BY ts, event_id)`
    — a first-class JVM ordered aggregate, the direct analogue of
    DuckDB's string_agg ORDER BY. (Rounds 1-3 spelled this as
    array_sort(collect_list(struct)) + transform — two interpreted
    higher-order-function evals plus a 3-field struct per event in
    aggregation state; BENCH_r03 showed it spiking 9.7x under suite
    memory pressure. listagg keeps only (value, sort-key) pairs and
    sorts natively at eval — VERDICT r3 #2.) The (ts, event_id)
    sort key is unique per user, so the path is deterministic on
    both engines. State per session is the event list — bounded by
    session length, the same bound the streaming session_window
    carries."""
    e = table(spark, sf_dir, "events").repartition(F.col("user_id"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(gap.isNull() | (gap > 1800000000), 1).otherwise(0).alias("new_s"),
    )
    w_run = w.rowsBetween(Window.unboundedPreceding, 0)
    sess = flagged.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum("new_s").over(w_run).cast("long").alias("session_no"),
    )
    path = F.expr(
        "listagg(event_type, '>') WITHIN GROUP (ORDER BY ts, event_id)"
    )
    return (
        sess.groupBy("user_id", "session_no")
        .agg(F.count(F.lit(1)).alias("n_events"), path.alias("path"))
        # threshold 3 (was 5): at the sf0.01 differential scale the
        # >=5 cut produced ZERO sessions, making the oracle's
        # value-hash vacuously true — the listagg path ordering was
        # never actually exercised (round-4 review finding). >=3
        # keeps 16 real multi-event paths in the differential.
        .filter(F.col("n_events") >= 3)
        .orderBy("user_id", "session_no")
    )


@register(
    "events_hourly_leaderboard",
    oracle="""
        WITH h AS (
          SELECT date_trunc('hour', ts) AS hr, event_type,
                 count(*) AS n,
                 count(DISTINCT user_id) AS n_users
          FROM events GROUP BY hr, event_type
        )
        SELECT CAST(hr AS VARCHAR) AS hr, event_type, n, n_users, rnk
        FROM (SELECT *, CAST(row_number() OVER (PARTITION BY hr
                     ORDER BY n DESC, event_type) AS BIGINT) AS rnk
              FROM h)
        WHERE rnk <= 3
        ORDER BY hr, rnk
    """,
)
def events_hourly_leaderboard(spark, sf_dir):
    """Per-hour top-3 event-type leaderboard — the windowed
    leaderboard pattern behind 'trending now' panels. Rank runs
    over the PRE-AGGREGATED (hour, type) relation (`hours × types`
    rows however large the input), and Catalyst's WindowGroupLimit
    keeps only 3 candidates per hour ahead of the final shuffle.
    The streaming twin is the same aggregation under a tumbling
    window + foreachBatch rank (rank-over-window isn't incremental;
    re-ranking the micro-batch's touched hours is)."""
    e = table(spark, sf_dir, "events")
    h = e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hr"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("user_id").alias("n_users"),
    )
    w = Window.partitionBy("hr").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        h.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select(
            F.col("hr").cast("string").alias("hr"),
            "event_type",
            "n",
            "n_users",
            "rnk",
        )
        .orderBy("hr", "rnk")
    )


@register(
    "events_new_vs_returning",
    oracle="""
        WITH firsts AS (
          SELECT user_id, min(CAST(ts AS DATE)) AS first_day
          FROM events GROUP BY user_id
        ), d AS (
          SELECT DISTINCT CAST(e.ts AS DATE) AS day, e.user_id,
                 (CAST(e.ts AS DATE) = f.first_day) AS is_new
          FROM events e JOIN firsts f ON e.user_id = f.user_id
        )
        SELECT CAST(day AS VARCHAR) AS day,
               count(*) FILTER (WHERE is_new) AS new_users,
               count(*) FILTER (WHERE NOT is_new) AS returning_users
        FROM d
        GROUP BY day
        ORDER BY day
    """,
)
def events_new_vs_returning(spark, sf_dir):
    """Daily new-vs-returning split — the acquisition/retention
    top-line. A user's first-ever day comes from one min()
    aggregation (broadcastable: one row per user); each active
    (day, user) pair is then classified by equality against it.
    Both aggregations are map-side combined; nothing scans events
    twice thanks to the self-join being against the REDUCED firsts
    relation, not raw events."""
    e = table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    firsts = e.groupBy("user_id").agg(F.min(day).alias("first_day"))
    d = (
        e.select(day.alias("day"), "user_id")
        .distinct()
        .join(firsts, "user_id")
        .select(
            "day", "user_id", (F.col("day") == F.col("first_day")).alias("is_new")
        )
    )
    return (
        d.groupBy("day")
        .agg(
            F.count_if(F.col("is_new")).alias("new_users"),
            F.count_if(~F.col("is_new")).alias("returning_users"),
        )
        .select(
            F.col("day").cast("string").alias("day"),
            "new_users",
            "returning_users",
        )
        .orderBy("day")
    )


@register(
    "win_rank_change",
    oracle="""
        WITH wk AS (
          SELECT date_trunc('week', ts) AS week, user_id, count(*) AS n
          FROM events GROUP BY week, user_id
        ), r AS (
          SELECT week, user_id, n,
                 CAST(row_number() OVER (PARTITION BY week
                        ORDER BY n DESC, user_id) AS BIGINT) AS rnk
          FROM wk
        )
        , lg AS (
          SELECT week, user_id, n, rnk,
                 lag(rnk) OVER (PARTITION BY user_id ORDER BY week) AS prev_rnk
          FROM r
        )
        SELECT CAST(week AS VARCHAR) AS week, user_id, n, rnk,
               prev_rnk, prev_rnk - rnk AS delta
        FROM lg
        WHERE rnk <= 10
        ORDER BY week, rnk
    """,
)
def win_rank_change(spark, sf_dir):
    """Week-over-week leaderboard movement: each week's top-10 users
    by event count, annotated with last week's rank and the delta
    (positive = climbed). Two stacked windows over the PRE-AGGREGATED
    (week, user) relation — rank within week, then lag along each
    user's week series — so window state is user×week sized, never
    event sized. The rnk<=10 filter must run AFTER the lag: a user's
    previous rank is their rank among ALL users that week, not among
    the survivors (filtering first would silently change semantics).
    row_number with the (n DESC, user_id) tiebreak keeps ranks unique
    and the hash deterministic."""
    e = table(spark, sf_dir, "events")
    wk = e.groupBy(
        F.date_trunc("week", F.col("ts")).alias("week"), F.col("user_id")
    ).agg(F.count(F.lit(1)).alias("n"))
    w_rank = Window.partitionBy("week").orderBy(F.desc("n"), F.asc("user_id"))
    w_lag = Window.partitionBy("user_id").orderBy("week")
    r = wk.withColumn("rnk", F.row_number().over(w_rank).cast("long"))
    return (
        r.withColumn("prev_rnk", F.lag("rnk").over(w_lag))
        .filter(F.col("rnk") <= 10)
        .select(
            F.col("week").cast("date").cast("string").alias("week"),
            "user_id",
            "n",
            "rnk",
            "prev_rnk",
            (F.col("prev_rnk") - F.col("rnk")).alias("delta"),
        )
        .orderBy("week", "rnk")
    )


@register(
    "win_drawdown",
    oracle="""
        WITH q AS (
          SELECT user_id, epoch_ns(ts) AS tsn, event_id,
                 CAST(round(value * 10000) AS BIGINT) AS v
          FROM events
        ),
        cum AS (
          SELECT user_id, tsn, event_id,
                 CAST(sum(v) OVER w AS BIGINT) AS cum
          FROM q
          WINDOW w AS (PARTITION BY user_id ORDER BY tsn, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        c AS (
          SELECT user_id, cum,
                 CAST(max(cum) OVER w AS BIGINT) AS run_max
          FROM cum
          WINDOW w AS (PARTITION BY user_id ORDER BY tsn, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT user_id,
               round(CAST(max(run_max - cum) AS DOUBLE) / 10000, 6)
                 AS max_drawdown,
               round(CAST(max(cum) AS DOUBLE) / 10000, 6) AS peak_cum
        FROM c
        GROUP BY user_id
        ORDER BY max_drawdown DESC, user_id
        LIMIT 25
    """,
)
def win_drawdown(spark, sf_dir):
    """Per-user maximum drawdown of the cumulative value series — the
    risk metric ported from finance to any running-total telemetry
    (deepest dip below the high-water mark). Three stacked frames over
    each user's event series: running sum, running max of that sum,
    then a plain max of the gap. Every accumulation runs on EXACT
    integer 1e-4 units — a double cumsum would be shuffle-order-
    dependent — and (ts, event_id) makes the frame order unique, so
    the series (not just its multiset) is deterministic. Window state
    is O(1) per row; one shuffle on user_id serves all three frames."""
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = e.select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 10000).cast("long").alias("v"),
    ).select(
        "user_id",
        "ts",
        "event_id",
        F.sum("v").over(w).alias("cum"),
    )
    c = c.withColumn("run_max", F.max("cum").over(w))
    return (
        c.groupBy("user_id")
        .agg(
            F.round(
                F.max(F.col("run_max") - F.col("cum")).cast("double") / 10000, 6
            ).alias("max_drawdown"),
            F.round(F.max("cum").cast("double") / 10000, 6).alias("peak_cum"),
        )
        .orderBy(F.desc("max_drawdown"), F.asc("user_id"))
        .limit(25)
    )


@register(
    "win_rolling_zscore",
    oracle="""
        WITH q AS (
          SELECT event_id, user_id, epoch_ns(ts) AS tsn,
                 CAST(round(value * 10000) AS BIGINT) AS v
          FROM events
        ),
        w AS (
          SELECT event_id, user_id, v,
                 count(*) OVER fr AS n,
                 CAST(sum(v) OVER fr AS BIGINT) AS s,
                 CAST(sum(v * v) OVER fr AS BIGINT) AS q2
          FROM q
          WINDOW fr AS (PARTITION BY user_id ORDER BY tsn, event_id
                        ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
        )
        SELECT event_id, user_id,
               round((v - CAST(s AS DOUBLE) / n)
                     / sqrt((CAST(q2 AS DOUBLE)
                             - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                            / (n - 1)), 6) AS z
        FROM w
        WHERE n >= 8
          AND (CAST(q2 AS DOUBLE)
               - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1) > 0
          AND abs((v - CAST(s AS DOUBLE) / n)
                  / sqrt((CAST(q2 AS DOUBLE)
                          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                         / (n - 1))) > 2.5
        ORDER BY event_id
    """,
)
def win_rolling_zscore(spark, sf_dir):
    """Rolling-window anomaly score: each event's value z-scored
    against the SAME user's trailing 24 observations — the adaptive
    baseline that a global z-score (flow_zscore_anomaly) can't give a
    drifting series. One window frame accumulates exact integer
    (count, Σv, Σv²) partials simultaneously; z is derived through an
    identical scalar double expression in both engines, so results
    are bit-stable at any parallelism. Flags |z| > 2.5 after an 8-row
    warmup. One shuffle on user_id; O(1) frame state per row."""
    e = table(spark, sf_dir, "events")
    fr = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-23, Window.currentRow)
    )
    v = F.round(F.col("value") * 10000).cast("long")
    w = e.select("event_id", "user_id", "ts", v.alias("v")).select(
        "event_id",
        "user_id",
        "v",
        F.count(F.lit(1)).over(fr).alias("n"),
        F.sum("v").over(fr).alias("s"),
        F.sum(F.col("v") * F.col("v")).over(fr).alias("q2"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = (
        F.col("q2").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
    ) / (F.col("n") - 1)
    z = (F.col("v") - mean) / F.sqrt(var)
    return (
        w.filter((F.col("n") >= 8) & (var > 0) & (F.abs(z) > 2.5))
        .select("event_id", "user_id", F.round(z, 6).alias("z"))
        .orderBy("event_id")
    )


@register(
    "win_rolling_median",
    oracle="""
        WITH q AS (
          SELECT event_id, user_id, epoch_ns(ts) AS tsn,
                 CAST(round(value * 10000) AS BIGINT) AS v
          FROM events
        )
        SELECT event_id, user_id,
               round(v / 10000.0, 6) AS value_q,
               round(median(v) OVER (PARTITION BY user_id ORDER BY tsn, event_id
                                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                     / 10000.0, 6) AS med7
        FROM q
        ORDER BY event_id
    """,
)
def win_rolling_median(spark, sf_dir):
    """7-row rolling median per user — the robust smoother (Hampel/
    median-filter family) that a rolling mean can't give: one outlier
    shifts a mean by its full weight but leaves the median untouched.
    Runs on quantized 1e-4 integer units, so each window's median is
    either an integer or an exact x.5 midpoint — bit-identical across
    engines, where a double-valued median could differ in the
    interpolation arithmetic. Frame order (ts, event_id) is unique;
    O(window) state per row, one shuffle on user_id."""
    e = table(spark, sf_dir, "events")
    fr = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    v = F.round(F.col("value") * 10000).cast("long")
    # Spark refuses median() over a framed window; the frame's values
    # are gathered with collect_list (bounded: 7 elements) and the
    # median is picked from the sorted array — same exact math.
    arr = F.sort_array(F.collect_list("v").over(fr))
    s = F.size(arr)
    mid_hi = F.element_at(arr, (s / 2 + 1).cast("int"))
    med = (
        F.when(
            s % 2 == 1,
            F.element_at(arr, ((s + 1) / 2).cast("int")).cast("double"),
        ).otherwise(
            (
                F.element_at(arr, (s / 2).cast("int")) + mid_hi
            ).cast("double")
            / 2.0
        )
    )
    return (
        e.select("event_id", "user_id", "ts", v.alias("v"))
        .select(
            "event_id",
            "user_id",
            F.round(F.col("v") / 10000.0, 6).alias("value_q"),
            F.round(med / 10000.0, 6).alias("med7"),
        )
        .orderBy("event_id")
    )


@register(
    "ts_ohlc_bars",
    oracle="""
        WITH r AS (
          SELECT user_id, date_trunc('hour', ts) AS hr0, value,
                 row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                    ORDER BY ts, event_id) AS rn_a,
                 row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                    ORDER BY ts DESC, event_id DESC) AS rn_d
          FROM events WHERE user_id < 40
        )
        SELECT user_id, strftime(hr0, '%Y-%m-%d %H:00') AS hr,
               max(CASE WHEN rn_a = 1 THEN value END) AS open,
               max(value) AS high,
               min(value) AS low,
               max(CASE WHEN rn_d = 1 THEN value END) AS close,
               count(*) AS n_ticks
        FROM r GROUP BY 1, 2
    """,
)
def ts_ohlc_bars(spark, sf_dir):
    """OHLC bar resampling — the canonical time-series downsample
    (per-key, per-bucket open/high/low/close): ONE hash aggregation
    using Spark's native min_by/max_by with a composite (ts, event_id)
    struct ordering key, so first/last are deterministic even with
    tied timestamps and no window-sort pass is needed (the oracle
    spells the same semantics with row_number windows because DuckDB's
    arg_min cannot take a struct key). Map-side partial min_by/max_by
    makes this a single (user, hour)-keyed shuffle of 5 scalars per
    group at any scale — the resample that turns a raw 100 TB tick
    table into a dashboard-sized bar table."""
    e = table(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    hr = F.date_trunc("hour", "ts")
    return (
        e.select("user_id", hr.alias("hr0"), "ts", "event_id", "value")
        .groupBy("user_id", "hr0")
        .agg(
            F.expr("min_by(value, struct(ts, event_id))").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.expr("max_by(value, struct(ts, event_id))").alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .select(
            "user_id",
            F.date_format("hr0", "yyyy-MM-dd HH:00").alias("hr"),
            "open",
            "high",
            "low",
            "close",
            "n_ticks",
        )
    )


STL_PERIOD = 24  # hours — daily seasonality on the hourly series


@register(
    "ts_stl_decompose",
    oracle=f"""
        WITH hourly AS (
          SELECT date_trunc('hour', ts) AS hr,
                 CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS s
          FROM events GROUP BY 1
        ),
        idx AS (
          SELECT hr, s, epoch_ns(hr) // 3600000000000 AS hr_idx FROM hourly
        ),
        tr AS (
          SELECT hr, s, hr_idx,
                 CAST(sum(s) OVER w AS BIGINT) AS sum24,
                 count(*) OVER w AS cnt24
          FROM idx
          WINDOW w AS (ORDER BY hr_idx
                       RANGE BETWEEN 11 PRECEDING AND 12 FOLLOWING)
        ),
        det AS (
          SELECT hr, s,
                 CAST(round(1000000.0 * sum24 / {STL_PERIOD}.0) AS BIGINT)
                   AS trend_micro,
                 s * 1000000
                   - CAST(round(1000000.0 * sum24 / {STL_PERIOD}.0) AS BIGINT)
                   AS det_micro
          FROM tr WHERE cnt24 = {STL_PERIOD}
        ),
        sea AS (
          SELECT hour(hr) AS hod,
                 CAST(round(CAST(sum(det_micro) AS DOUBLE) / count(*))
                      AS BIGINT) AS seasonal_micro
          FROM det GROUP BY 1
        )
        SELECT d.hr, d.s AS s_cents, d.trend_micro, sea.seasonal_micro,
               d.det_micro - sea.seasonal_micro AS resid_micro
        FROM det d JOIN sea ON hour(d.hr) = sea.hod
        ORDER BY d.hr
    """,
)
def ts_stl_decompose(spark, sf_dir):
    """STL-style additive decomposition of the hourly revenue series:
    trend = centered {STL_PERIOD}-hour moving average, seasonal =
    per-hour-of-day mean of the detrended series, residual = the rest
    — the baseline behind 'is this hour anomalous FOR a 3am' alerts
    (compare the residual, not the raw value).

    Determinism discipline: the series is exact integer cents; the
    trend is quantized to micro-units from an exact 24-term integer
    window sum; the detrended series is then pure integer arithmetic,
    so the seasonal means aggregate EXACT integers and every output
    column is a bigint — no double ever crosses a shuffle.

    Scale shape: the heavy pass (events → hourly) is one map-side-
    combinable aggregation; the decomposition then runs over the
    720-row hourly aggregate, so its unpartitioned range window is a
    dim-sized frame, not a data-path bottleneck (with many series,
    partitionBy(series_id) restores full parallelism — the window is
    per-series by construction). The RANGE frame on the hour index —
    not ROWS — makes a missing hour shrink cnt24 below {STL_PERIOD}
    and drop the edge rows instead of silently averaging a wider
    time span."""
    e = table(spark, sf_dir, "events")
    hourly = (
        e.groupBy(F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("s"))
        .withColumn(
            "hr_idx", F.expr("unix_micros(CAST(hr AS TIMESTAMP)) div 3600000000")
        )
    )
    w = Window.orderBy("hr_idx").rangeBetween(-11, 12)
    tr = hourly.select(
        "hr",
        "s",
        F.sum("s").over(w).alias("sum24"),
        F.count(F.lit(1)).over(w).alias("cnt24"),
    ).filter(F.col("cnt24") == STL_PERIOD)
    trend_micro = F.round(1000000.0 * F.col("sum24") / float(STL_PERIOD)).cast(
        "long"
    )
    det = tr.select(
        "hr",
        "s",
        F.hour("hr").alias("hod"),
        trend_micro.alias("trend_micro"),
        (F.col("s") * 1000000 - trend_micro).alias("det_micro"),
    )
    # seasonal mean as a whole-partition window over hour-of-day: the
    # groupBy + join-back spelling re-derives the hourly aggregate on
    # both sides (two event scans — plan-tested away); the window
    # keeps one derivation and one scan
    whod = Window.partitionBy("hod")
    seasonal_micro = (
        F.round(
            F.sum("det_micro").over(whod).cast("double")
            / F.count(F.lit(1)).over(whod)
        )
        .cast("long")
        .alias("seasonal_micro")
    )
    return (
        det.select(
            "hr",
            F.col("s").alias("s_cents"),
            "trend_micro",
            seasonal_micro,
            "det_micro",
        )
        .select(
            "hr",
            "s_cents",
            "trend_micro",
            "seasonal_micro",
            (F.col("det_micro") - F.col("seasonal_micro")).alias("resid_micro"),
        )
        .orderBy("hr")
    )


HAMPEL_HALF = 7  # frame = 7 preceding .. 7 following
HAMPEL_K = 3  # flag beyond 3x MAD


@register(
    "win_hampel_outlier",
    oracle=f"""
        WITH base AS (
          SELECT event_id, user_id, ts,
                 CAST(round(value*100) AS BIGINT) AS cents
          FROM events WHERE user_id < 150
        ),
        framed AS (
          SELECT event_id, user_id, cents,
                 list_sort(list(cents) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN {HAMPEL_HALF} PRECEDING
                            AND {HAMPEL_HALF} FOLLOWING)) AS arr
          FROM base
        ),
        med AS (
          SELECT event_id, user_id, cents, arr, len(arr) AS n,
                 arr[(len(arr)+1)//2] + arr[len(arr)//2 + 1] AS med2
          FROM framed
        ),
        mad AS (
          SELECT event_id, user_id, cents, med2, n,
                 list_sort(list_transform(arr, a -> abs(2*a - med2))) AS devs
          FROM med
        )
        SELECT event_id, user_id, cents, med2,
               devs[(n+1)//2] + devs[n//2 + 1] AS mad2x
        FROM mad
        WHERE 2 * abs(2*cents - med2)
              > {HAMPEL_K} * (devs[(n+1)//2] + devs[n//2 + 1])
        ORDER BY user_id, event_id
    """,
)
def win_hampel_outlier(spark, sf_dir):
    """Hampel filter: flag events deviating more than {HAMPEL_K}x the
    rolling MAD from the rolling median — the robust outlier detector
    (a mean/stddev z-score lets one spike inflate its own baseline;
    median/MAD does not). Rolling median AND rolling MAD come from
    ONE collect_list per frame plus array HOFs (sort, transform) over
    the 15-element frame — no second window pass, no self-join.

    Integer-exactness: medians are kept doubled (sum of the two mid
    elements — equal for odd n), MAD quadrupled, and the flag
    predicate cross-multiplied (2*dev2 > K*mad2x), so every compared
    quantity is an exact bigint: no engine ever divides.

    Scale: per-user partitions shuffle once; the frame array is
    O(2*{HAMPEL_HALF}+1) per row regardless of data size. Bounded to
    a 10% user slice: Catalyst array HOFs are interpreted (not
    codegen'd), so the sort/transform/sort per row is the dominant
    cost — the demonstration doesn't need the full fan-out, and the
    full-table form is the same plan with the filter dropped."""
    e = table(spark, sf_dir, "events").filter(F.col("user_id") < 150)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-HAMPEL_HALF, HAMPEL_HALF)
    )
    framed = e.select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        "ts",
    ).select(
        "event_id",
        "user_id",
        "cents",
        F.sort_array(F.collect_list("cents").over(w)).alias("arr"),
    )
    n = F.size("arr")
    med2 = F.element_at("arr", ((n + 1) / 2).cast("int")) + F.element_at(
        "arr", (n / 2).cast("int") + 1
    )
    med = framed.select("event_id", "user_id", "cents", "arr", n.alias("n"), med2.alias("med2"))
    devs = F.array_sort(
        F.transform(F.col("arr"), lambda a: F.abs(2 * a - F.col("med2")))
    )
    mad = med.select(
        "event_id",
        "user_id",
        "cents",
        "med2",
        "n",
        devs.alias("devs"),
    )
    mad2x = F.element_at(
        "devs", ((F.col("n") + 1) / 2).cast("int")
    ) + F.element_at("devs", (F.col("n") / 2).cast("int") + 1)
    return (
        mad.select("event_id", "user_id", "cents", "med2", mad2x.alias("mad2x"))
        .filter(
            2 * F.abs(2 * F.col("cents") - F.col("med2"))
            > HAMPEL_K * F.col("mad2x")
        )
        .orderBy("user_id", "event_id")
    )


@register(
    "win_interval_concurrency",
    oracle="""
        WITH iv AS (
          SELECT user_id,
                 epoch_ns(ts) // 1000 AS s_us,
                 epoch_ns(ts) // 1000
                   + CAST(round(value) AS BIGINT) * 1000000 AS e_us,
                 event_id
          FROM events
        ),
        pts AS (
          SELECT user_id, s_us AS t, 1 AS delta, event_id FROM iv
          UNION ALL
          SELECT user_id, e_us AS t, -1 AS delta, event_id FROM iv
        ),
        run AS (
          SELECT user_id,
                 sum(delta) OVER (PARTITION BY user_id
                                  ORDER BY t, delta, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW) AS conc
          FROM pts
        )
        SELECT user_id, CAST(max(conc) AS BIGINT) AS peak_concurrency
        FROM run GROUP BY user_id ORDER BY user_id
    """,
)
def win_interval_concurrency(spark, sf_dir):
    """Peak interval concurrency per user (sweep line): each event
    spans [ts, ts + value seconds]; explode every interval into a
    +1 start / -1 end point, running-sum the deltas in time order,
    take the max — the classic max-overlap question (peak concurrent
    sessions/connections) that a self-join answers quadratically and
    the sweep line answers in one window pass.

    Tie discipline: points sort by (t, delta, event_id) so an
    interval ENDING at instant t is closed before one STARTING at t
    opens (delta -1 < +1 — touching intervals don't count as
    concurrent), and event_id makes the running prefix bit-identical
    across engines. All integer microseconds.

    Scale: explode doubles the rows; one shuffle on user_id; the
    running sum is a streaming frame (no buffering). Peak per key is
    then a map-side-combinable max."""
    e = table(spark, sf_dir, "events")
    iv = e.select(
        "user_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("s_us"),
        (
            F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
            + F.round("value").cast("long") * 1000000
        ).alias("e_us"),
        "event_id",
    )
    pts = iv.select(
        "user_id", F.col("s_us").alias("t"), F.lit(1).alias("delta"), "event_id"
    ).unionAll(
        iv.select(
            "user_id",
            F.col("e_us").alias("t"),
            F.lit(-1).alias("delta"),
            "event_id",
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "delta", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        pts.withColumn("conc", F.sum("delta").over(w))
        .groupBy("user_id")
        .agg(F.max("conc").alias("peak_concurrency"))
        .orderBy("user_id")
    )


# Target points per series for the LTTB downsampler.
LTTB_N_OUT = 24


def _lttb_area_sql(point_alias):
    """Exact-BIGINT m-scaled triangle area for one candidate point
    alias, against prev point `pp` and centroid sums `c`."""
    x = point_alias
    return (
        f"abs((pp.t_rel * c.mm - c.sum_t) * ({x}.v_u - pp.v_u)"
        f" - (pp.t_rel - {x}.t_rel) * (c.sum_v - pp.v_u * c.mm))"
    )


def _lttb_edge_sql(j):
    """Integer bucket edge j over the interior [1, n-1): exact at both
    ends (j=0 -> 1, j=n_out-2 -> n-1) with no float step anywhere."""
    return f"(1 + ({j} * (m.n - 2)) // {LTTB_N_OUT - 2})"


def _lttb_oracle_sql():
    """22-stage unrolled argmax chain: stage b picks bucket b's
    max-area point given stage b-1's pick (LTTB's sequential
    dependency), spelled as a NOT-EXISTS anti-join so no aggregate
    sits in the chain. Centroid sums are selection-independent, so
    they precompute in ONE grouped CTE."""
    n_out = LTTB_N_OUT
    stages = []
    for b in range(n_out - 2):
        lo, hi = _lttb_edge_sql(b), _lttb_edge_sql(b + 1)
        stages.append(f"""
    sel{b + 1} AS MATERIALIZED (
        SELECT s.user_id, p.idx AS prev
        FROM sel{b} s
        JOIN meta m ON m.user_id = s.user_id
        JOIN pts pp ON pp.user_id = s.user_id AND pp.idx = s.prev
        JOIN cent c ON c.user_id = s.user_id AND c.b = {b}
        JOIN pts p ON p.user_id = s.user_id
                  AND p.idx >= {lo} AND p.idx < {hi}
        WHERE NOT EXISTS (
            SELECT 1 FROM pts q
            WHERE q.user_id = s.user_id
              AND q.idx >= {lo} AND q.idx < {hi}
              AND ({_lttb_area_sql('q')} > {_lttb_area_sql('p')}
                   OR ({_lttb_area_sql('q')} = {_lttb_area_sql('p')}
                       AND q.idx < p.idx))))""")
    sel_union = "\n        UNION ALL ".join(
        f"SELECT user_id, prev AS idx FROM sel{b + 1}" for b in range(n_out - 2)
    )
    # centroid bucket of stage b is [edge(b+1), edge(b+2)) with the
    # LAST stage's upper end open to n (mirrors the pandas loop)
    return f"""
    WITH raw AS (
        SELECT user_id, epoch_ns(ts) // 1000 AS t_us, value, event_id
        FROM events),
    pts AS MATERIALIZED (
        SELECT user_id, t_us, value,
               row_number() OVER w - 1 AS idx,
               (t_us - min(t_us) OVER (PARTITION BY user_id)) // 1000000 AS t_rel,
               CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v_u
        FROM raw WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)),
    meta AS MATERIALIZED (
        SELECT user_id, count(*) AS n FROM pts GROUP BY user_id),
    cent AS MATERIALIZED (
        SELECT m.user_id, r.b,
               count(*) AS mm,
               CAST(sum(p.t_rel) AS BIGINT) AS sum_t,
               CAST(sum(p.v_u) AS BIGINT) AS sum_v
        FROM meta m
        CROSS JOIN unnest(range(0, {n_out - 2})) r(b)
        JOIN pts p ON p.user_id = m.user_id
                  AND p.idx >= (1 + ((r.b + 1) * (m.n - 2)) // {n_out - 2})
                  AND p.idx < (CASE WHEN r.b = {n_out - 3} THEN m.n
                               ELSE (1 + ((r.b + 2) * (m.n - 2)) // {n_out - 2}) END)
        WHERE m.n > {n_out}
        GROUP BY 1, 2),
    sel0 AS (SELECT user_id, CAST(0 AS BIGINT) AS prev
             FROM meta WHERE n > {n_out}),{",".join(stages)},
    picks AS (
        SELECT user_id, CAST(0 AS BIGINT) AS idx FROM meta WHERE n > {n_out}
        UNION ALL {sel_union}
        UNION ALL SELECT user_id, n - 1 AS idx FROM meta WHERE n > {n_out}
        UNION ALL SELECT p.user_id, p.idx FROM meta m
                  JOIN pts p ON p.user_id = m.user_id WHERE m.n <= {n_out})
    SELECT p.user_id, p.t_us, p.value
    FROM picks k JOIN pts p ON p.user_id = k.user_id AND p.idx = k.idx
"""


@register("ts_downsample_lttb", oracle=_lttb_oracle_sql())
def ts_downsample_lttb(spark, sf_dir, n_out: int = LTTB_N_OUT):
    """Largest-Triangle-Three-Buckets downsampling of each user's
    value series to ``n_out`` visually-representative points — the
    standard dashboard/charting reduction (Steinarsson 2013). Per
    bucket, keep the point that maximizes the triangle area with the
    previously kept point and the NEXT bucket's centroid; endpoints
    always survive, so spikes and trend reversals are preserved where
    uniform striding would average them away.

    Engine-exact by construction (upgraded from rows-only in round
    5): bucket edges are integer (1 + j*(n-2)//(n_out-2) — exact at
    both ends, no float step), time is second-resolution RELATIVE to
    the series start, values are milli-quantized BIGINTs, and the
    triangle area comparison is the m-scaled integer form
    |(t_prev*m − Σt)(v − v_prev) − (t_prev − t)(Σv − v_prev*m)| —
    worst-case ~5e16 at sf1, well inside int64 — so the pick set is
    identical in numpy and in the oracle's 22-stage unrolled argmax
    chain (LTTB's sequential dependency, one MATERIALIZED CTE per
    bucket, NOT-EXISTS argmax; centroid sums are
    selection-independent and precompute in one grouped CTE).

    LTTB is sequential within a series (each pick depends on the
    previous), so the per-series loop runs in pandas — but grouped by
    a bounded hash BUCKET of user_id (the udf_grouped_map
    high-cardinality fix: ~2 ms applyInPandas machinery per group
    makes 1500 tiny user-groups cost ~7× more than 64 buckets with a
    pandas sub-groupby inside). The numpy inner loop is O(n_out)
    buckets per series, each an O(bucket) vectorized argmax.
    tests/test_properties.py additionally pins size, endpoint
    retention, subset-of-input, and monotone timestamps. Scale: one
    shuffle on the bucket key; series length is bounded per key
    (monthly activity), and n_out caps the output at rows·n_out/len —
    the 100 TB use is exactly this (downsample billions of device
    series for serving)."""
    import numpy as np
    import pandas as pd

    def lttb_series(grp: pd.DataFrame) -> pd.DataFrame:
        t = grp["t_us"].to_numpy(dtype=np.int64)
        n = len(t)
        if n <= n_out:
            keep = np.arange(n)
        else:
            t_rel = (t - t[0]) // 1_000_000
            v_u = np.floor(
                grp["value"].to_numpy(dtype=np.float64) * 1000 + 0.5
            ).astype(np.int64)
            # integer bucket edges over the interior [1, n-1):
            # edge(j) = 1 + j*(n-2)//(n_out-2); j=n_out-2 lands on
            # n-1 exactly, so no float linspace and no special case
            edges = 1 + (
                np.arange(n_out - 1, dtype=np.int64) * (n - 2)
            ) // (n_out - 2)
            keep_list = [0]
            prev = 0
            for b in range(n_out - 2):
                lo, hi = edges[b], edges[b + 1]
                nlo, nhi = edges[b + 1], (edges[b + 2] if b + 2 < n_out - 1 else n)
                m = nhi - nlo
                sum_t = int(t_rel[nlo:nhi].sum())
                sum_v = int(v_u[nlo:nhi].sum())
                area = np.abs(
                    (int(t_rel[prev]) * m - sum_t) * (v_u[lo:hi] - v_u[prev])
                    - (t_rel[prev] - t_rel[lo:hi]) * (sum_v - int(v_u[prev]) * m)
                )
                prev = lo + int(np.argmax(area))
                keep_list.append(prev)
            keep_list.append(n - 1)
            keep = np.array(keep_list)
        return grp.iloc[keep][["user_id", "t_us", "value"]]

    def lttb_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["user_id", "t_us", "event_id"], kind="mergesort")
        return pd.concat(
            [lttb_series(g) for _, g in pdf.groupby("user_id", sort=False)],
            ignore_index=True,
        )

    e = table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("t_us"),
        "value",
        "event_id",
    )
    return e.groupBy(
        F.pmod(F.xxhash64("user_id"), F.lit(64)).alias("bucket")
    ).applyInPandas(lttb_bucket, schema="user_id bigint, t_us bigint, value double")


@register(
    "win_allen_interval_relations",
    oracle="""
        WITH iv AS (
          SELECT user_id,
                 (epoch_ns(ts) // 1000000000) AS s,
                 (epoch_ns(ts) // 1000000000)
                   + (CAST(json_extract_string(props, '$.k') AS BIGINT) % 7 + 1)
                     * 600 AS e,
                 event_id
          FROM events
        ),
        pair AS (
          SELECT user_id, s, e,
                 lead(s) OVER w AS s2, lead(e) OVER w AS e2
          FROM iv
          WINDOW w AS (PARTITION BY user_id ORDER BY s, e, event_id)
        ),
        rel AS (
          SELECT CASE
                   WHEN s = s2 AND e = e2 THEN 'equals'
                   WHEN e < s2 THEN 'before'
                   WHEN e = s2 THEN 'meets'
                   WHEN s = s2 AND e < e2 THEN 'starts'
                   WHEN s > s2 AND e < e2 THEN 'during'
                   WHEN s > s2 AND e = e2 THEN 'finishes'
                   WHEN s < s2 AND e > e2 THEN 'contains'
                   WHEN s = s2 AND e > e2 THEN 'started_by'
                   WHEN s < s2 AND e = e2 THEN 'finished_by'
                   ELSE 'overlaps'
                 END AS relation
          FROM pair WHERE s2 IS NOT NULL
        )
        SELECT relation, count(*) AS n FROM rel GROUP BY relation
    """,
)
def win_allen_interval_relations(spark, sf_dir):
    """Allen's interval-algebra classification of each user's
    consecutive event intervals — the temporal-logic vocabulary
    (before / meets / overlaps / starts / during / finishes /
    contains / equals ...) that interval reasoning, conflict detection
    and timeline QA are written in. Intervals get deterministic varied
    durations ((k%7+1)·10 min) so multiple relation classes actually
    fire; consecutive pairing is one lead() window per user ordered by
    (start, end, event_id) — fully tie-deterministic — and the
    classification is a single exhaustive CASE both engines state
    identically (integer epoch seconds, no float anywhere).

    Scale: one window pass partitioned by user, one map-side
    combinable count — the gaps-and-islands cost envelope. A full
    pairwise Allen matrix would be the interval self-join
    (join_theta_range's shape); consecutive-pair classification is
    the linear-cost production variant."""
    e = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    s = F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000000")
    iv = e.select(
        "user_id",
        s.alias("s"),
        (s + (k % 7 + 1) * 600).alias("e"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("s", "e", "event_id")
    pair = iv.select(
        "s",
        "e",
        F.lead("s").over(w).alias("s2"),
        F.lead("e").over(w).alias("e2"),
    ).filter(F.col("s2").isNotNull())
    s1, e1, s2, e2 = F.col("s"), F.col("e"), F.col("s2"), F.col("e2")
    relation = (
        F.when((s1 == s2) & (e1 == e2), "equals")
        .when(e1 < s2, "before")
        .when(e1 == s2, "meets")
        .when((s1 == s2) & (e1 < e2), "starts")
        .when((s1 > s2) & (e1 < e2), "during")
        .when((s1 > s2) & (e1 == e2), "finishes")
        .when((s1 < s2) & (e1 > e2), "contains")
        .when((s1 == s2) & (e1 > e2), "started_by")
        .when((s1 < s2) & (e1 == e2), "finished_by")
        .otherwise("overlaps")
    )
    return pair.groupBy(relation.alias("relation")).agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "win_rolling_corr",
    oracle="""
        WITH h AS (
          SELECT date_trunc('hour', ts) AS hr,
                 CAST(count(*) FILTER (WHERE event_type = 'purchase')
                      AS BIGINT) AS x,
                 CAST(count(*) FILTER (WHERE event_type = 'view')
                      AS BIGINT) AS y
          FROM events GROUP BY 1
        ),
        w AS (
          SELECT hr,
                 CAST(count(*) OVER fr AS BIGINT) AS n,
                 CAST(sum(x) OVER fr AS BIGINT) AS sx,
                 CAST(sum(y) OVER fr AS BIGINT) AS sy,
                 CAST(sum(x * y) OVER fr AS BIGINT) AS sxy,
                 CAST(sum(x * x) OVER fr AS BIGINT) AS sxx,
                 CAST(sum(y * y) OVER fr AS BIGINT) AS syy
          FROM h
          WINDOW fr AS (ORDER BY hr
                        ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
        )
        SELECT CAST(hr AS VARCHAR) AS hr, n AS n_hours,
               CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) = 0
                    THEN NULL
                    ELSE round(
                      CAST(n * sxy - sx * sy AS DOUBLE)
                      / sqrt(CAST((n * sxx - sx * sx)
                                  * (n * syy - sy * sy) AS DOUBLE)), 6)
               END AS corr_24h
        FROM w
    """,
)
def win_rolling_corr(spark, sf_dir):
    """Trailing-24-hour rolling Pearson correlation between the hourly
    purchase and view counts — the co-movement diagnostic behind
    "are these two metrics still coupled?". All five co-moment sums
    over the frame are EXACT int64 window sums (counts are integers);
    the correlation is one identical double expression over them —
    numerator and a single sqrt of the integer variance product — so
    only the final 6 dp rounding is needed for bit parity, with a
    NULL guard for zero-variance frames.

    Scale: the frame runs over the HOURLY spine (720 rows here; always
    tiny relative to events), produced by one map-side-combinable
    rollup. The unpartitioned ORDER BY hr window is single-task on the
    spine only — at 100 TB the same op runs per metric-pair key with
    partitionBy, keeping every task spine-sized."""
    e = table(spark, sf_dir, "events")
    h = e.groupBy(F.date_trunc("hour", "ts").alias("hr")).agg(
        F.count_if(F.col("event_type") == "purchase").alias("x"),
        F.count_if(F.col("event_type") == "view").alias("y"),
    )
    fr = Window.orderBy("hr").rowsBetween(-23, 0)
    w = h.select(
        "hr",
        F.count(F.lit(1)).over(fr).alias("n"),
        F.sum("x").over(fr).alias("sx"),
        F.sum("y").over(fr).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(fr).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(fr).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(fr).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    varprod = (n * F.col("sxx") - sx * sx) * (n * F.col("syy") - sy * sy)
    corr = F.when(varprod == 0, F.lit(None).cast("double")).otherwise(
        F.round(
            (n * F.col("sxy") - sx * sy).cast("double")
            / F.sqrt(varprod.cast("double")),
            6,
        )
    )
    return w.select(
        F.col("hr").cast("string").alias("hr"),
        F.col("n").alias("n_hours"),
        corr.alias("corr_24h"),
    )


@register(
    "win_skyline_frontier",
    oracle="""
        WITH pts AS (
          SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS spend_cents,
                 count(*) AS n_orders
          FROM orders GROUP BY o_custkey
        ),
        d AS (
          SELECT spend_cents, n_orders,
                 count(*) AS n_customers
          FROM pts GROUP BY 1, 2
        )
        SELECT a.spend_cents, a.n_orders, a.n_customers
        FROM d a
        WHERE NOT EXISTS (
          SELECT 1 FROM d b
          WHERE b.spend_cents >= a.spend_cents
            AND b.n_orders <= a.n_orders
            AND (b.spend_cents > a.spend_cents
                 OR b.n_orders < a.n_orders)
        )
    """,
)
def win_skyline_frontier(spark, sf_dir):
    """2-D skyline (Pareto frontier) of customers on (maximize total
    spend, minimize order count): a point survives iff no other point
    weakly beats it on both axes and strictly on one. The DataFrame
    spelling is the O(n log n) SORT-AND-SWEEP: order distinct points
    by spend descending (orders ascending as tiebreak) and keep a
    point iff its order count is STRICTLY below the running minimum of
    everything before it — each kept point is undominated by
    construction. The oracle is the textbook NOT EXISTS dominator
    anti-join, a genuinely different derivation, so the hash
    cross-checks the sweep against the quadratic definition.

    Scale: points collapse to the distinct (spend, orders) spine
    first (map-side-combinable); the sweep is one ordered window over
    that spine — at 100 TB the spine is grid-quantized or the sweep
    runs per partition key, versus the anti-join's O(n^2) blow-up."""
    o = table(spark, sf_dir, "orders")
    pts = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "spend_cents"
        ),
        F.count(F.lit(1)).alias("n_orders"),
    )
    d = pts.groupBy("spend_cents", "n_orders").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    sweep = Window.orderBy(
        F.desc("spend_cents"), F.asc("n_orders")
    ).rowsBetween(Window.unboundedPreceding, -1)
    flagged = d.withColumn("rmin", F.min("n_orders").over(sweep))
    return flagged.filter(
        F.col("rmin").isNull() | (F.col("n_orders") < F.col("rmin"))
    ).select("spend_cents", "n_orders", "n_customers")


@register(
    "win_vwap",
    oracle="""
        WITH d AS (
          SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS mon,
                 CAST(l_shipdate AS DATE) AS day,
                 CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                      AS BIGINT) AS cents,
                 CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
          FROM lineitem GROUP BY 1, 2
        )
        SELECT CAST(day AS VARCHAR) AS day,
               qty AS day_qty,
               CAST(sum(cents) OVER w AS BIGINT) AS mtd_cents,
               CAST(sum(qty) OVER w AS BIGINT) AS mtd_qty,
               round(CAST(sum(cents) OVER w AS DOUBLE)
                     / CAST(sum(qty) OVER w AS BIGINT) / 100.0, 6)
                 AS mtd_vwap
        FROM d
        WINDOW w AS (PARTITION BY mon ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def win_vwap(spark, sf_dir):
    """Month-to-date running volume-weighted average price: collapse
    lineitem to a (month, day) spine of exact integer cent and
    quantity sums, then one cumulative window per month partition and
    a single double division — the finance-desk VWAP shape, exact by
    construction (cumulative numerator and denominator are int64; no
    running division drift).

    Scale: the windowed pass runs on the day spine (≤31 rows per
    month partition), everything upstream map-side-combinable — the
    same two-tier shape as the other spine windows."""
    li = table(spark, sf_dir, "lineitem")
    d = li.groupBy(
        F.date_trunc("month", "l_shipdate").cast("date").alias("mon"),
        F.col("l_shipdate").cast("date").alias("day"),
    ).agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("long")
        ).alias("cents"),
        F.sum(F.col("l_quantity").cast("long")).alias("qty"),
    )
    w = (
        Window.partitionBy("mon")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    mtd_c = F.sum("cents").over(w)
    mtd_q = F.sum("qty").over(w)
    return d.select(
        F.col("day").cast("string").alias("day"),
        F.col("qty").alias("day_qty"),
        mtd_c.alias("mtd_cents"),
        mtd_q.alias("mtd_qty"),
        F.round(mtd_c.cast("double") / mtd_q / 100.0, 6).alias("mtd_vwap"),
    )


@register(
    "win_topk_with_ties",
    oracle="""
        WITH d AS (
          SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
                 CAST(o_orderdate AS DATE) AS day,
                 count(*) AS n_orders
          FROM orders GROUP BY 1, 2
        ),
        r AS (
          SELECT mon, day, n_orders,
                 rank() OVER (PARTITION BY mon
                              ORDER BY n_orders DESC) AS rnk
          FROM d
        )
        SELECT CAST(mon AS VARCHAR) AS mon, CAST(day AS VARCHAR) AS day,
               n_orders, CAST(rnk AS BIGINT) AS rnk
        FROM r WHERE rnk <= 3
    """,
)
def win_topk_with_ties(spark, sf_dir):
    """Top-k per group WITH TIES (rank() <= k), the semantic sibling
    of win_topk_per_group's row_number() spelling: when the k-th and
    (k+1)-th rows tie, BOTH survive — the correct contract for
    leaderboards and "busiest day" reports where an arbitrary
    tiebreak would silently drop a co-winner: the top-3 busiest days
    per month keep every day tied at rank 3, so months can
    legitimately return more than 3 rows.

    Scale: Spark plans rank()-filter with the same map-side
    WindowGroupLimit pushdown as row_number — only candidate rows
    cross the per-group shuffle; variable output size per group is
    the semantic cost the consumer opted into."""
    o = table(spark, sf_dir, "orders")
    d = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("mon"),
        F.col("o_orderdate").cast("date").alias("day"),
    ).agg(F.count(F.lit(1)).alias("n_orders"))
    w = Window.partitionBy("mon").orderBy(F.desc("n_orders"))
    return (
        d.withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            F.col("mon").cast("string").alias("mon"),
            F.col("day").cast("string").alias("day"),
            "n_orders",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


@register(
    "ts_alert_debounce",
    oracle="""
        WITH RECURSIVE
        d AS (
          SELECT CAST(ts AS DATE) AS day, count(*) AS c
          FROM events WHERE event_type = 'purchase' GROUP BY 1
        ),
        t AS (SELECT CAST(sum(c) AS BIGINT) AS s,
                     CAST(count(*) AS BIGINT) AS n FROM d),
        alerts AS (
          SELECT day,
                 CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i
          FROM d, t WHERE d.c * t.n * 10 > 11 * t.s
        ),
        rec AS (
          SELECT i, day, day AS last_kept, true AS kept
          FROM alerts WHERE i = 1
          UNION ALL
          SELECT a.i, a.day,
                 CASE WHEN a.day > rec.last_kept + 3 THEN a.day
                      ELSE rec.last_kept END,
                 a.day > rec.last_kept + 3
          FROM rec JOIN alerts a ON a.i = rec.i + 1
        )
        SELECT CAST(day AS VARCHAR) AS day FROM rec WHERE kept
    """,
)
def ts_alert_debounce(spark, sf_dir):
    """Alert debouncing with a cooldown — the pager-dedup rule every
    alerting system needs: among spike days (daily purchase count
    more than 10% above the mean, tested in EXACT integers:
    c*n*10 > 11*sum), keep an alert only if more than 3 days have
    passed since the LAST KEPT alert. This is genuinely sequential —
    suppression depends on which alerts were kept, not just on
    neighbors — so no window frame expresses it; the spelling is a
    JVM-side F.aggregate fold carrying (last_kept, kept[]) over the
    sorted spike days, and the oracle is a recursive CTE walking the
    identical rule.

    Scale: the fold runs over the ALERT-DAY spine (tiny by
    construction); everything upstream is a daily rollup. Per-key
    debouncing partitions the same fold by alert key."""
    e = table(spark, sf_dir, "events")
    d = e.filter(F.col("event_type") == "purchase").groupBy(
        F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    t = d.agg(
        F.sum("c").alias("s"), F.count(F.lit(1)).alias("n")
    )
    alerts = (
        d.crossJoin(F.broadcast(t))
        .filter(F.col("c") * F.col("n") * 10 > 11 * F.col("s"))
        .select("day")
    )
    ser = alerts.agg(F.sort_array(F.collect_list("day")).alias("days"))
    kept = F.expr(
        """
        aggregate(
          days,
          struct(CAST(NULL AS DATE) AS last, CAST(array() AS ARRAY<DATE>) AS kept),
          (acc, d) -> IF(acc.last IS NULL OR d > date_add(acc.last, 3),
                         struct(d AS last, array_append(acc.kept, d) AS kept),
                         acc),
          acc -> acc.kept
        )
        """
    )
    return ser.select(F.explode(kept).alias("day")).select(
        F.col("day").cast("string").alias("day")
    )


@register(
    "win_max_subarray_kadane",
    oracle="""
        WITH d AS (
          SELECT CAST(ts AS DATE) AS day, count(*) AS c
          FROM events WHERE event_type = 'purchase' GROUP BY 1
        ),
        t AS (SELECT CAST(sum(c) AS BIGINT) AS s,
                     CAST(count(*) AS BIGINT) AS n FROM d),
        dev AS (
          SELECT day, CAST(d.c * t.n - t.s AS BIGINT) AS dev
          FROM d, t
        ),
        pre AS (
          SELECT day, dev,
                 CAST(sum(dev) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS pfx
          FROM dev
        ),
        m AS (
          SELECT day, pfx,
                 CAST(coalesce(min(pfx) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS minpre
          FROM pre
        ),
        best AS (
          SELECT day AS end_day, pfx - minpre AS best_sum
          FROM m
        ),
        mx AS (SELECT CAST(max(best_sum) AS BIGINT) AS bs FROM best)
        SELECT mx.bs AS best_sum_scaled,
               CAST(min(best.end_day) AS VARCHAR) AS best_end_day,
               t.n AS n_days
        FROM best, mx, t
        WHERE best.best_sum = mx.bs
        GROUP BY mx.bs, t.n
    """,
)
def win_max_subarray_kadane(spark, sf_dir):
    """Maximum-sum contiguous stretch of above-average purchase days
    (Kadane's problem) WITHOUT the sequential fold: max subarray sum
    equals max over t of (prefix[t] − min prefix before t), so two
    ordered window passes over the day spine solve what looks like an
    inherently iterative algorithm — the hottest sales streak, in
    exact integers (deviations are scaled by n: dev = c·n − S, so no
    division touches the data). Earliest end-day breaks ties
    deterministically.

    Scale: both windows run on the day spine; the identity is the
    standard trick for turning sequential scan algorithms into
    distributed prefix aggregations."""
    e = table(spark, sf_dir, "events")
    d = e.filter(F.col("event_type") == "purchase").groupBy(
        F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    t = d.agg(F.sum("c").alias("s"), F.count(F.lit(1)).alias("n"))
    dev = d.crossJoin(F.broadcast(t)).select(
        "day",
        (F.col("c") * F.col("n") - F.col("s")).alias("dev"),
        "n",
    )
    wcum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wpre = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    pre = dev.select(
        "day", "n", F.sum("dev").over(wcum).alias("pfx")
    )
    m = pre.select(
        "day",
        "n",
        (
            F.col("pfx")
            - F.coalesce(F.min("pfx").over(wpre), F.lit(0))
        ).alias("best_sum"),
    )
    mx = m.agg(F.max("best_sum").alias("bs"))
    return (
        m.crossJoin(F.broadcast(mx))
        .filter(F.col("best_sum") == F.col("bs"))
        .agg(
            F.max("best_sum").alias("best_sum_scaled"),
            F.min(F.col("day").cast("string")).alias("best_end_day"),
            F.first("n").alias("n_days"),
        )
    )


@register(
    "win_yoy_growth",
    oracle="""
        WITH m AS (
          SELECT strftime(o_orderdate, '%Y-%m') AS month,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS rev_cents
          FROM orders GROUP BY 1
        )
        SELECT month, rev_cents,
               lag(rev_cents, 12) OVER (ORDER BY month) AS prev_year_cents,
               round(
                 100.0 * (rev_cents - lag(rev_cents, 12) OVER (ORDER BY month))
                 / lag(rev_cents, 12) OVER (ORDER BY month), 6
               ) AS yoy_pct
        FROM m
    """,
)
def win_yoy_growth(spark, sf_dir):
    """Year-over-year growth of monthly revenue: collapse orders to a
    month spine of exact cent sums, then lag(12) over the month order
    gives the same calendar month one year earlier; yoy_pct is one
    identical double expression over two exact int64 cells (NULL for
    the first twelve months, matching both engines' lag semantics).

    Scale: the classic two-level finance rollup — a map-side-combinable
    groupBy reduces the full fact table to a ~dozens-of-rows month
    spine, and the unpartitioned window runs on that spine only (never
    on the fact table), so the single-task window is a non-issue."""
    o = table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "rev_cents"
        )
    )
    w = Window.orderBy("month")
    prev = F.lag("rev_cents", 12).over(w)
    return m.select(
        "month",
        "rev_cents",
        prev.alias("prev_year_cents"),
        F.round(
            100.0 * (F.col("rev_cents") - prev) / prev, 6
        ).alias("yoy_pct"),
    )


@register(
    "win_bollinger_bands",
    oracle="""
        WITH d AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 CAST(round(
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) / 100.0
                 ) AS BIGINT) AS rev_usd
          FROM orders GROUP BY 1
        ),
        w AS (
          SELECT day, rev_usd,
                 CAST(count(*) OVER fr AS BIGINT) AS n_w,
                 CAST(sum(rev_usd) OVER fr AS BIGINT) AS s1,
                 CAST(sum(rev_usd * rev_usd) OVER fr AS BIGINT) AS s2
          FROM d
          WINDOW fr AS (
            ORDER BY day ROWS BETWEEN 19 PRECEDING AND CURRENT ROW
          )
        ),
        b AS (
          SELECT day, rev_usd,
                 CAST(s1 AS DOUBLE) / n_w AS mid,
                 sqrt(CAST(n_w * s2 - s1 * s1 AS DOUBLE)
                      / (CAST(n_w AS BIGINT) * (n_w - 1))) AS sd
          FROM w WHERE n_w = 20
        )
        SELECT CAST(day AS VARCHAR) AS day, rev_usd,
               round(mid, 6) AS mid,
               round(mid + 2 * sd, 6) AS upper_band,
               round(mid - 2 * sd, 6) AS lower_band,
               CAST(rev_usd > mid + 2 * sd OR rev_usd < mid - 2 * sd
                    AS BIGINT) AS breach
        FROM b
    """,
)
def win_bollinger_bands(spark, sf_dir):
    """Bollinger bands over daily revenue — the rolling mean ± 2σ
    volatility envelope with breach flags, the anomaly screen ops
    dashboards run on every business metric. Daily revenue is
    quantized to whole dollars (exact cents first, then one
    half-away-from-zero rounding) so the 20-day rolling sum AND sum
    of squares stay exact int64 even at 100 TB revenue magnitudes;
    mean, sample-σ, bands, and the breach comparison are identical
    double expressions over those ints in both engines — including
    the breach inequality, which therefore resolves identically.

    Scale: the fact table collapses map-side to the ~few-thousand-row
    day spine; the single-partition rolling window runs on the spine
    only, never on orders. Frames shorter than 20 days are excluded
    (warm-up period), matching the trading-convention definition."""
    o = table(spark, sf_dir, "orders")
    d = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.round(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            / 100.0
        )
        .cast("long")
        .alias("rev_usd")
    )
    fr = Window.orderBy("day").rowsBetween(-19, 0)
    w = d.select(
        "day",
        "rev_usd",
        F.count(F.lit(1)).over(fr).alias("n_w"),
        F.sum("rev_usd").over(fr).alias("s1"),
        F.sum(F.col("rev_usd") * F.col("rev_usd")).over(fr).alias("s2"),
    ).filter(F.col("n_w") == 20)
    mid = F.col("s1").cast("double") / F.col("n_w")
    sd = F.sqrt(
        (F.col("n_w") * F.col("s2") - F.col("s1") * F.col("s1")).cast(
            "double"
        )
        / (F.col("n_w") * (F.col("n_w") - 1))
    )
    b = w.select("day", "rev_usd", mid.alias("mid"), sd.alias("sd"))
    return b.select(
        F.col("day").cast("string").alias("day"),
        "rev_usd",
        F.round("mid", 6).alias("mid"),
        F.round(F.col("mid") + 2 * F.col("sd"), 6).alias("upper_band"),
        F.round(F.col("mid") - 2 * F.col("sd"), 6).alias("lower_band"),
        (
            (F.col("rev_usd") > F.col("mid") + 2 * F.col("sd"))
            | (F.col("rev_usd") < F.col("mid") - 2 * F.col("sd"))
        )
        .cast("long")
        .alias("breach"),
    )


@register(
    "win_high_water_mark",
    oracle="""
        WITH d AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS rev_cents
          FROM orders GROUP BY 1
        ),
        h1 AS (
          SELECT day, rev_cents,
                 CAST(max(rev_cents) OVER cum AS BIGINT) AS ath_cents
          FROM d
          WINDOW cum AS (
            ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
          )
        ),
        h AS (
          SELECT day, rev_cents, ath_cents,
                 max(CASE WHEN rev_cents = ath_cents THEN day END)
                   OVER cum AS ath_day
          FROM h1
          WINDOW cum AS (
            ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
          )
        )
        SELECT CAST(day AS VARCHAR) AS day, rev_cents, ath_cents,
               CAST(day - ath_day AS BIGINT) AS days_since_ath,
               round(CAST(rev_cents AS DOUBLE) / ath_cents, 6)
                 AS pct_of_ath
        FROM h
    """,
)
def win_high_water_mark(spark, sf_dir):
    """High-water-mark tracking over daily revenue — for every day,
    the all-time-high so far, how many days since it was set, and
    today's level as a fraction of it: the drawdown-monitoring view
    every metrics dashboard keeps ("revenue has been below peak for
    N days"). The ATH day is recovered without a self-join: a
    conditional MAX over a second cumulative pass picks the latest
    day whose revenue equals its running max (re-touching the high
    resets the clock, matching the business definition). All values
    are exact cent int64s; the only double is the final ratio.

    Scale: orders collapse map-side to the day spine; both cumulative
    windows run on the spine only. Two sequential cumulative
    window passes over the spine — O(spine), not O(spine²)."""
    o = table(spark, sf_dir, "orders")
    d = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "rev_cents"
        )
    )
    cum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    h1 = d.select(
        "day", "rev_cents", F.max("rev_cents").over(cum).alias("ath_cents")
    )
    h = h1.select(
        "day",
        "rev_cents",
        "ath_cents",
        F.max(
            F.when(F.col("rev_cents") == F.col("ath_cents"), F.col("day"))
        ).over(cum).alias("ath_day"),
    )
    return h.select(
        F.col("day").cast("string").alias("day"),
        "rev_cents",
        "ath_cents",
        F.datediff("day", "ath_day").cast("long").alias("days_since_ath"),
        F.round(
            F.col("rev_cents").cast("double") / F.col("ath_cents"), 6
        ).alias("pct_of_ath"),
    )


@register(
    "events_active_streaks",
    oracle="""
        WITH d AS (
          SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        ),
        mx AS (SELECT max(day) AS last_day FROM d),
        i AS (
          SELECT user_id, day,
                 day - CAST(row_number() OVER (
                   PARTITION BY user_id ORDER BY day
                 ) AS INT) AS island
          FROM d
        ),
        s AS (
          SELECT user_id, island,
                 CAST(count(*) AS BIGINT) AS len,
                 max(day) AS streak_end
          FROM i GROUP BY 1, 2
        )
        SELECT s.user_id,
               CAST(sum(len) AS BIGINT) AS n_active_days,
               CAST(count(*) AS BIGINT) AS n_streaks,
               CAST(max(len) AS BIGINT) AS longest_streak,
               CAST(coalesce(max(CASE WHEN s.streak_end = mx.last_day
                                      THEN len END), 0) AS BIGINT)
                 AS current_streak
        FROM s, mx GROUP BY s.user_id
    """,
)
def events_active_streaks(spark, sf_dir):
    """Consecutive-active-day streaks per user — the engagement
    metric behind "7-day streak" product mechanics: gaps-and-islands
    (day minus per-user row_number is constant within a consecutive
    run) over the distinct (user, day) activity table, rolled up to
    each user's active-day total, streak count, longest streak, and
    the streak still alive on the dataset's last day (0 if broken).
    All pure integer date arithmetic — no doubles anywhere.

    Scale: events collapse map-side to the user-day activity table
    (orders of magnitude below raw events); the row_number window
    partitions per user over that user's OWN days (≤ calendar
    length), so no global sort and no skewable single partition; both
    rollups are map-side-combinable."""
    e = table(spark, sf_dir, "events")
    d = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    mx = d.agg(F.max("day").alias("last_day"))
    w = Window.partitionBy("user_id").orderBy("day")
    i = d.select(
        "user_id",
        "day",
        F.date_sub("day", F.row_number().over(w)).alias("island"),
    )
    s = i.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len"),
        F.max("day").alias("streak_end"),
    )
    return (
        s.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.sum("len").alias("n_active_days"),
            F.count(F.lit(1)).alias("n_streaks"),
            F.max("len").alias("longest_streak"),
            F.coalesce(
                F.max(
                    F.when(
                        F.col("streak_end") == F.col("last_day"),
                        F.col("len"),
                    )
                ),
                F.lit(0),
            ).alias("current_streak"),
        )
    )


@register(
    "win_rolling_beta",
    oracle="""
        WITH d AS (
          SELECT CAST(ts AS DATE) AS day,
                 CAST(count(*) FILTER (WHERE event_type = 'view')
                      AS BIGINT) AS x,
                 CAST(coalesce(sum(CAST(round(value * 100) AS BIGINT))
                      FILTER (WHERE event_type = 'purchase'), 0)
                      AS BIGINT) AS y
          FROM events GROUP BY 1
        ),
        w AS (
          SELECT day, x, y,
                 CAST(count(*) OVER fr AS BIGINT) AS n_w,
                 CAST(sum(x) OVER fr AS BIGINT) AS sx,
                 CAST(sum(y) OVER fr AS BIGINT) AS sy,
                 CAST(sum(x * x) OVER fr AS BIGINT) AS sxx,
                 CAST(sum(x * y) OVER fr AS BIGINT) AS sxy
          FROM d
          WINDOW fr AS (
            ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
          )
        )
        SELECT CAST(day AS VARCHAR) AS day, x, y,
               round((CAST(n_w AS DOUBLE) * sxy
                      - CAST(sx AS DOUBLE) * sy)
                     / (CAST(n_w AS DOUBLE) * sxx
                        - CAST(sx AS DOUBLE) * sx), 6) AS beta,
               round((sy - (CAST(n_w AS DOUBLE) * sxy
                            - CAST(sx AS DOUBLE) * sy)
                           / (CAST(n_w AS DOUBLE) * sxx
                              - CAST(sx AS DOUBLE) * sx) * sx)
                     / n_w, 6) AS alpha
        FROM w WHERE n_w = 7
    """,
)
def win_rolling_beta(spark, sf_dir):
    """Rolling 7-day OLS beta of purchase revenue on view traffic —
    the moving sensitivity ("cents of purchases per extra view") that
    marketing-mix dashboards track for regime changes. Both daily
    series come from ONE conditional rollup of the fact table (views
    counted, purchase cents summed exactly); the four rolling
    co-moments are exact int64 window sums over the day spine, and
    beta/alpha are identical closed-form double expressions — the
    same denominator-cleared OLS normal equations as ml_ols_normal_eq,
    windowed. Warm-up frames (<7 days) are excluded.

    Scale: fact scan → day spine map-side; the rolling window runs on
    the spine only. The co-moment trick means NO per-window
    re-aggregation — rolling regression at rolling-sum cost."""
    e = table(spark, sf_dir, "events")
    d = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).alias("x"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100).cast("long"),
                )
            ),
            F.lit(0),
        ).alias("y"),
    )
    fr = Window.orderBy("day").rowsBetween(-6, 0)
    w = d.select(
        "day",
        "x",
        "y",
        F.count(F.lit(1)).over(fr).alias("n_w"),
        F.sum("x").over(fr).alias("sx"),
        F.sum("y").over(fr).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(fr).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).over(fr).alias("sxy"),
    ).filter(F.col("n_w") == 7)
    beta = (
        F.col("n_w").cast("double") * F.col("sxy")
        - F.col("sx").cast("double") * F.col("sy")
    ) / (
        F.col("n_w").cast("double") * F.col("sxx")
        - F.col("sx").cast("double") * F.col("sx")
    )
    return w.select(
        F.col("day").cast("string").alias("day"),
        "x",
        "y",
        F.round(beta, 6).alias("beta"),
        F.round(
            (F.col("sy") - beta * F.col("sx")) / F.col("n_w"), 6
        ).alias("alpha"),
    )


@register(
    "events_session_bounce_rate",
    oracle="""
        WITH f AS (
          SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        s AS (
          SELECT user_id, ts, sum(new_s) OVER (
            PARTITION BY user_id ORDER BY ts
            ROWS UNBOUNDED PRECEDING) AS sid
          FROM f
        ),
        sess AS (
          SELECT user_id, sid, CAST(min(ts) AS DATE) AS day,
                 count(*) AS n_events
          FROM s GROUP BY 1, 2
        )
        SELECT CAST(day AS VARCHAR) AS day,
               CAST(count(*) AS BIGINT) AS n_sessions,
               CAST(sum(CAST(n_events = 1 AS BIGINT)) AS BIGINT)
                 AS n_bounces,
               round(CAST(sum(CAST(n_events = 1 AS BIGINT)) AS DOUBLE)
                     / count(*), 6) AS bounce_rate
        FROM sess GROUP BY 1
    """,
)
def events_session_bounce_rate(spark, sf_dir):
    """Daily session bounce rate — single-event sessions over total
    sessions, the engagement-quality headline every web analytics
    suite leads with. Sessions are the registry's standard 30-minute
    gap islands (lag + running flag-sum per user, event_id tiebreak);
    a session's day is its START day, so sessions crossing midnight
    count once. Integer counting throughout; the rate is the only
    double.

    Scale: the sessionizing windows partition per user (no global
    sort, AQE-splittable), the session rollup is map-side-combinable
    on (user, sid), and the daily rollup is spine-sized — same
    contract as stream_tws_timers' batch twin."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    f = e.select(
        "user_id",
        "ts",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.col("ts") - F.lag("ts").over(w)
                > F.expr("INTERVAL 30 MINUTES")
            ),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    wc = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s = f.select("user_id", "ts", F.sum("new_s").over(wc).alias("sid"))
    sess = s.groupBy("user_id", "sid").agg(
        F.min("ts").cast("date").alias("day"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return sess.groupBy(F.col("day").cast("string").alias("day")).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum((F.col("n_events") == 1).cast("long")).alias("n_bounces"),
        F.round(
            F.sum((F.col("n_events") == 1).cast("long")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("bounce_rate"),
    )


@register(
    "win_leaderboard_rank_delta",
    oracle="""
        WITH d AS (
          SELECT CAST(ts AS DATE) AS day, event_type,
                 CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2
        ),
        r AS (
          SELECT day, event_type, n,
                 CAST(rank() OVER (PARTITION BY day
                   ORDER BY n DESC, event_type) AS BIGINT) AS rnk
          FROM d
        )
        SELECT CAST(day AS VARCHAR) AS day, event_type, n, rnk,
               CAST(lag(rnk) OVER (PARTITION BY event_type ORDER BY day)
                    AS BIGINT) AS prev_rnk,
               CAST(coalesce(lag(rnk) OVER (PARTITION BY event_type
                      ORDER BY day), rnk) - rnk AS BIGINT) AS rank_delta
        FROM r
    """,
)
def win_leaderboard_rank_delta(spark, sf_dir):
    """Leaderboard movement — each event type's daily volume rank and
    its day-over-day rank change (positive = climbed), the "movers
    and shakers" view trend dashboards lead with. Two orthogonal
    windows: rank-within-day (event_type tiebreak so tied volumes
    rank identically in both engines), then lag-across-days within
    each type; a type's first day shows delta 0, not NULL, matching
    the dashboard convention. Pure integer ranks and deltas.

    Scale: the fact table collapses map-side to the
    days × types spine; both windows run on that spine, each
    partitioned (by day, then by type), so no single-task global
    sort anywhere."""
    e = table(spark, sf_dir, "events")
    d = e.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    wr = Window.partitionBy("day").orderBy(
        F.desc("n"), F.asc("event_type")
    )
    r = d.select(
        "day", "event_type", "n", F.rank().over(wr).cast("long").alias("rnk")
    )
    wl = Window.partitionBy("event_type").orderBy("day")
    prev = F.lag("rnk").over(wl)
    return r.select(
        F.col("day").cast("string").alias("day"),
        "event_type",
        "n",
        "rnk",
        prev.cast("long").alias("prev_rnk"),
        (F.coalesce(prev, F.col("rnk")) - F.col("rnk"))
        .cast("long")
        .alias("rank_delta"),
    )


@register(
    "win_range_interval_frame",
    oracle="""
        WITH d AS (
          SELECT o_orderpriority AS prio,
                 CAST(CAST(o_orderdate AS DATE)
                      - DATE '1995-01-01' AS BIGINT) AS day_num,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS rev_cents
          FROM orders GROUP BY 1, 2
        )
        SELECT prio, day_num, rev_cents,
               CAST(sum(rev_cents) OVER (
                 PARTITION BY prio ORDER BY day_num
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS sum_7cal_days,
               CAST(sum(rev_cents) OVER (
                 PARTITION BY prio ORDER BY day_num
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS sum_7rows,
               CAST(count(*) OVER (
                 PARTITION BY prio ORDER BY day_num
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS n_days_in_range
        FROM d
    """,
)
def win_range_interval_frame(spark, sf_dir):
    """RANGE frames vs ROWS frames — the window-semantics distinction
    that silently corrupts trailing metrics on gappy series: a RANGE
    BETWEEN 6 PRECEDING frame covers the last 7 CALENDAR days
    (whatever rows exist there), while ROWS BETWEEN 6 PRECEDING
    covers the last 7 OBSERVED days regardless of how far back they
    reach. Both are emitted side by side per priority (per-priority
    day spines have real calendar gaps, so the two sums genuinely
    diverge — n_days_in_range shows where). Exact cent int64 sums
    throughout.

    Scale: orders collapse map-side to the per-priority day spine;
    both frames run partitioned on that spine. The integer day_num
    order key is what makes RANGE frames portable (Spark's
    rangeBetween requires a numeric/long order column)."""
    o = table(spark, sf_dir, "orders")
    d = o.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1995-01-01").cast("date"),
        ).cast("long").alias("day_num"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "rev_cents"
        )
    )
    rng = (
        Window.partitionBy("prio").orderBy("day_num").rangeBetween(-6, 0)
    )
    rows = (
        Window.partitionBy("prio").orderBy("day_num").rowsBetween(-6, 0)
    )
    return d.select(
        "prio",
        "day_num",
        "rev_cents",
        F.sum("rev_cents").over(rng).alias("sum_7cal_days"),
        F.sum("rev_cents").over(rows).alias("sum_7rows"),
        F.count(F.lit(1)).over(rng).alias("n_days_in_range"),
    )


@register(
    "win_weighted_moving_avg",
    oracle="""
        WITH d AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS rev_cents
          FROM orders GROUP BY 1
        ),
        l AS (
          SELECT day, rev_cents,
                 lag(rev_cents, 1) OVER w AS x1,
                 lag(rev_cents, 2) OVER w AS x2,
                 lag(rev_cents, 3) OVER w AS x3,
                 lag(rev_cents, 4) OVER w AS x4,
                 lag(rev_cents, 5) OVER w AS x5,
                 lag(rev_cents, 6) OVER w AS x6
          FROM d WINDOW w AS (ORDER BY day)
        )
        SELECT CAST(day AS VARCHAR) AS day, rev_cents,
               round((7.0 * rev_cents + 6 * x1 + 5 * x2 + 4 * x3
                      + 3 * x4 + 2 * x5 + 1 * x6) / 28.0, 6) AS wma7,
               round((CAST(rev_cents AS DOUBLE) + x1 + x2 + x3
                      + x4 + x5 + x6) / 7.0, 6) AS sma7
        FROM l WHERE x6 IS NOT NULL
    """,
)
def win_weighted_moving_avg(spark, sf_dir):
    """Linearly-weighted 7-day moving average (WMA, weights 7..1 over
    the trailing week, newest heaviest) next to the plain SMA — the
    responsiveness/smoothness trade every TA and ops dashboard
    exposes: WMA tracks turns ~2 days sooner, SMA rejects noise
    better. Plain window frames can't weight by recency, so the WMA
    is spelled as a closed-form combination of six lag() columns —
    all exact int64 cents until the two final divisions (identical
    double expressions). Warm-up rows drop identically in both
    engines.

    Scale: orders collapse map-side to the day spine; the single
    window pass (lags share one sort) runs on the spine only. For
    large windows the same pattern switches to two running-sum
    identities (WMA_t from cumulative sums), still O(spine)."""
    o = table(spark, sf_dir, "orders")
    d = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "rev_cents"
        )
    )
    w = Window.orderBy("day")
    lags = [F.lag("rev_cents", i).over(w).alias(f"x{i}") for i in range(1, 7)]
    l = d.select("day", "rev_cents", *lags).filter(
        F.col("x6").isNotNull()
    )
    wma = (
        7.0 * F.col("rev_cents")
        + 6 * F.col("x1")
        + 5 * F.col("x2")
        + 4 * F.col("x3")
        + 3 * F.col("x4")
        + 2 * F.col("x5")
        + 1 * F.col("x6")
    ) / 28.0
    sma = (
        F.col("rev_cents").cast("double")
        + F.col("x1")
        + F.col("x2")
        + F.col("x3")
        + F.col("x4")
        + F.col("x5")
        + F.col("x6")
    ) / 7.0
    return l.select(
        F.col("day").cast("string").alias("day"),
        "rev_cents",
        F.round(wma, 6).alias("wma7"),
        F.round(sma, 6).alias("sma7"),
    )


@register(
    "win_rsi_momentum",
    oracle="""
        WITH d AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS rev_cents
          FROM orders GROUP BY 1
        ),
        m AS (
          SELECT day, rev_cents,
                 rev_cents - lag(rev_cents) OVER (ORDER BY day) AS chg
          FROM d
        ),
        ud AS (
          SELECT day, rev_cents,
                 CAST(greatest(chg, 0) AS BIGINT) AS up,
                 CAST(greatest(-chg, 0) AS BIGINT) AS dn
          FROM m WHERE chg IS NOT NULL
        ),
        r AS (
          SELECT day, rev_cents,
                 CAST(count(*) OVER fr AS BIGINT) AS n_w,
                 CAST(sum(up) OVER fr AS BIGINT) AS sum_up,
                 CAST(sum(dn) OVER fr AS BIGINT) AS sum_dn
          FROM ud
          WINDOW fr AS (ORDER BY day
                        ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        )
        SELECT CAST(day AS VARCHAR) AS day, rev_cents,
               round(100.0 * sum_up / (sum_up + sum_dn), 6) AS rsi14,
               CAST(100 * sum_up > 70 * (sum_up + sum_dn) AS BIGINT)
                 AS overbought,
               CAST(100 * sum_up < 30 * (sum_up + sum_dn) AS BIGINT)
                 AS oversold
        FROM r WHERE n_w = 14
    """,
)
def win_rsi_momentum(spark, sf_dir):
    """14-day RSI (cutler's SMA form) over daily revenue — the
    mean-reversion oscillator: RSI = 100·gains/(gains+losses) over
    the trailing window, with the textbook 70/30 overbought/oversold
    bands. Up/down moves are exact int64 cent deltas, the band flags
    are PURE INTEGER cross-multiplied comparisons (100·up > 70·total)
    so signal days match bit-for-bit across engines, and only the
    displayed RSI is a double. Warm-up rows (<14 deltas) drop
    identically.

    Scale: day-spine rolling sums after a map-side fact collapse —
    same contract as win_bollinger_bands; Wilder's exponential
    variant would ride the ts_ewma_smooth fold instead."""
    o = table(spark, sf_dir, "orders")
    d = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "rev_cents"
        )
    )
    w = Window.orderBy("day")
    m = d.select(
        "day",
        "rev_cents",
        (F.col("rev_cents") - F.lag("rev_cents").over(w)).alias("chg"),
    ).filter(F.col("chg").isNotNull())
    ud = m.select(
        "day",
        "rev_cents",
        F.greatest(F.col("chg"), F.lit(0)).alias("up"),
        F.greatest(-F.col("chg"), F.lit(0)).alias("dn"),
    )
    fr = Window.orderBy("day").rowsBetween(-13, 0)
    r = ud.select(
        "day",
        "rev_cents",
        F.count(F.lit(1)).over(fr).alias("n_w"),
        F.sum("up").over(fr).alias("sum_up"),
        F.sum("dn").over(fr).alias("sum_dn"),
    ).filter(F.col("n_w") == 14)
    tot = F.col("sum_up") + F.col("sum_dn")
    return r.select(
        F.col("day").cast("string").alias("day"),
        "rev_cents",
        F.round(100.0 * F.col("sum_up") / tot, 6).alias("rsi14"),
        (100 * F.col("sum_up") > 70 * tot).cast("long").alias("overbought"),
        (100 * F.col("sum_up") < 30 * tot).cast("long").alias("oversold"),
    )


@register(
    "ts_seasonal_strength",
    oracle=f"""
        WITH hourly AS (
          SELECT date_trunc('hour', ts) AS hr,
                 CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS s
          FROM events GROUP BY 1
        ),
        idx AS (
          SELECT hr, s, epoch_ns(hr) // 3600000000000 AS hr_idx FROM hourly
        ),
        tr AS (
          SELECT hr, s, hr_idx,
                 CAST(sum(s) OVER w AS BIGINT) AS sum24,
                 count(*) OVER w AS cnt24
          FROM idx
          WINDOW w AS (ORDER BY hr_idx
                       RANGE BETWEEN 11 PRECEDING AND 12 FOLLOWING)
        ),
        det AS (
          SELECT hr, s,
                 CAST(round(1000000.0 * sum24 / {STL_PERIOD}.0) AS BIGINT)
                   AS trend_micro,
                 s * 1000000
                   - CAST(round(1000000.0 * sum24 / {STL_PERIOD}.0) AS BIGINT)
                   AS det_micro
          FROM tr WHERE cnt24 = {STL_PERIOD}
        ),
        sea AS (
          SELECT hour(hr) AS hod,
                 CAST(round(CAST(sum(det_micro) AS DOUBLE) / count(*))
                      AS BIGINT) AS seasonal_micro
          FROM det GROUP BY 1
        ),
        comp AS (
          SELECT d.det_micro - sea.seasonal_micro AS r,
                 (d.det_micro - sea.seasonal_micro) + sea.seasonal_micro
                   AS sr,
                 (d.det_micro - sea.seasonal_micro) + d.trend_micro AS tr2
          FROM det d JOIN sea ON hour(d.hr) = sea.hod
        ),
        m AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(r) AS BIGINT) AS mr,
                 CAST(sum(sr) AS BIGINT) AS msr,
                 CAST(sum(tr2) AS BIGINT) AS mtr
          FROM comp
        ),
        q AS (
          SELECT m.n,
                 CAST(sum(CAST(round(
                   (r - CAST(mr AS DOUBLE)/n) * (r - CAST(mr AS DOUBLE)/n)
                   / 1e12) AS BIGINT)) AS BIGINT) AS vr,
                 CAST(sum(CAST(round(
                   (sr - CAST(msr AS DOUBLE)/n) * (sr - CAST(msr AS DOUBLE)/n)
                   / 1e12) AS BIGINT)) AS BIGINT) AS vsr,
                 CAST(sum(CAST(round(
                   (tr2 - CAST(mtr AS DOUBLE)/n) * (tr2 - CAST(mtr AS DOUBLE)/n)
                   / 1e12) AS BIGINT)) AS BIGINT) AS vtr
          FROM comp, m GROUP BY m.n
        )
        SELECT n AS n_hours,
               round(greatest(0.0, 1.0 - CAST(vr AS DOUBLE) / vsr), 6)
                 AS f_seasonal,
               round(greatest(0.0, 1.0 - CAST(vr AS DOUBLE) / vtr), 6)
                 AS f_trend
        FROM q
    """,
)
def ts_seasonal_strength(spark, sf_dir):
    """Seasonal and trend STRENGTH (Hyndman's tsfeatures F-stats) of
    the hourly revenue series — the scalars that decide which
    forecasting model a series deserves: F_seasonal = max(0,
    1 − Var(resid)/Var(seasonal+resid)) and the trend analogue,
    computed over the registry's STL components (ts_stl_decompose's
    exact micro-int trend/seasonal/residual columns). The variance
    folds are two-pass: exact int64 component sums give the means,
    then each squared deviation — an identical double expression — is
    quantized to tera-units BEFORE the cross-row sum, so the fold is
    shuffle-order-proof and the F ratios are final identical doubles.

    Scale: everything after the events→hourly collapse runs on the
    ≤720-row component spine; with many series the same fold
    partitions by series_id."""
    stl = ts_stl_decompose(spark, sf_dir)
    comp = stl.select(
        F.col("resid_micro").alias("r"),
        (F.col("resid_micro") + F.col("seasonal_micro")).alias("sr"),
        (F.col("resid_micro") + F.col("trend_micro")).alias("tr2"),
    )
    m = comp.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r").alias("mr"),
        F.sum("sr").alias("msr"),
        F.sum("tr2").alias("mtr"),
    )

    def vfold(col, mean_col):
        dev = F.col(col) - F.col(mean_col).cast("double") / F.col("n")
        return F.sum(F.round(dev * dev / 1e12).cast("long"))

    q = comp.crossJoin(F.broadcast(m)).groupBy("n").agg(
        vfold("r", "mr").alias("vr"),
        vfold("sr", "msr").alias("vsr"),
        vfold("tr2", "mtr").alias("vtr"),
    )
    return q.select(
        F.col("n").alias("n_hours"),
        F.round(
            F.greatest(
                F.lit(0.0),
                1.0 - F.col("vr").cast("double") / F.col("vsr"),
            ),
            6,
        ).alias("f_seasonal"),
        F.round(
            F.greatest(
                F.lit(0.0),
                1.0 - F.col("vr").cast("double") / F.col("vtr"),
            ),
            6,
        ).alias("f_trend"),
    )


@register(
    "ts_changepoint_binseg",
    oracle="""
        WITH pts AS (
            SELECT user_id,
                   epoch_ns(ts) // 1000 AS t_us,
                   CAST(round(value) AS BIGINT) AS x,
                   row_number() OVER w AS k,
                   CAST(sum(CAST(round(value) AS BIGINT)) OVER (
                       PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS sl,
                   count(*) OVER (PARTITION BY user_id) AS n,
                   CAST(sum(CAST(round(value) AS BIGINT))
                        OVER (PARTITION BY user_id) AS BIGINT) AS s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)),
        scored AS (
            SELECT user_id, k, t_us, n, s, sl,
                   CAST(sl * sl AS DOUBLE) / k
                     + CAST((s - sl) * (s - sl) AS DOUBLE) / (n - k)
                     - CAST(s * s AS DOUBLE) / n AS gain
            FROM pts WHERE k < n),
        best AS (
            SELECT user_id, k AS cp_pos, gain,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY gain DESC, k) AS rn
            FROM scored)
        SELECT b.user_id, b.cp_pos, nx.t_us AS cp_t_us, b.gain
        FROM best b
        JOIN (SELECT user_id,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY epoch_ns(ts), event_id) AS k,
                     epoch_ns(ts) // 1000 AS t_us
              FROM events) nx
          ON nx.user_id = b.user_id AND nx.k = b.cp_pos + 1
        WHERE b.rn = 1
    """,
)
def ts_changepoint_binseg(spark, sf_dir):
    """Single-changepoint detection per user series (the first
    binary-segmentation step, Scott & Knott / ruptures' l2 cost):
    pick the split k maximizing the between-segment variance
    reduction Sl²/nl + Sr²/nr − S²/n — the mean-shift detector that
    complements ts_cusum_detect (which needs a known reference mean;
    this one finds WHERE the level shifts with no reference). Exact
    by construction: values round to BIGINTs, prefix/total sums are
    exact integers (|S| ≤ 4e6·1e3 — squares ≤ 1.6e13, inside double's
    2^53 integer range through sf1), and the score divisions are the
    identical IEEE ops in both engines, so the argmax — ties to the
    earliest split — value-hashes. Output: split position, the
    timestamp of the first right-segment row, and the gain.

    Scale: ONE window pass builds prefix sums (no per-split rescan —
    the prefix-sum trick turns the O(n²) naive scorer into O(n)),
    one partition-spine argmax window; at 100 TB this is per-key
    parallel with bounded per-series state."""
    e = table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    wp = Window.partitionBy("user_id")
    pts = e.select(
        "user_id",
        "event_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("t_us"),
        F.round("value").cast("long").alias("x"),
    ).select(
        "user_id",
        "t_us",
        F.row_number().over(wo).alias("k"),
        F.sum("x").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias("sl"),
        F.count(F.lit(1)).over(wp).alias("n"),
        F.sum("x").over(wp).alias("s"),
    )
    gain = (
        (F.col("sl") * F.col("sl")).cast("double") / F.col("k")
        + ((F.col("s") - F.col("sl")) * (F.col("s") - F.col("sl"))).cast(
            "double"
        )
        / (F.col("n") - F.col("k"))
        - (F.col("s") * F.col("s")).cast("double") / F.col("n")
    )
    scored = pts.filter(F.col("k") < F.col("n")).select(
        "user_id", "k", gain.alias("gain")
    )
    wb = Window.partitionBy("user_id").orderBy(F.desc("gain"), F.asc("k"))
    best = (
        scored.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("k").alias("cp_pos"), "gain")
    )
    nx = pts.select(
        "user_id", F.col("k").alias("k2"), F.col("t_us").alias("cp_t_us")
    )
    return best.join(
        nx,
        (best.user_id == nx.user_id) & (nx.k2 == best.cp_pos + 1),
    ).select(best.user_id, "cp_pos", "cp_t_us", "gain")


@register(
    "events_dwell_time_report",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   epoch_ns(ts) // 1000000000 AS t_s,
                   lead(epoch_ns(ts) // 1000000000) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS nxt_s
            FROM events),
        dw AS (SELECT event_type, nxt_s - t_s AS dwell_s
               FROM seq WHERE nxt_s IS NOT NULL)
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_transitions,
               CAST(floor(CAST(sum(dwell_s) AS DOUBLE) / count(*)) AS BIGINT)
                   AS mean_dwell_s,
               CAST(median(dwell_s) AS DOUBLE) AS median_dwell_s,
               max(dwell_s) AS max_dwell_s
        FROM dw GROUP BY event_type ORDER BY event_type
    """,
)
def events_dwell_time_report(spark, sf_dir):
    """Per-state dwell-time report: how long users sit in each
    event_type before their next event — the state-residency metric
    behind funnel-latency dashboards and session-timeout tuning
    (complements win_lag_lead, which demonstrates the primitive;
    this is the rollup a product team actually reads). Dwell = next
    event's epoch second minus this one's, per user in (ts, event_id)
    order; last event per user has no successor and is excluded.
    Exact integer seconds; the mean floors explicitly (both engines),
    the median interpolates two middle integers identically as a
    double.

    Scale: one lead() window pass per user partition + one map-side-
    combinable rollup to the event_type spine — the median is the
    only full-sort aggregate, bounded per type."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "event_type",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000000").alias("t_s"),
        "ts",
        "event_id",
    ).select(
        "event_type",
        (F.lead("t_s").over(w) - F.col("t_s")).alias("dwell_s"),
    )
    dw = seq.filter(F.col("dwell_s").isNotNull())
    return (
        dw.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.floor(
                F.sum("dwell_s") / F.count(F.lit(1)).cast("double")
            ).alias("mean_dwell_s"),
            F.median("dwell_s").alias("median_dwell_s"),
            F.max("dwell_s").alias("max_dwell_s"),
        )
        .orderBy("event_type")
    )


@register(
    "ts_changepoint_binseg2",
    oracle="""
        WITH pts AS MATERIALIZED (
            SELECT user_id,
                   CAST(round(value) AS BIGINT) AS x,
                   row_number() OVER w AS k,
                   CAST(sum(CAST(round(value) AS BIGINT)) OVER (
                       PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS sl,
                   count(*) OVER (PARTITION BY user_id) AS n,
                   CAST(sum(CAST(round(value) AS BIGINT))
                        OVER (PARTITION BY user_id) AS BIGINT) AS s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)),
        cp1 AS MATERIALIZED (
            SELECT user_id, k AS k1, sl AS s1, n, s FROM (
                SELECT user_id, k, sl, n, s,
                       row_number() OVER (PARTITION BY user_id ORDER BY
                           CAST(sl * sl AS DOUBLE) / k
                           + CAST((s - sl) * (s - sl) AS DOUBLE) / (n - k)
                           DESC, k) AS rn
                FROM pts WHERE k < n) WHERE rn = 1),
        lsplit AS (
            SELECT p.user_id, p.k AS k2 FROM (
                SELECT p.user_id, p.k,
                       row_number() OVER (PARTITION BY p.user_id ORDER BY
                           CAST(p.sl * p.sl AS DOUBLE) / p.k
                           + CAST((c.s1 - p.sl) * (c.s1 - p.sl) AS DOUBLE)
                             / (c.k1 - p.k) DESC, p.k) AS rn
                FROM pts p JOIN cp1 c ON c.user_id = p.user_id
                WHERE p.k < c.k1) p WHERE p.rn = 1),
        rsplit AS (
            SELECT p.user_id, p.k AS k3 FROM (
                SELECT p.user_id, p.k,
                       row_number() OVER (PARTITION BY p.user_id ORDER BY
                           CAST((p.sl - c.s1) * (p.sl - c.s1) AS DOUBLE)
                             / (p.k - c.k1)
                           + CAST((c.s - p.sl) * (c.s - p.sl) AS DOUBLE)
                             / (c.n - p.k) DESC, p.k) AS rn
                FROM pts p JOIN cp1 c ON c.user_id = p.user_id
                WHERE p.k > c.k1 AND p.k < c.n) p WHERE p.rn = 1)
        SELECT c.user_id, c.k1 AS cp_main,
               l.k2 AS cp_left, r.k3 AS cp_right
        FROM cp1 c
        LEFT JOIN lsplit l ON l.user_id = c.user_id
        LEFT JOIN rsplit r ON r.user_id = c.user_id
    """,
)
def ts_changepoint_binseg2(spark, sf_dir):
    """The RECURSIVE step of binary segmentation: after
    ts_changepoint_binseg's level-1 split k1, re-run the same l2
    argmax INSIDE each side (positions < k1 and k1 < positions < n)
    — up to three changepoints / four segments, the depth-2 profile
    a monitoring pipeline renders. Left-segment scores reuse the
    SAME global prefix sums (Sl over [1,j] vs the segment total S1 =
    prefix at k1); right-segment sums are prefix differences — no
    per-segment rescan, the property that keeps recursive binseg
    O(n log depth) instead of O(n·depth). All sums exact BIGINTs,
    identical IEEE score divisions, ties to the earliest split; a
    side with no interior point (k1 = 1 or k1 = n-1) reports NULL.

    Scale: two more windowed argmaxes over the SAME pts frame — at
    100 TB this is three passes over per-user partitions with
    bounded state, no shuffle beyond the user spine."""
    e = table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    wp = Window.partitionBy("user_id")
    pts = (
        e.select(
            "user_id",
            "event_id",
            F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("t_us"),
            F.round("value").cast("long").alias("x"),
        )
        .select(
            "user_id",
            F.row_number().over(wo).alias("k"),
            F.sum("x")
            .over(wo.rowsBetween(Window.unboundedPreceding, 0))
            .alias("sl"),
            F.count(F.lit(1)).over(wp).alias("n"),
            F.sum("x").over(wp).alias("s"),
        )
        .persist()  # three argmax consumers share the prefix frame
    )
    gain1 = (
        (F.col("sl") * F.col("sl")).cast("double") / F.col("k")
        + ((F.col("s") - F.col("sl")) * (F.col("s") - F.col("sl"))).cast(
            "double"
        )
        / (F.col("n") - F.col("k"))
    )
    w1 = Window.partitionBy("user_id").orderBy(F.desc("g"), F.asc("k"))
    cp1 = (
        pts.filter(F.col("k") < F.col("n"))
        .select("user_id", "k", "sl", "n", "s", gain1.alias("g"))
        .withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("k").alias("k1"),
            F.col("sl").alias("s1"),
            F.col("n").alias("nn"),
            F.col("s").alias("ss"),
        )
    )
    j = pts.join(cp1, "user_id")
    gl = (
        (F.col("sl") * F.col("sl")).cast("double") / F.col("k")
        + ((F.col("s1") - F.col("sl")) * (F.col("s1") - F.col("sl"))).cast(
            "double"
        )
        / (F.col("k1") - F.col("k"))
    )
    wl = Window.partitionBy("user_id").orderBy(F.desc("g"), F.asc("k"))
    lsplit = (
        j.filter(F.col("k") < F.col("k1"))
        .select("user_id", "k", gl.alias("g"))
        .withColumn("rn", F.row_number().over(wl))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("k").alias("cp_left"))
    )
    gr = (
        ((F.col("sl") - F.col("s1")) * (F.col("sl") - F.col("s1"))).cast(
            "double"
        )
        / (F.col("k") - F.col("k1"))
        + ((F.col("ss") - F.col("sl")) * (F.col("ss") - F.col("sl"))).cast(
            "double"
        )
        / (F.col("nn") - F.col("k"))
    )
    rsplit = (
        j.filter((F.col("k") > F.col("k1")) & (F.col("k") < F.col("nn")))
        .select("user_id", "k", gr.alias("g"))
        .withColumn("rn", F.row_number().over(wl))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("k").alias("cp_right"))
    )
    return (
        cp1.select("user_id", F.col("k1").alias("cp_main"))
        .join(lsplit, "user_id", "left")
        .join(rsplit, "user_id", "left")
        .select("user_id", "cp_main", "cp_left", "cp_right")
    )
