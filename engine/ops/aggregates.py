"""2.D aggregate operators + shared agg helpers (KMV/HLL sketches,
quantization utilities). Family split (round 6): events_* ops live in
events_funnels.py, orders_* in orders_analytics.py, stat_*/ts_*/ml_*
in stats_tests.py; helpers shared across families stay here."""

from __future__ import annotations
from pyspark.sql import Window
from pyspark.sql import functions as F
from ..dsl import davg, dsum, sql_davg, sql_dsum
from ..registry import register, table


@register(
    "agg_global",
    oracle=f"""
        SELECT
          count(*) AS n_rows,
          sum(l_quantity) AS sum_qty,
          min(l_shipdate) AS min_ship,
          max(l_shipdate) AS max_ship,
          {sql_dsum('l_extendedprice')} AS sum_price
        FROM lineitem
    """,
)
def agg_global(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").alias("sum_qty"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
        dsum(F.col("l_extendedprice")).alias("sum_price"),
    )

@register(
    "agg_count_distinct",
    oracle="""
        SELECT
          count(DISTINCT o_custkey) AS n_custs,
          count(DISTINCT o_orderstatus) AS n_status,
          count(DISTINCT o_orderpriority) AS n_prio
        FROM orders
    """,
)
def agg_count_distinct(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    return o.agg(
        F.countDistinct("o_custkey").alias("n_custs"),
        F.countDistinct("o_orderstatus").alias("n_status"),
        F.countDistinct("o_orderpriority").alias("n_prio"),
    )

@register("agg_approx_count_distinct")  # rows-only: HLL estimate != exact oracle
def agg_approx_count_distinct(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    return o.agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_custs"),
        F.countDistinct("o_custkey").alias("exact_custs"),
    )

@register("agg_approx_percentile")  # rows-only: approximate quantile sketch
def agg_approx_percentile(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    q = F.percentile_approx("value", [0.5, 0.95, 0.99])
    return e.agg(q.alias("q")).select(
        F.element_at("q", 1).alias("p50"),
        F.element_at("q", 2).alias("p95"),
        F.element_at("q", 3).alias("p99"),
    )

@register(
    "agg_stats",
    oracle="""
        SELECT
          round(stddev_samp(l_quantity), 6) AS sd_qty,
          round(var_samp(l_quantity), 6) AS var_qty,
          round(corr(l_quantity, l_discount), 6) AS corr_qty_disc,
          round(covar_samp(l_quantity, l_discount), 6) AS covar_qty_disc
        FROM lineitem
    """,
)
def agg_stats(spark, sf_dir):
    """Sample statistics; rounded to 6 dp in BOTH engines — co-moment
    merge order differs across engines, exact bits do not survive."""
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_discount"), 6).alias("corr_qty_disc"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("covar_qty_disc"),
    )

@register(
    "agg_rollup",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               {sql_dsum('l_extendedprice')} AS sum_price,
               count(*) AS n
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        dsum(F.col("l_extendedprice")).alias("sum_price"),
        F.count(F.lit(1)).alias("n"),
    )

@register(
    "agg_cube",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               {sql_dsum('l_extendedprice')} AS sum_price,
               count(*) AS n
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        dsum(F.col("l_extendedprice")).alias("sum_price"),
        F.count(F.lit(1)).alias("n"),
    )

@register(
    "agg_grouping_sets",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               {sql_dsum('l_extendedprice')} AS sum_price,
               count(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
)
def agg_grouping_sets(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("engine_gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               sum(CAST(round(l_extendedprice*100) AS BIGINT))/CAST(100 AS DOUBLE)
                 AS sum_price,
               count(*) AS n
        FROM engine_gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )

@register(
    "agg_collect_sorted",
    oracle="""
        SELECT c_nationkey,
               COALESCE(array_to_string(list_sort(list(DISTINCT c_mktsegment)), ','), '')
                 AS segments
        FROM customer
        GROUP BY c_nationkey
    """,
)
def agg_collect_sorted(spark, sf_dir):
    """collect_set + deterministic sort, emitted as a joined string:
    the driver's canonicalizer hashes scalar cells only (array cells
    are unhashable in its pandas sort), so the array surface is
    serialized at the boundary."""
    c = table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.array_join(F.sort_array(F.collect_set("c_mktsegment")), ",").alias(
            "segments"
        )
    )

@register(
    "agg_pivot",
    oracle="""
        SELECT user_id,
               count(*) FILTER (WHERE event_type = 'click')    AS click,
               count(*) FILTER (WHERE event_type = 'error')    AS error,
               count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
               count(*) FILTER (WHERE event_type = 'signup')   AS signup,
               count(*) FILTER (WHERE event_type = 'view')     AS view
        FROM events
        GROUP BY user_id
    """,
)
def agg_pivot(spark, sf_dir):
    """Pivot with an explicit value list (no extra pass to discover
    values — mandatory at scale) and 0-fill to match conditional-count
    semantics."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
        .na.fill(0)
    )

@register(
    "agg_having",
    oracle=f"""
        SELECT o_custkey, count(*) AS n_orders,
               {sql_dsum('o_totalprice')} AS total_spend
        FROM orders
        GROUP BY o_custkey
        HAVING count(*) >= 15
    """,
)
def agg_having(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("total_spend"),
        )
        .filter(F.col("n_orders") >= 15)
    )

@register(
    "agg_group_hash",
    oracle=f"""
        SELECT
          l_returnflag,
          l_linestatus,
          sum(l_quantity) AS sum_qty,
          {sql_dsum('l_extendedprice')} AS sum_base_price,
          {sql_dsum('l_extendedprice*(1-l_discount)', 10000)} AS sum_disc_price,
          {sql_dsum('l_extendedprice*(1-l_discount)*(1+l_tax)', 1000000)} AS sum_charge,
          avg(l_quantity) AS avg_qty,
          {sql_davg('l_extendedprice')} AS avg_price,
          {sql_davg('l_discount')} AS avg_disc,
          count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_group_hash(spark, sf_dir):
    """TPC-H Q1 pricing summary: grouped multi-aggregate.

    l_quantity is integer-valued (FIXTURES.md) so its double sum/avg is
    exact in any order; the money columns go through dsl.dsum/davg.
    """
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000).alias(
                "sum_disc_price"
            ),
            dsum(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax")),
                1000000,
            ).alias("sum_charge"),
            F.avg("l_quantity").alias("avg_qty"),
            davg(F.col("l_extendedprice")).alias("avg_price"),
            davg(F.col("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )

@register(
    "agg_median_mode",
    oracle="""
        SELECT event_type,
               median(value) AS med_value,
               min(value) AS min_value,
               count(*) AS n
        FROM events GROUP BY event_type
    """,
)
def agg_median_mode(spark, sf_dir):
    """Exact median per group (interpolated at even counts identically
    by both engines: mean of the two middle doubles)."""
    e = table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.median("value").alias("med_value"),
        F.min("value").alias("min_value"),
        F.count(F.lit(1)).alias("n"),
    )

@register(
    "rollup_timeseries",
    oracle="""
        SELECT date_trunc('day', ts) AS d, date_trunc('hour', ts) AS h,
               event_type, count(*) AS n,
               sum(CAST(round(value*10000) AS BIGINT))/10000.0 AS sum_value
        FROM events
        GROUP BY GROUPING SETS (
          (date_trunc('day', ts), event_type),
          (date_trunc('day', ts), date_trunc('hour', ts), event_type)
        )
    """,
)
def rollup_timeseries(spark, sf_dir):
    """Hypertable-style multi-granularity rollup: daily and hourly
    pre-aggregates per event_type materialized in ONE pass via grouping
    sets (one shuffle instead of one per granularity) — the continuous-
    aggregate pattern a log store maintains so dashboards never scan
    raw events."""
    e = table(spark, sf_dir, "events")
    e.createOrReplaceTempView("v_events_rts")
    return spark.sql(
        """
        SELECT date_trunc('DAY', ts) AS d, date_trunc('HOUR', ts) AS h,
               event_type, count(*) AS n,
               sum(CAST(round(value*10000) AS BIGINT))/CAST(10000 AS DOUBLE)
                 AS sum_value
        FROM v_events_rts
        GROUP BY GROUPING SETS (
          (date_trunc('DAY', ts), event_type),
          (date_trunc('DAY', ts), date_trunc('HOUR', ts), event_type)
        )
        """
    )

@register("agg_hll_sketch_merge")  # rows-only: sketch estimates are approximate
def agg_hll_sketch_merge(spark, sf_dir):
    """Mergeable distinct-count sketches — the re-aggregatable rollup
    pattern: per-event_type HLL sketches built in one pass, then UNIONED
    (not recomputed) into a global estimate. At 100 TB this is how
    per-partition/per-day distinct counts roll up to any grain without
    touching raw data again. Property-tested against exact counts
    (tests/test_llm_ops.py)."""
    e = table(spark, sf_dir, "events")
    per_type = e.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    per_type_est = per_type.select(
        "event_type",
        F.hll_sketch_estimate("sk").alias("est_users"),
        "exact_users",
    )
    total = per_type.agg(
        F.lit("__ALL__").alias("event_type"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users"),
        F.lit(None).cast("long").alias("exact_users"),
    )
    return per_type_est.unionByName(total)

@register(
    "agg_unpivot",
    oracle="""
        WITH agg AS (
          SELECT user_id, min(value) AS min_v, max(value) AS max_v,
                 count(*) * 1.0 AS n_v
          FROM events GROUP BY user_id
        )
        SELECT * FROM agg UNPIVOT (metric_value FOR metric IN (min_v, max_v, n_v))
    """,
)
def agg_unpivot(spark, sf_dir):
    """Unpivot (melt): wide per-user metrics → (user_id, metric, value)
    long form — the inverse of agg_pivot, the shape feature stores and
    metric sinks want. Narrow-side casts keep one value type (double)."""
    e = table(spark, sf_dir, "events")
    wide = e.groupBy("user_id").agg(
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
        (F.count(F.lit(1)) * 1.0).alias("n_v"),
    )
    return wide.unpivot(
        ["user_id"], ["min_v", "max_v", "n_v"], "metric", "metric_value"
    )

@register(
    "agg_percentile_exact",
    oracle="""
        SELECT event_type,
               round(quantile_cont(value, 0.25), 6) AS q25,
               round(quantile_cont(value, 0.50), 6) AS q50,
               round(quantile_cont(value, 0.75), 6) AS q75
        FROM events GROUP BY event_type
    """,
)
def agg_percentile_exact(spark, sf_dir):
    """Exact continuous percentiles per group (vs the approximate
    sketch in agg_approx_percentile). Rounded to 6 dp on both sides:
    the interpolation formulas differ in fp rounding ((1-f)a+fb vs
    a+f(b-a)) by at most an ulp."""
    e = table(spark, sf_dir, "events")
    pct = F.percentile("value", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    return e.groupBy("event_type").agg(
        F.round(F.element_at(pct, 1), 6).alias("q25"),
        F.round(F.element_at(pct, 2), 6).alias("q50"),
        F.round(F.element_at(pct, 3), 6).alias("q75"),
    )

@register(
    "agg_bool_bit",
    oracle="""
        SELECT event_type,
               bool_and(value > 0) AS all_positive,
               bool_or(value > 100) AS any_large,
               bit_and(CAST(user_id AS BIGINT)) AS uid_bit_and,
               bit_or(CAST(user_id AS BIGINT)) AS uid_bit_or,
               bit_xor(CAST(user_id AS BIGINT)) AS uid_bit_xor
        FROM events GROUP BY event_type
    """,
)
def agg_bool_bit(spark, sf_dir):
    """Boolean and bitwise aggregates (every/some, bit_and/or/xor) —
    all order-insensitive, so exact cross-engine parity."""
    e = table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.every(F.col("value") > 0).alias("all_positive"),
        F.some(F.col("value") > 100).alias("any_large"),
        F.bit_and("user_id").alias("uid_bit_and"),
        F.bit_or("user_id").alias("uid_bit_or"),
        F.bit_xor("user_id").alias("uid_bit_xor"),
    )

@register(
    "agg_value_histogram",
    oracle="""
        SELECT least(greatest(CAST(floor(value / 50) AS BIGINT), 0), 9) AS bucket,
               count(*) AS n,
               round(min(value), 2) AS lo, round(max(value), 2) AS hi
        FROM events GROUP BY 1
    """,
)
def agg_value_histogram(spark, sf_dir):
    """Fixed-width histogram (10 buckets of 50, clamped): the
    one-shuffle distributed histogram; bucket edges are pure arithmetic
    so the map side pre-aggregates everything."""
    e = table(spark, sf_dir, "events")
    bucket = F.least(
        F.greatest(F.floor(F.col("value") / 50).cast("long"), F.lit(0)), F.lit(9)
    )
    return (
        e.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 2).alias("lo"),
            F.round(F.max("value"), 2).alias("hi"),
        )
    )

@register(
    "upsert_latest_wins",
    oracle="""
        WITH ranked AS (
          SELECT user_id, event_type, ts, event_id, value,
                 row_number() OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events
        )
        SELECT user_id, event_type, event_id AS last_event_id,
               ts AS last_ts, value AS last_value
        FROM ranked WHERE rn = 1
    """,
)
def upsert_latest_wins(spark, sf_dir):
    """Changelog compaction (SCD type-1 / log-compaction semantics):
    treat events as an upsert stream keyed by (user_id, event_type)
    and keep only the latest version, ties broken by event_id so the
    winner is unique. This is the batch MERGE-equivalent an engine
    without a table format expresses directly; at 100 TB it is one
    hash-partitioned window per key — Spark's WindowGroupLimit pushes
    the rn=1 filter into a partial top-1 per map task, so the shuffle
    carries one candidate row per (key, task), not the full history."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        e.select("user_id", "event_type", "ts", "event_id", "value")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("value").alias("last_value"),
        )
    )

@register(
    "agg_retention_cohort",
    oracle="""
        WITH cohort AS (
          SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
          FROM events GROUP BY user_id
        )
        SELECT CAST(c.cohort_day AS VARCHAR) AS cohort_day,
               CAST(floor(date_diff('day', c.cohort_day, CAST(e.ts AS DATE)) / 7)
                    AS BIGINT) AS week_offset,
               count(DISTINCT e.user_id) AS active_users
        FROM events e JOIN cohort c USING (user_id)
        GROUP BY 1, 2
    """,
)
def agg_retention_cohort(spark, sf_dir):
    """Cohort retention matrix: users bucketed by first-activity day,
    counted distinct per (cohort, weeks-since-cohort). The classic
    product-analytics rollup. Two shuffles total: the per-user min
    (map-side combinable) and the final grouped distinct; the cohort
    table is per-user-sized but joins on the same user_id key the
    events already hash by, and floor() is explicit because DuckDB
    rounds double→int casts while Spark truncates."""
    e = table(spark, sf_dir, "events")
    cohort = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("cohort_day")
    )
    return (
        e.join(cohort, "user_id")
        .select(
            "cohort_day",
            F.floor(
                F.datediff(F.col("ts").cast("date"), F.col("cohort_day")) / 7
            ).alias("week_offset"),
            "user_id",
        )
        .groupBy(
            F.col("cohort_day").cast("string").alias("cohort_day"),
            "week_offset",
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )

@register(
    "agg_max_by_min_by",
    oracle="""
        SELECT o_orderpriority,
               arg_max(o_orderkey,
                       CAST(round(o_totalprice*100) AS BIGINT) * 10000000000
                       + o_orderkey) AS top_orderkey,
               arg_min(o_orderkey,
                       CAST(round(o_totalprice*100) AS BIGINT) * 10000000000
                       + o_orderkey) AS bottom_orderkey,
               count(*) AS n_orders
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
)
def agg_max_by_min_by(spark, sf_dir):
    """max_by/min_by (argmax aggregates): the order id carrying each
    priority class's highest/lowest total price — one pass, no window,
    no join-back. The ordering key packs exact cents and the unique
    orderkey into one BIGINT ((priority,totalprice) ties DO occur in
    the data) so both engines break ties identically."""
    o = table(spark, sf_dir, "orders")
    key = (
        F.round(F.col("o_totalprice") * 100).cast("long") * F.lit(10000000000)
        + F.col("o_orderkey")
    )
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.max_by("o_orderkey", key).alias("top_orderkey"),
            F.min_by("o_orderkey", key).alias("bottom_orderkey"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )

@register(
    "agg_grouping_id",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               GROUPING(l_returnflag) AS g_flag,
               GROUPING(l_linestatus) AS g_status,
               count(*) AS n
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def agg_grouping_id(spark, sf_dir):
    """GROUPING() markers on a rollup — distinguishes 'NULL because
    subtotal row' from 'NULL in the data', which agg_rollup alone
    cannot. grouping() returns tinyint in Spark vs int in DuckDB;
    cast explicitly."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "l_returnflag", "l_linestatus", "g_flag", "g_status", "n"
        )
        .orderBy(
            F.asc_nulls_first("l_returnflag"), F.asc_nulls_first("l_linestatus")
        )
    )

@register(
    "agg_string_concat",
    oracle="""
        SELECT lang,
               string_agg(DISTINCT source, ',' ORDER BY source) AS sources
        FROM documents
        GROUP BY lang
        ORDER BY lang
    """,
)
def agg_string_concat(spark, sf_dir):
    """Ordered string aggregation (LISTAGG/string_agg): distinct
    sources per language as one comma-joined, lexically-sorted string.
    Spark spelling: collect_set → sort_array → concat_ws (the sort
    makes the concatenation order — and the hash — deterministic)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.concat_ws(
                ",", F.sort_array(F.collect_set("source"))
            ).alias("sources")
        )
        .orderBy("lang")
    )

@register(
    "agg_bitmap_distinct",
    oracle="""
        SELECT event_type, count(DISTINCT user_id) AS n_users
        FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def agg_bitmap_distinct(spark, sf_dir):
    """EXACT distinct counting via mergeable bitmaps (Spark 3.5
    bitmap_* family): per (event_type, bucket) partial bitmaps are
    OR-merged, then popcounted — same answer as count(DISTINCT) but
    the partials are re-aggregatable, which is how exact distinct
    rolls up across partitions/days at 100 TB without re-scanning
    (count(DISTINCT) partials are not mergeable; sketches are but
    approximate). The oracle is plain count(DISTINCT)."""
    e = table(spark, sf_dir, "events")
    partial = (
        e.select(
            "event_type",
            F.bitmap_bucket_number("user_id").alias("bucket"),
            F.bitmap_bit_position("user_id").alias("pos"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.bitmap_construct_agg("pos").alias("bm"))
    )
    return (
        partial.groupBy("event_type")
        .agg(F.sum(F.bitmap_count("bm")).alias("n_users"))
        .orderBy("event_type")
    )

@register(
    "agg_count_if_filter",
    oracle="""
        SELECT event_type,
               count(*) FILTER (WHERE value > 250.0) AS n_big,
               count(*) FILTER (WHERE value <= 250.0) AS n_small,
               sum(CAST(round(value*100) AS BIGINT)) FILTER (WHERE event_type = 'purchase')
                 / 100.0 AS purchase_value,
               count(DISTINCT user_id) FILTER (WHERE value > 400.0) AS big_spenders
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def agg_count_if_filter(spark, sf_dir):
    """Conditional aggregation — the FILTER-clause surface. Spark
    expresses it as count_if / when-guarded sums; both forms compile
    to the same partial+final hash aggregate, so one pass over the
    input computes every conditional branch (no per-condition
    re-scan). sum FILTER over an empty group yields NULL in both
    engines (the non-purchase rows)."""
    e = table(spark, sf_dir, "events")
    big = F.col("value") > 250.0
    return (
        e.groupBy("event_type")
        .agg(
            F.count_if(big).alias("n_big"),
            F.count_if(~big).alias("n_small"),
            (
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase",
                        F.round(F.col("value") * 100.0).cast("long"),
                    )
                )
                / 100.0
            ).alias("purchase_value"),
            F.count_distinct(
                F.when(F.col("value") > 400.0, F.col("user_id"))
            ).alias("big_spenders"),
        )
        .orderBy("event_type")
    )

@register(
    "agg_central_moments",
    oracle="""
        WITH s AS (
          SELECT event_type, CAST(round(value*100) AS BIGINT) AS v
          FROM events
        ), m AS (
          SELECT event_type,
                 count(*) AS n,
                 CAST(sum(CAST(v AS HUGEINT)) AS DOUBLE) AS s1,
                 CAST(sum(CAST(v AS HUGEINT)*v) AS DOUBLE) AS s2,
                 CAST(sum(CAST(v AS HUGEINT)*v*v) AS DOUBLE) AS s3,
                 CAST(sum(CAST(v AS HUGEINT)*v*v*v) AS DOUBLE) AS s4
          FROM s GROUP BY event_type
        )
        SELECT event_type, n,
               round(s1/n/100.0, 6) AS mean_value,
               round((s2/n - (s1/n)*(s1/n)) / 10000.0, 6) AS var_pop,
               round((s3/n - 3*(s1/n)*(s2/n) + 2*(s1/n)*(s1/n)*(s1/n))
                     / ((s2/n - (s1/n)*(s1/n)) * sqrt(s2/n - (s1/n)*(s1/n))), 6)
                 AS skewness,
               round((s4/n - 4*(s1/n)*(s3/n) + 6*(s1/n)*(s1/n)*(s2/n)
                      - 3*(s1/n)*(s1/n)*(s1/n)*(s1/n))
                     / ((s2/n - (s1/n)*(s1/n)) * (s2/n - (s1/n)*(s1/n))) - 3.0, 6)
                 AS kurtosis,
               round(sqrt(s2/n - (s1/n)*(s1/n)) / (s1/n), 6) AS cv
        FROM m
        ORDER BY event_type
    """,
)
def agg_central_moments(spark, sf_dir):
    """Exact grouped skewness/kurtosis/CV from integer power sums.

    Built-in skewness()/kurtosis() accumulate doubles in
    shuffle-fetch order (non-deterministic last-ulp), so instead the
    four raw power sums are taken over the exactly-recovered scaled
    integer (value is 2-dp, FIXTURES.md): every per-row power v^4 <
    5.8e18 fits a long, and the SUM runs in decimal(38,0) (Spark) /
    HUGEINT (DuckDB) — overflow-free and exact at any scale. The
    double-precision moment formulas then see bit-identical inputs
    and run the identical expression tree on both engines (sqrt, not
    pow(x,1.5): sqrt is IEEE-correctly-rounded, pow is not).
    Skewness/kurtosis are scale-invariant so the *100 encoding
    cancels; mean/variance divide it back out. One map-side-combined
    shuffle; 6-dp rounding guards the final transcendental-free ops."""
    e = table(spark, sf_dir, "events")
    # Per-row powers run in DECIMAL, not long: v^4 already exceeds
    # int64 at v = 56021 (sf0.1's max 560.21), and the session is
    # ANSI so the overflow is an error, not a wrap. decimal(10,0)
    # factors grow to ≤ decimal(38,0) products — exact.
    v = F.round(F.col("value") * 100.0).cast("long")
    s = e.select("event_type", v.cast("decimal(10,0)").alias("v"))
    vd = F.col("v")
    m = s.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vd).alias("h1"),
        F.sum(vd * vd).alias("h2"),
        F.sum(vd * vd * vd).alias("h3"),
        F.sum(vd * vd * vd * vd).alias("h4"),
    )
    s1 = F.col("h1").cast("double")
    s2 = F.col("h2").cast("double")
    s3 = F.col("h3").cast("double")
    s4 = F.col("h4").cast("double")
    n = F.col("n")
    mean = s1 / n
    m2 = s2 / n - mean * mean
    m3 = s3 / n - F.lit(3.0) * mean * (s2 / n) + F.lit(2.0) * mean * mean * mean
    m4 = (
        s4 / n
        - F.lit(4.0) * mean * (s3 / n)
        + F.lit(6.0) * mean * mean * (s2 / n)
        - F.lit(3.0) * mean * mean * mean * mean
    )
    return m.select(
        "event_type",
        "n",
        F.round(mean / 100.0, 6).alias("mean_value"),
        F.round(m2 / 10000.0, 6).alias("var_pop"),
        F.round(m3 / (m2 * F.sqrt(m2)), 6).alias("skewness"),
        F.round(m4 / (m2 * m2) - 3.0, 6).alias("kurtosis"),
        F.round(F.sqrt(m2) / mean, 6).alias("cv"),
    ).orderBy("event_type")

@register(
    "agg_geomean",
    oracle="""
        WITH q AS (
          SELECT l_returnflag,
                 CAST(round(ln(l_quantity) * 1000000) AS BIGINT) AS lnq_u
          FROM lineitem
          WHERE l_quantity > 0
        )
        SELECT l_returnflag,
               count(*) AS n,
               round(exp(CAST(sum(lnq_u) AS DOUBLE) / count(*) / 1000000.0), 4)
                 AS geomean_qty
        FROM q
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
)
def agg_geomean(spark, sf_dir):
    """Grouped geometric mean — exp(mean(ln x)), the right average
    for ratio-like quantities. A naive double sum of ln() values is
    order-dependent AND libm-vs-JVM divergent; instead each row's
    ln is rounded once to 6 dp and scaled to an exact integer, so
    the sum is associative and bit-stable under any merge order,
    and the single exp() at the end (one call per GROUP, not per
    row) is rounded to 4 dp to absorb the last-ulp exp difference
    between engines. Same one-shuffle partial-agg shape as any
    grouped sum."""
    li = table(spark, sf_dir, "lineitem")
    lnq_u = F.round(F.log(F.col("l_quantity")) * 1000000.0).cast("long")
    return (
        li.filter(F.col("l_quantity") > 0)
        .select("l_returnflag", lnq_u.alias("lnq_u"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.exp(
                    F.sum("lnq_u").cast("double")
                    / F.count(F.lit(1))
                    / 1000000.0
                ),
                4,
            ).alias("geomean_qty"),
        )
        .orderBy("l_returnflag")
    )

@register(
    "agg_weighted_avg",
    oracle="""
        SELECT l_returnflag,
               sum(CAST(round(l_extendedprice*100) AS BIGINT)
                   * CAST(round(l_quantity) AS BIGINT))
                 / CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE)
                 / 100.0 AS wavg_price,
               CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
                 AS total_qty
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
)
def agg_weighted_avg(spark, sf_dir):
    """Quantity-weighted average price — the aggregation SQL's plain
    avg() can't express. Both the weighted numerator and the weight
    sum are exact integer arithmetic (price is 2-dp, quantity
    integer-valued; products ≤ 6e10 per row, far inside int64), so
    any shuffle merge order yields the same bits; one double
    division at the end. Same single partial+final hash-agg shape
    as an unweighted mean."""
    li = table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100.0).cast("long")
    qty = F.round(F.col("l_quantity")).cast("long")
    return (
        li.groupBy("l_returnflag")
        .agg(
            (
                F.sum(cents * qty) / F.sum(qty).cast("double") / 100.0
            ).alias("wavg_price"),
            F.sum(qty).cast("long").alias("total_qty"),
        )
        .orderBy("l_returnflag")
    )

@register(
    "agg_corr_exact",
    oracle="""
        WITH s AS (
          SELECT l_returnflag,
                 CAST(round(l_quantity) AS BIGINT) AS q,
                 CAST(round(l_discount*100) AS BIGINT) AS d
          FROM lineitem
        ), m AS (
          SELECT l_returnflag, count(*) AS n,
                 CAST(sum(q) AS DOUBLE) AS sq, CAST(sum(d) AS DOUBLE) AS sd,
                 CAST(sum(q*q) AS DOUBLE) AS sqq,
                 CAST(sum(d*d) AS DOUBLE) AS sdd,
                 CAST(sum(q*d) AS DOUBLE) AS sqd
          FROM s GROUP BY l_returnflag
        )
        SELECT l_returnflag, n,
               round((sqd/n - (sq/n)*(sd/n))
                     / (sqrt(sqq/n - (sq/n)*(sq/n))
                        * sqrt(sdd/n - (sd/n)*(sd/n))), 6) AS corr_qty_disc
        FROM m
        ORDER BY l_returnflag
    """,
)
def agg_corr_exact(spark, sf_dir):
    """GROUPED Pearson correlation from exact integer co-moment sums
    — the built-in corr() accumulates doubles in merge order (hence
    agg_stats rounds a global value); this form keeps every sum
    exact integer arithmetic (quantity ≤ 50, discount-cents ≤ 10:
    products are tiny), so per-GROUP correlations are bit-stable at
    any parallelism, and the double formula runs identically on
    both engines (sqrt, not pow). One map-side-combined shuffle."""
    li = table(spark, sf_dir, "lineitem")
    q = F.round(F.col("l_quantity")).cast("long")
    d = F.round(F.col("l_discount") * 100.0).cast("long")
    s = li.select("l_returnflag", q.alias("q"), d.alias("d"))
    m = s.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").cast("double").alias("sq"),
        F.sum("d").cast("double").alias("sd"),
        F.sum(F.col("q") * F.col("q")).cast("double").alias("sqq"),
        F.sum(F.col("d") * F.col("d")).cast("double").alias("sdd"),
        F.sum(F.col("q") * F.col("d")).cast("double").alias("sqd"),
    )
    n = F.col("n")
    mq = F.col("sq") / n
    md = F.col("sd") / n
    corr = (F.col("sqd") / n - mq * md) / (
        F.sqrt(F.col("sqq") / n - mq * mq) * F.sqrt(F.col("sdd") / n - md * md)
    )
    return m.select(
        "l_returnflag", "n", F.round(corr, 6).alias("corr_qty_disc")
    ).orderBy("l_returnflag")

@register(
    "agg_linreg_trend",
    oracle="""
        WITH d AS (
          SELECT event_type,
                 CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS x,
                 count(*) AS y
          FROM events GROUP BY event_type, x
        ),
        s AS (
          SELECT event_type, count(*) AS n,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * y) AS BIGINT) AS sxy,
                 CAST(sum(x * x) AS BIGINT) AS sxx,
                 CAST(sum(y * y) AS BIGINT) AS syy
          FROM d GROUP BY event_type
        )
        SELECT event_type, n AS n_days,
               round(CAST(n * sxy - sx * sy AS DOUBLE)
                     / (n * sxx - sx * sx), 6) AS slope,
               round((sy - CAST(n * sxy - sx * sy AS DOUBLE)
                           / (n * sxx - sx * sx) * sx)
                     / CAST(n AS DOUBLE), 6) AS intercept,
               round(CAST(n * sxy - sx * sy AS DOUBLE)
                     * CAST(n * sxy - sx * sy AS DOUBLE)
                     / (CAST(n * sxx - sx * sx AS DOUBLE)
                        * (n * syy - sy * sy)), 6) AS r2
        FROM s
        WHERE n >= 2 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        ORDER BY event_type
    """,
)
def agg_linreg_trend(spark, sf_dir):
    """Per-event-type OLS trend of daily activity: slope, intercept,
    and r² of count-vs-day — the 'is this metric growing' primitive.
    Two stacked high-reduction aggregates (events → daily counts →
    per-type moment sums); every moment (n, Σx, Σy, Σxy, Σx², Σy²)
    is an exact int64 partial, map-side combinable, and the closed-
    form OLS solution is derived through one identical scalar double
    expression per engine — no regr_slope() builtin, whose double
    accumulation order would vary with parallelism. x is the day
    index from the corpus epoch so integers stay tiny."""
    e = table(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("x"),
    ).agg(F.count(F.lit(1)).alias("y"))
    s = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    num = n * sxy - sx * sy
    dxx = n * sxx - sx * sx
    dyy = n * syy - sy * sy
    slope = num.cast("double") / dxx
    intercept = (sy - slope * sx) / n.cast("double")
    r2 = num.cast("double") * num.cast("double") / (dxx.cast("double") * dyy)
    return (
        s.filter((n >= 2) & (dxx > 0) & (dyy > 0))
        .select(
            "event_type",
            n.alias("n_days"),
            F.round(slope, 6).alias("slope"),
            F.round(intercept, 6).alias("intercept"),
            F.round(r2, 6).alias("r2"),
        )
        .orderBy("event_type")
    )


@register(
    "agg_approx_top_k",
    oracle="""
        SELECT event_type AS item, count(*) AS est_n
        FROM events GROUP BY event_type
    """,
)
def agg_approx_top_k(spark, sf_dir):
    """Spark 4 approx_top_k sketch — the bounded-memory heavy-hitters
    aggregate (Misra-Gries family): tracks at most maxItemsTracked
    counters per partition and merges them, so finding the top talkers
    over a 100 TB column costs O(k) memory per task instead of a full
    groupBy's distinct-key state. Verification trick: with
    maxItemsTracked (10000) far above the column's true cardinality
    (5 event types) the sketch degenerates to EXACT counts, so the
    value-hash oracle is the plain GROUP BY — the surface is
    exercised AND proven, not just smoke-run. At true scale you size
    maxItemsTracked >= heavy-hitter count and accept the documented
    over-count bound instead."""
    e = table(spark, sf_dir, "events")
    topk = e.agg(
        F.expr("approx_top_k(event_type, 10, 10000)").alias("tk")
    )
    return topk.select(F.explode("tk").alias("s")).select(
        F.col("s.item").alias("item"),
        F.col("s.count").alias("est_n"),
    )

@register(
    "agg_count_min_sketch",
    oracle="""
        SELECT user_id, count(*) AS est_events
        FROM events WHERE user_id < 20 GROUP BY user_id
    """,
)
def agg_count_min_sketch(spark, sf_dir):
    """Count-min sketch frequency estimation with distributed MERGE —
    the third sketch family member (HLL: agg_hll_sketch_merge; top-k:
    agg_approx_top_k): one CMS per event_type is built executor-side
    by ``count_min_sketch()`` (each a fixed-size 2-D counter array,
    the mergeable summary that answers "how often did key X appear"
    over 100 TB in O(sketch) memory), the per-type sketches merge
    associatively into a corpus sketch (``mergeInPlace`` — the same
    op a combiner tree runs), and a broadcast-sized probe set is
    answered from the merged sketch. Why a full value-hash oracle is
    honest here: the FIXED SEED makes the sketch a deterministic
    function of the data, and a probe's estimate (min over 5 depth
    rows) is exact unless the key collides in EVERY row — with 20000
    cells per row that survival probability is negligible per probe at
    both fixture cardinalities (150 / 1500 keys; note per-ROW
    collisions among 1500 keys are near-certain — it is the min across
    depth, not "collision-free rows", that delivers exactness, a
    sharper claim than agg_approx_top_k's capacity argument). Verified
    hash-green at sf0.01 AND sf0.1; were a future fixture to break the
    bound, the oracle FAILS loudly rather than drifting. The
    merged-sketch query runs driver-side through Spark's public
    CountMinSketch API on KB-sized state — never a data path."""
    e = table(spark, sf_dir, "events")
    rows = (
        e.groupBy("event_type")
        .agg(
            F.count_min_sketch(
                "user_id", F.lit(0.0001), F.lit(0.99), F.lit(42)
            ).alias("cms")
        )
        .collect()
    )
    jvm = spark.sparkContext._jvm
    merged = None
    for r in sorted(rows, key=lambda r: r["event_type"]):
        sk = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
            bytes(r["cms"])
        )
        if merged is None:
            merged = sk
        else:
            merged.mergeInPlace(sk)
    probes = [(u, merged.estimateCount(u)) for u in range(20)]
    return spark.createDataFrame(probes, "user_id long, est_events long")

BOOT_REPS = 32

@register(
    "agg_bootstrap_ci",
    oracle=f"""
        WITH base AS (
          SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents
          FROM events WHERE event_type = 'purchase'
        ),
        rep AS (
          SELECT r.r AS r, event_id, cents
          FROM base, unnest(range({BOOT_REPS})) r(r)
        ),
        mem AS (
          SELECT r, cents,
                 ((event_id * 1103515245 + r * 12345) % 2147483648)
                   AS h1
          FROM rep
        ),
        sel AS (
          SELECT r, cents
          FROM mem
          WHERE ((h1 * 1103515245 + 12345) % 2147483648) % 2 = 0
        ),
        means AS (
          SELECT r, CAST(sum(cents) AS BIGINT) AS s, count(*) AS n,
                 CAST(sum(cents) AS DOUBLE) / count(*) AS m
          FROM sel GROUP BY r
        ),
        ranked AS (
          SELECT m, row_number() OVER (ORDER BY m, r) AS rn FROM means
        ),
        ci AS (
          SELECT round(max(CASE WHEN rn = 2 THEN m END), 6) AS lo_mean,
                 round(max(CASE WHEN rn = {BOOT_REPS - 1} THEN m END), 6)
                   AS hi_mean
          FROM ranked
        ),
        pt AS (
          SELECT count(*) AS n_total,
                 round(CAST(sum(cents) AS DOUBLE) / count(*), 6) AS point_mean
          FROM base
        )
        SELECT n_total, point_mean, lo_mean, hi_mean FROM pt, ci
    """,
)
def agg_bootstrap_ci(spark, sf_dir):
    """Bootstrap confidence interval for the mean purchase value via
    DETERMINISTIC half-sampling: 32 replicates, each keeping the rows
    whose two-step LCG hash of (event_id, replicate) is even — a
    derandomized subsample bootstrap whose replicate membership is a
    pure integer function both engines evaluate identically (no RNG
    state, no sampleBy nondeterminism). Replicate means are exact
    BIGINT sums over the selected cents; the 90% CI takes the 2nd and
    31st order statistics of the 32 means (row_number with an (m, r)
    tiebreak).

    Scale: the replicate fan-out is a row-local explode (32×, map
    side), the per-replicate aggregation is one map-side-combinable
    groupBy(r) — state is B partial sums regardless of data size, the
    classic Poisson/subsample-bootstrap layout for distributed
    inference. No data-sized shuffle, no collect."""
    e = table(spark, sf_dir, "events")
    base = e.filter(F.col("event_type") == "purchase").select(
        "event_id", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    rep = base.select(
        "event_id",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_REPS - 1))).alias("r"),
    )
    h1 = (F.col("event_id") * 1103515245 + F.col("r") * 12345) % 2147483648
    sel = rep.withColumn("h1", h1).filter(
        ((F.col("h1") * 1103515245 + 12345) % 2147483648) % 2 == 0
    )
    means = sel.groupBy("r").agg(
        (F.sum("cents").cast("double") / F.count(F.lit(1))).alias("m")
    )
    ranked = means.withColumn(
        "rn", F.row_number().over(Window.orderBy("m", "r"))
    )
    ci = ranked.agg(
        F.round(F.max(F.when(F.col("rn") == 2, F.col("m"))), 6).alias(
            "lo_mean"
        ),
        F.round(
            F.max(F.when(F.col("rn") == BOOT_REPS - 1, F.col("m"))), 6
        ).alias("hi_mean"),
    )
    pt = base.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.round(F.sum("cents").cast("double") / F.count(F.lit(1)), 6).alias(
            "point_mean"
        ),
    )
    return pt.crossJoin(ci)

@register(
    "agg_benford_digit_test",
    oracle="""
        WITH d AS (
          SELECT CAST(substr(CAST(CAST(round(o_totalprice) AS BIGINT)
                       AS VARCHAR), 1, 1) AS BIGINT) AS digit
          FROM orders WHERE o_totalprice >= 1
        ),
        c AS (
          SELECT digit, count(*) AS n_obs,
                 CAST(sum(count(*)) OVER () AS BIGINT) AS n
          FROM d GROUP BY digit
        )
        SELECT digit, n_obs,
               round(n * log10(1 + 1.0 / digit), 6) AS expected,
               round((n_obs - n * log10(1 + 1.0 / digit))
                     * (n_obs - n * log10(1 + 1.0 / digit))
                     / (n * log10(1 + 1.0 / digit)), 6) AS chi2_contrib
        FROM c
    """,
)
def agg_benford_digit_test(spark, sf_dir):
    """Benford's-law first-digit test on order totals — the
    fraud/forensic-accounting screen: observed leading-digit counts vs
    the log10(1+1/d) expectation, with per-digit χ² contributions.
    Counts are exact (digit from the rounded integer's first
    character — same spelling both engines); expectation and χ² are
    one identical-structure double expression per digit. On TPC-H-like
    synthetic totals the χ² is deliberately large — the op's job is
    to MEASURE conformance, not assume it.

    Scale: one map-side-combinable count by digit (9 groups), one
    windowed total — O(1) state; the fact scan is the entire cost."""
    o = table(spark, sf_dir, "orders")
    digit = F.substring(
        F.round("o_totalprice").cast("long").cast("string"), 1, 1
    ).cast("long")
    c = (
        o.filter(F.col("o_totalprice") >= 1)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("n_obs"))
        .withColumn("n", F.sum("n_obs").over(Window.partitionBy()))
    )
    expected = F.col("n") * F.log10(1 + 1.0 / F.col("digit"))
    return c.select(
        "digit",
        "n_obs",
        F.round(expected, 6).alias("expected"),
        F.round(
            (F.col("n_obs") - expected) * (F.col("n_obs") - expected) / expected,
            6,
        ).alias("chi2_contrib"),
    )

@register("agg_hll_error_audit")  # rows-only: HLL estimate is impl-defined
def agg_hll_error_audit(spark, sf_dir):
    """Sketch-quality audit for HyperLogLog: per event_type,
    approx_count_distinct(user_id) vs the EXACT distinct count, with
    the signed relative error in 1e-4 units — the dedup_minhash_
    error_audit sibling for the cardinality sketch. The default rsd
    is 5%; tests pin |err| ≤ 15% (3σ) per group plus double-run
    determinism (Spark's HLL is deterministic for fixed data: no RNG,
    just hashing).

    Scale: both aggregates are map-side combinable in the SAME
    groupBy pass — auditing the sketch costs one extra exact
    count-distinct at fixture scale; at 100 TB you audit on a sample
    or a small key slice, which this plan shape makes a filter."""
    e = table(spark, sf_dir, "events")
    g = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id").alias("estimate"),
    )
    err = (
        (F.col("estimate") - F.col("exact")).cast("double") / F.col("exact")
    )
    return g.select(
        "event_type",
        "exact",
        "estimate",
        F.round(err * 10000).cast("long").alias("rel_err_bp"),
    )

MV_SPLIT = "2001-01-01"

@register(
    "agg_incremental_mv_merge",
    oracle="""
        SELECT o_orderpriority AS prio,
               CAST(year(o_orderdate) AS INT) AS yr,
               count(*) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS sum_cents,
               (CAST(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                          AS BIGINT) AS DOUBLE) / count(*)) / 100.0
                 AS avg_price
        FROM orders
        GROUP BY 1, 2
    """,
)
def agg_incremental_mv_merge(spark, sf_dir):
    """Incremental materialized-view maintenance: the accumulated MV
    state is a table of RE-AGGREGATABLE partials (count + exact cent
    sum per (priority, year)) persisted to parquet; a new batch
    (orders on/after MV_SPLIT) is partially aggregated the same way
    and MERGED into the state with one sum-of-partials groupBy. The
    oracle is the full recompute over all of orders — passing the hash
    proves merge(state, batch) == recompute(all), the algebraic
    property incremental MVs rely on.

    Scale: maintenance cost is O(new batch) + O(|MV| keys), never
    O(history) — the only way rolling aggregates stay cheap at 100 TB.
    Both passes are map-side-combinable; the merge shuffles |MV| rows
    (35 here). Finals (avg) are derived AFTER the merge, from exact
    int partials, so they are shuffle-order-proof."""
    import os

    from ..registry import scratch_dir

    o = table(spark, sf_dir, "orders")
    split = F.lit(MV_SPLIT).cast("timestamp_ntz")

    def partial(df):
        return df.groupBy(
            F.col("o_orderpriority").alias("prio"),
            F.year("o_orderdate").alias("yr"),
        ).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("sum_cents"),
        )

    base = scratch_dir("agg_incremental_mv_merge")
    state_path = os.path.join(base, "mv_state")
    partial(o.filter(F.col("o_orderdate") < split)).write.mode(
        "overwrite"
    ).parquet(state_path)
    state = spark.read.parquet(state_path)
    batch = partial(o.filter(F.col("o_orderdate") >= split))
    merged = (
        state.unionByName(batch)
        .groupBy("prio", "yr")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("sum_cents").alias("sum_cents"),
        )
    )
    return merged.select(
        "prio",
        "yr",
        "n_orders",
        "sum_cents",
        (
            (F.col("sum_cents").cast("double") / F.col("n_orders")) / 100.0
        ).alias("avg_price"),
    )

@register(
    "agg_decimal_exact",
    oracle="""
        SELECT o_orderpriority AS prio,
               count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)
                 AS sum_price_dec,
               CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)
                 AS min_price_dec,
               CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)
                 AS max_price_dec,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                          AS DOUBLE) / count(*), 6) AS avg_price
        FROM orders GROUP BY 1
    """,
)
def agg_decimal_exact(spark, sf_dir):
    """Native DecimalType aggregation — the PRODUCTION answer to
    order-dependent money sums that the engine's dsum() integer trick
    emulates: cast the fixed-2-decimal price to DECIMAL(18,2) and let
    the engine sum exactly (decimal addition is associative and
    commutative, so shuffle-merge order cannot change the result —
    no quantization gymnastics needed). Sum/min/max stay decimal end
    to end; the average is derived from the exact decimal sum with a
    single double division. Both engines recover the same decimal
    from the same double bit pattern (the money columns are exact
    2-decimal values, FIXTURES.md), and both widen the sum's
    precision so it cannot overflow.

    Scale: a plain map-side-combinable hash aggregate; decimal
    arithmetic costs ~2x long arithmetic JVM-side but removes the
    int64-headroom ceiling the quantized-sum spelling hits at very
    large row counts — at 100 TB this spelling is the default and
    dsum() is the micro-optimization, not the other way around."""
    o = table(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    return o.groupBy(F.col("o_orderpriority").alias("prio")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec).cast("string").alias("sum_price_dec"),
        F.min(dec).cast("string").alias("min_price_dec"),
        F.max(dec).cast("string").alias("max_price_dec"),
        F.round(
            F.sum(dec).cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_price"),
    )

DID_SPLIT = "2024-01-16"

@register(
    "agg_weighted_median",
    oracle="""
        WITH v AS (
          SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
                 CAST(l_quantity AS BIGINT) AS w
          FROM lineitem
        ),
        g AS (SELECT cents, CAST(sum(w) AS BIGINT) AS wg FROM v GROUP BY 1),
        c AS (
          SELECT cents, wg,
                 CAST(sum(wg) OVER (ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cumw
          FROM g
        ),
        t AS (SELECT CAST(sum(wg) AS BIGINT) AS totw FROM g)
        SELECT t.totw AS total_weight,
               CAST(min(c.cents) AS BIGINT) AS weighted_median_cents
        FROM c, t
        WHERE 2 * c.cumw >= t.totw
        GROUP BY t.totw
    """,
)
def agg_weighted_median(spark, sf_dir):
    """Exact quantity-weighted median price — the 'typical transacted
    price' that an unweighted median misstates when big orders cluster
    at one end. Spelling: collapse to the distinct-price spine with
    integer weight sums (quantities are integral, FIXTURES-exact),
    one ordered prefix sum over the spine, then the smallest price
    whose doubled cumulative weight reaches the total (2*cumw >= totw
    keeps the midpoint test in exact integers — no fractional
    comparison anywhere).

    Scale: same discipline as the other spine ops — the ordered pass
    runs over DISTINCT prices, everything else is map-side
    combinable."""
    li = table(spark, sf_dir, "lineitem")
    v = li.select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    g = v.groupBy("cents").agg(F.sum("w").alias("wg"))
    wspine = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = g.select(
        "cents", F.sum("wg").over(wspine).alias("cumw")
    )
    t = g.agg(F.sum("wg").alias("totw"))
    return (
        c.crossJoin(F.broadcast(t))
        .filter(2 * F.col("cumw") >= F.col("totw"))
        .groupBy(F.col("totw").alias("total_weight"))
        .agg(F.min("cents").alias("weighted_median_cents"))
    )

@register(
    "agg_percent_of_parent_rollup",
    oracle="""
        WITH leaf AS (
          SELECT c.c_nationkey AS nk, o.o_orderpriority AS prio,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS cents
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          GROUP BY 1, 2
        ),
        nat AS (
          SELECT nk, CAST(sum(cents) AS BIGINT) AS nat_cents
          FROM leaf GROUP BY 1
        ),
        tot AS (SELECT CAST(sum(cents) AS BIGINT) AS t FROM leaf)
        SELECT leaf.nk AS nationkey, leaf.prio, leaf.n,
               leaf.cents AS rev_cents,
               round(CAST(leaf.cents AS DOUBLE) / nat.nat_cents, 6)
                 AS pct_of_nation,
               round(CAST(nat.nat_cents AS DOUBLE) / tot.t, 6)
                 AS nation_pct_of_total
        FROM leaf JOIN nat USING (nk), tot
    """,
)
def agg_percent_of_parent_rollup(spark, sf_dir):
    """Percent-of-parent report — the drill-down table every BI tool
    renders: each (nation, priority) leaf with its share of ITS
    nation and each nation's share of the grand total, so subtotals
    read correctly at every level. Unlike a ROLLUP (which emits mixed
    grains in one relation), this keeps one grain per column: exact
    cent sums at the leaf, parent totals joined back from the nation
    spine, shares as identical double expressions.

    Scale: one map-side-combinable leaf rollup; the parent spine
    (25 nations) and the grand-total scalar broadcast — the fact
    table is scanned exactly once."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    leaf = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            o.o_custkey == c.c_custkey,
        )
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            F.col("o_orderpriority").alias("prio"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("cents"),
        )
    )
    nat = leaf.groupBy("nk").agg(F.sum("cents").alias("nat_cents"))
    tot = leaf.agg(F.sum("cents").alias("t"))
    return (
        leaf.join(F.broadcast(nat), "nk")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("nk").alias("nationkey"),
            "prio",
            "n",
            F.col("cents").alias("rev_cents"),
            F.round(
                F.col("cents").cast("double") / F.col("nat_cents"), 6
            ).alias("pct_of_nation"),
            F.round(
                F.col("nat_cents").cast("double") / F.col("t"), 6
            ).alias("nation_pct_of_total"),
        )
    )

@register(
    "agg_percentile_disc_vs_cont",
    oracle="""
        WITH x AS (
          SELECT o_orderpriority AS prio,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders
        ),
        g AS (SELECT prio, cents, count(*) AS n_g FROM x GROUP BY 1, 2),
        c AS (
          SELECT prio, cents,
                 CAST(sum(n_g) OVER (PARTITION BY prio ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cumn
          FROM g
        ),
        t AS (SELECT prio, CAST(count(*) AS BIGINT) AS n FROM x GROUP BY 1),
        disc AS (
          SELECT c.prio, CAST(min(c.cents) AS BIGINT) AS p50_disc
          FROM c JOIN t ON c.prio = t.prio
          WHERE 2 * c.cumn >= t.n GROUP BY 1
        ),
        lo AS (
          SELECT c.prio, CAST(min(c.cents) AS BIGINT) AS v_lo
          FROM c JOIN t ON c.prio = t.prio
          WHERE c.cumn >= (t.n + 1) // 2 GROUP BY 1
        ),
        hi AS (
          SELECT c.prio, CAST(min(c.cents) AS BIGINT) AS v_hi
          FROM c JOIN t ON c.prio = t.prio
          WHERE c.cumn >= t.n // 2 + 1 GROUP BY 1
        )
        SELECT t.prio, t.n, disc.p50_disc,
               round((v_lo + v_hi) / 2.0, 6) AS p50_cont,
               CAST(disc.p50_disc <> (v_lo + v_hi) / 2.0 AS BIGINT)
                 AS diverges
        FROM t JOIN disc ON t.prio = disc.prio
               JOIN lo ON t.prio = lo.prio
               JOIN hi ON t.prio = hi.prio
    """,
)
def agg_percentile_disc_vs_cont(spark, sf_dir):
    """percentile_disc vs percentile_cont — the median-definition trap:
    with an even row count the discrete median is a VALUE FROM THE
    DATA while the continuous one is the midpoint of the two central
    values, and reports silently disagree depending on which the
    engine defaults to. Both are computed from the same distinct-value
    spine with integer midpoint tests (disc: first value with
    2·cum >= n; cont: average of the ceil(n/2)-th and (n/2+1)-th order
    statistics), so no interpolation doubles enter until the one final
    midpoint division; a per-priority diverges flag marks where the
    two definitions actually differ.

    Scale: the registry's standard exact-order-statistic contract —
    one combinable rollup to the value spine, prefix sums and the
    selections on that spine only."""
    o = table(spark, sf_dir, "orders")
    x = o.select(
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    g = x.groupBy("prio", "cents").agg(F.count(F.lit(1)).alias("n_g"))
    wc = (
        Window.partitionBy("prio")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = g.select("prio", "cents", F.sum("n_g").over(wc).alias("cumn"))
    t = x.groupBy("prio").agg(F.count(F.lit(1)).alias("n"))
    ct = c.join(F.broadcast(t), "prio")
    disc = (
        ct.filter(2 * F.col("cumn") >= F.col("n"))
        .groupBy("prio")
        .agg(F.min("cents").alias("p50_disc"))
    )
    lo = (
        ct.filter(F.col("cumn") >= F.floor((F.col("n") + 1) / 2))
        .groupBy("prio")
        .agg(F.min("cents").alias("v_lo"))
    )
    hi = (
        ct.filter(F.col("cumn") >= F.floor(F.col("n") / 2) + 1)
        .groupBy("prio")
        .agg(F.min("cents").alias("v_hi"))
    )
    return (
        t.join(disc, "prio")
        .join(lo, "prio")
        .join(hi, "prio")
        .select(
            "prio",
            "n",
            "p50_disc",
            F.round((F.col("v_lo") + F.col("v_hi")) / 2.0, 6).alias(
                "p50_cont"
            ),
            (
                F.col("p50_disc").cast("double")
                != (F.col("v_lo") + F.col("v_hi")) / 2.0
            )
            .cast("long")
            .alias("diverges"),
        )
    )

POIS1_CDF = [
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
]

def _pois_case_sql(u: str) -> str:
    branches = "".join(
        f" WHEN {u} < {c!r} THEN {k}"
        for k, c in enumerate(POIS1_CDF)
    )
    return f"CASE{branches} ELSE 6 END"

@register(
    "sample_poisson_bootstrap",
    oracle=f"""
        WITH r AS (SELECT l.l + 1 AS rep FROM unnest(range(5)) l(l)),
        w AS (
          SELECT r.rep,
                 CAST(round(e.value * 100) AS BIGINT) AS cents,
                 {_pois_case_sql(
                   "(CAST(('0x' || substr(md5(r.rep || ':' || e.event_id), 1, 8)) AS BIGINT) / 4294967296.0)"
                 )} AS k
          FROM events e, r
        )
        SELECT CAST(rep AS BIGINT) AS rep,
               CAST(sum(k) AS BIGINT) AS n_resampled,
               CAST(sum(k * cents) AS BIGINT) AS sum_cents,
               round(CAST(sum(k * cents) AS DOUBLE) / sum(k) / 100.0, 6)
                 AS mean_value
        FROM w GROUP BY 1
    """,
)
def sample_poisson_bootstrap(spark, sf_dir):
    """Online (Poisson) bootstrap — the distributed bootstrap that
    needs NO resampling pass: each row independently receives a
    Poisson(1) replication weight per replicate, giving replicate
    means whose spread estimates the sampling error of the mean. The
    Poisson draw is DETERMINISTIC (md5 of replicate:event_id → uniform
    in [0,1) → inverse-CDF lookup against fixed thresholds), so both
    engines draw byte-identical weights and the whole op value-hashes
    — the trick that also makes production bootstraps reproducible
    across retries. Weighted sums are exact int64 cents.

    Scale: THE way to bootstrap 100 TB — map-only weight assignment
    fused into one combinable aggregate per replicate; 5 replicates =
    5-row output, zero data movement beyond the partial sums. A
    resample-by-copy bootstrap would shuffle the corpus 5×."""
    e = table(spark, sf_dir, "events")
    reps = spark.range(1, 6).select(F.col("id").alias("rep"))
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("rep").cast("string"),
                        F.lit(":"),
                        F.col("event_id").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        / 4294967296.0
    )
    k = F.lit(6)
    for kk in range(len(POIS1_CDF) - 1, -1, -1):
        k = F.when(u < POIS1_CDF[kk], F.lit(kk)).otherwise(k)
    w = e.crossJoin(F.broadcast(reps)).select(
        "rep",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        k.alias("k"),
    )
    return w.groupBy(F.col("rep").cast("long").alias("rep")).agg(
        F.sum("k").alias("n_resampled"),
        F.sum(F.col("k") * F.col("cents")).alias("sum_cents"),
        F.round(
            F.sum(F.col("k") * F.col("cents")).cast("double")
            / F.sum("k")
            / 100.0,
            6,
        ).alias("mean_value"),
    )

KMV_K = 64  # bottom-k sketch size: RSE ~ 1/sqrt(K-2) ~ 12.7%

@register(
    "agg_kmv_distinct",
    oracle=f"""
        WITH h AS (
            SELECT DISTINCT event_type,
                   CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                        AS BIGINT) AS hv
            FROM events),
        scoped AS (
            SELECT event_type AS scope, hv FROM h
            UNION ALL
            SELECT 'TOTAL' AS scope, hv FROM (SELECT DISTINCT hv FROM h)),
        ranked AS (
            SELECT scope, hv,
                   row_number() OVER (PARTITION BY scope ORDER BY hv) AS rn,
                   count(*) OVER (PARTITION BY scope) AS n_hashes
            FROM scoped),
        kth AS (
            SELECT scope, max(hv) AS hk, max(n_hashes) AS n_hashes
            FROM ranked WHERE rn <= {KMV_K} GROUP BY scope),
        ex AS (
            SELECT event_type AS scope,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
            FROM events GROUP BY event_type
            UNION ALL
            SELECT 'TOTAL', CAST(count(DISTINCT user_id) AS BIGINT)
            FROM events)
        SELECT k.scope,
               CASE WHEN k.n_hashes < {KMV_K} THEN k.n_hashes
                    ELSE ({KMV_K - 1} * 4294967296) // k.hk END AS est_users,
               ex.exact_users
        FROM kth k JOIN ex ON ex.scope = k.scope
        ORDER BY k.scope
    """,
)
def agg_kmv_distinct(spark, sf_dir):
    """KMV (k-minimum-values / bottom-k) distinct-count sketch — the
    fourth sketch family member (HLL: agg_hll_sketch_merge, CMS:
    agg_count_min_sketch, top-k: agg_approx_top_k) and, unlike
    Spark's internal HLL bytes, fully value-hash-oracled: the sketch
    IS the K smallest portable md5 hashes, so both engines compute
    the identical estimate (K-1)·2^32 // h_(K) (Bar-Yossef et al.
    2002), with the exact count answered directly when fewer than K
    distinct hashes exist.

    Scale shape: bottom-K per group is a per-key window limit —
    Spark plans WindowGroupLimit, which prunes to K rows map-side
    before the shuffle — and the TOTAL sketch is the bottom-K of the
    UNION of per-type sketches (mergeability, the property that lets
    per-day sketches roll up to any grain without rescanning). The
    integer floor-div estimate is portable (positive operands, where
    DuckDB's // equals Spark's div)."""
    e = table(spark, sf_dir, "events")
    h = (
        e.select(
            "event_type",
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
            .cast("long")
            .alias("hv"),
        )
        .distinct()
    )
    scoped = h.select(F.col("event_type").alias("scope"), "hv").unionByName(
        h.select("hv").distinct().select(F.lit("TOTAL").alias("scope"), "hv")
    )
    w = Window.partitionBy("scope").orderBy("hv")
    # rank filter directly above a SINGLE window function so Spark's
    # InferWindowGroupLimit fires (plan-asserted): each map task keeps
    # only its local bottom-K before the shuffle — the property that
    # makes a bottom-K sketch O(K) per task at 100 TB. The per-scope
    # hash count rides a separate map-side-combinable agg instead of
    # a second window function (which would block the rewrite).
    counts = scoped.groupBy("scope").agg(F.count(F.lit(1)).alias("n_hashes"))
    kth = (
        scoped.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
        .groupBy("scope")
        .agg(F.max("hv").alias("hk"))
        .join(counts, "scope")
    )
    ex = (
        e.groupBy(F.col("event_type").alias("scope"))
        .agg(F.countDistinct("user_id").alias("exact_users"))
        .unionByName(
            e.agg(F.countDistinct("user_id").alias("exact_users")).select(
                F.lit("TOTAL").alias("scope"), "exact_users"
            )
        )
    )
    est = F.when(F.col("n_hashes") < KMV_K, F.col("n_hashes")).otherwise(
        F.expr(f"({KMV_K - 1} * 4294967296) div hk")
    )
    return (
        kth.join(ex, "scope")
        .select("scope", est.alias("est_users"), "exact_users")
        .orderBy("scope")
    )

HLLP_B = 4  # register-index bits -> m = 16 registers

HLLP_M = 1 << HLLP_B

HLLP_ALPHA_M2 = 0.673 * HLLP_M * HLLP_M  # alpha_16 * m^2, one double literal

def _hllp_rho_sql(col):
    """Leading-zero rank of the 28-bit hash remainder as a CASE chain
    of pure integer comparisons — no log2/bit_length, so both engines
    agree bit-for-bit."""
    arms = " ".join(
        f"WHEN {col} >= {1 << (27 - r)} THEN {r + 1}" for r in range(28)
    )
    return f"CASE {arms} ELSE 29 END"

@register(
    "agg_hll_portable",
    oracle=f"""
        WITH h AS (
            SELECT DISTINCT event_type,
                   CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                        AS BIGINT) AS hv
            FROM events),
        reg0 AS (
            SELECT event_type, hv >> 28 AS bucket,
                   {_hllp_rho_sql("(hv & 268435455)")} AS rho
            FROM h),
        regs AS (
            SELECT event_type AS scope, bucket, max(rho) AS m
            FROM reg0 GROUP BY 1, 2
            UNION ALL
            SELECT 'TOTAL', bucket, max(rho) FROM reg0 GROUP BY 2),
        s AS (
            SELECT scope,
                   sum(1.0 / (1::BIGINT << m)) + ({HLLP_M} - count(*)) * 1.0 AS ssum
            FROM regs GROUP BY scope),
        ex AS (
            SELECT event_type AS scope,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
            FROM events GROUP BY event_type
            UNION ALL
            SELECT 'TOTAL', CAST(count(DISTINCT user_id) AS BIGINT)
            FROM events)
        SELECT s.scope,
               CAST({HLLP_ALPHA_M2!r} AS DOUBLE) / s.ssum AS est_users,
               ex.exact_users
        FROM s JOIN ex ON ex.scope = s.scope
        ORDER BY s.scope
    """,
)
def agg_hll_portable(spark, sf_dir):
    """Explicit PORTABLE HyperLogLog (Flajolet et al. 2007) — the
    white-box twin of agg_hll_sketch_merge: registers are max
    leading-zero ranks of md5-hash remainders (bucket = top 4 hash
    bits, m=16), the TOTAL sketch is the per-bucket MAX across the
    per-type sketches (the HLL merge), and the raw estimate
    alpha_m·m²/S is a deterministic double because S = Σ2^(−M_j) is
    a sum of single-bit binary fractions (M ≤ 29 spans < 52 mantissa
    bits — EXACT in IEEE double in any summation order) and the rho
    rank is a pure integer CASE chain, no log2. So unlike Spark's
    internal sketch bytes, every register and the estimate itself
    value-hash against the oracle.

    Scale shape: one map-side-combinable (scope, bucket) max-agg —
    registers are the only state (m rows per group), the merge is
    associative, and nothing but the 16-register table leaves the
    aggregation. n=150–1500 here sits in the raw-HLL regime for m=16
    (n > 2.5m), so no small-range correction branch is exercised."""
    e = table(spark, sf_dir, "events")
    h = (
        e.select(
            "event_type",
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
            .cast("long")
            .alias("hv"),
        )
        .distinct()
    )
    reg0 = h.select(
        "event_type",
        F.shiftright("hv", 28).alias("bucket"),
        F.expr(_hllp_rho_sql("(hv & 268435455)")).alias("rho"),
    )
    regs = (
        reg0.groupBy(F.col("event_type").alias("scope"), "bucket")
        .agg(F.max("rho").alias("m"))
        .unionByName(
            reg0.groupBy("bucket")
            .agg(F.max("rho").alias("m"))
            .select(F.lit("TOTAL").alias("scope"), "bucket", "m")
        )
    )
    s = regs.groupBy("scope").agg(
        (
            F.sum(F.lit(1.0) / F.expr("1L << m"))
            + (F.lit(HLLP_M) - F.count(F.lit(1))) * F.lit(1.0)
        ).alias("ssum")
    )
    ex = (
        e.groupBy(F.col("event_type").alias("scope"))
        .agg(F.countDistinct("user_id").alias("exact_users"))
        .unionByName(
            e.agg(F.countDistinct("user_id").alias("exact_users")).select(
                F.lit("TOTAL").alias("scope"), "exact_users"
            )
        )
    )
    return (
        s.join(ex, "scope")
        .select(
            "scope",
            (F.lit(HLLP_ALPHA_M2) / F.col("ssum")).alias("est_users"),
            "exact_users",
        )
        .orderBy("scope")
    )

@register(
    "agg_kmv_set_ops",
    oracle=f"""
        WITH h AS (
            SELECT DISTINCT event_type,
                   CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                        AS BIGINT) AS hv
            FROM events),
        sk AS MATERIALIZED (
            SELECT event_type, hv FROM (
                SELECT event_type, hv,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY hv) AS rn
                FROM h) WHERE rn <= {KMV_K}),
        pd AS (SELECT a.event_type AS ta, b.event_type AS tb
               FROM (SELECT DISTINCT event_type FROM events) a
               JOIN (SELECT DISTINCT event_type FROM events) b
                 ON a.event_type < b.event_type),
        pu AS (SELECT DISTINCT ta, tb, hv FROM (
                   SELECT p.ta, p.tb, s.hv FROM pd p
                   JOIN sk s ON s.event_type = p.ta
                   UNION ALL
                   SELECT p.ta, p.tb, s.hv FROM pd p
                   JOIN sk s ON s.event_type = p.tb)),
        m AS MATERIALIZED (
            SELECT ta, tb, hv FROM (
                SELECT ta, tb, hv,
                       row_number() OVER (PARTITION BY ta, tb
                                          ORDER BY hv) AS rn
                FROM pu) WHERE rn <= {KMV_K}),
        mstats AS (
            SELECT m.ta, m.tb,
                   CAST(count(*) AS BIGINT) AS n_kept,
                   max(m.hv) AS hk,
                   CAST(sum(CASE WHEN sa.hv IS NOT NULL
                                  AND sb.hv IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_both
            FROM m
            LEFT JOIN sk sa ON sa.event_type = m.ta AND sa.hv = m.hv
            LEFT JOIN sk sb ON sb.event_type = m.tb AND sb.hv = m.hv
            GROUP BY 1, 2),
        est AS (
            SELECT ta, tb, n_both, n_kept,
                   CASE WHEN n_kept < {KMV_K} THEN n_kept
                        ELSE ({KMV_K - 1} * 4294967296) // hk END AS est_union
            FROM mstats),
        ex AS (
            SELECT p.ta, p.tb,
                   CAST(count(DISTINCT e.user_id) AS BIGINT) AS exact_union,
                   CAST(count(DISTINCT CASE WHEN ea.user_id IS NOT NULL
                                             AND eb.user_id IS NOT NULL
                                        THEN e.user_id END) AS BIGINT)
                       AS exact_inter
            FROM pd p
            JOIN events e ON e.event_type IN (p.ta, p.tb)
            LEFT JOIN (SELECT DISTINCT event_type, user_id FROM events) ea
              ON ea.event_type = p.ta AND ea.user_id = e.user_id
            LEFT JOIN (SELECT DISTINCT event_type, user_id FROM events) eb
              ON eb.event_type = p.tb AND eb.user_id = e.user_id
            GROUP BY 1, 2)
        SELECT e.ta AS type_a, e.tb AS type_b,
               e.est_union,
               (e.n_both * e.est_union) // e.n_kept AS est_inter,
               x.exact_union, x.exact_inter
        FROM est e JOIN ex x ON x.ta = e.ta AND x.tb = e.tb
        ORDER BY type_a, type_b
    """,
)
def agg_kmv_set_ops(spark, sf_dir):
    """KMV sketch SET ALGEBRA (the theta-sketch pattern): for every
    event-type pair, the union's distinct-user count is estimated
    from the bottom-K of the MERGED sketches, and the intersection
    via the inclusion fraction — the share of the union's K-mins
    present in BOTH per-type sketches, scaled by the union estimate
    (Beyer et al. 2007). This is the query sketches exist for at
    100 TB: per-segment sketches are built once, then ANY pair's
    union/intersection/Jaccard is answered from 2×K integers without
    rescanning — the audience-overlap query shape. Everything is
    exact integer arithmetic over portable md5 hashes, so the
    estimates (not just the exacts) value-hash against the oracle.

    Scale: per-type sketches are the same WindowGroupLimit bottom-K
    as agg_kmv_distinct; the pair fan-out joins the 10-row type-pair
    dim to K-row sketches — O(pairs·K), corpus-independent. Exact
    comparison columns ride separate distinct joins (fixture-sized
    here; at scale you would NOT compute them — that is the point)."""
    e = table(spark, sf_dir, "events")
    h = (
        e.select(
            "event_type",
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
            .cast("long")
            .alias("hv"),
        )
        .distinct()
    )
    w = Window.partitionBy("event_type").orderBy("hv")
    sk = (
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
        .select("event_type", "hv")
        .persist()  # consumed by the union build AND two membership joins
    )
    types = e.select("event_type").distinct()
    # the pair dim is ≤ C(|types|,2) rows but feeds TWO sketch joins —
    # materialize it once so the events-distinct subtree isn't planned
    # and executed per consumer (guide §3.3; optimization r13)
    pd_ = (
        types.select(F.col("event_type").alias("ta"))
        .join(
            types.select(F.col("event_type").alias("tb")),
            F.col("ta") < F.col("tb"),
        )
        .localCheckpoint(eager=True)
    )
    pu = (
        pd_.join(sk.withColumnsRenamed({"event_type": "ta"}), "ta")
        .select("ta", "tb", "hv")
        .unionByName(
            pd_.join(sk.withColumnsRenamed({"event_type": "tb"}), "tb")
            .select("ta", "tb", "hv")
        )
        .distinct()
    )
    wm = Window.partitionBy("ta", "tb").orderBy("hv")
    m = (
        pu.withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") <= KMV_K)
        .select("ta", "tb", "hv")
    )
    sa = sk.select(F.col("event_type").alias("ta"), F.col("hv").alias("ha"))
    sb = sk.select(F.col("event_type").alias("tb"), F.col("hv").alias("hb"))
    mstats = (
        m.join(sa, (sa.ta == m.ta) & (sa.ha == m.hv), "left")
        .join(sb, (sb.tb == m.tb) & (sb.hb == m.hv), "left")
        .groupBy(m.ta, m.tb)
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.max(m.hv).alias("hk"),
            F.sum(
                (F.col("ha").isNotNull() & F.col("hb").isNotNull()).cast("long")
            ).alias("n_both"),
        )
    )
    est_union = F.when(F.col("n_kept") < KMV_K, F.col("n_kept")).otherwise(
        F.expr(f"({KMV_K - 1} * 4294967296) div hk")
    )
    est = mstats.select(
        "ta",
        "tb",
        est_union.alias("est_union"),
        "n_both",
        "n_kept",
    )
    # exact comparison columns: per pair, union = distinct users in
    # either type, intersection = distinct users in both
    tu = e.select("event_type", "user_id").distinct().persist()
    ua = tu.withColumnsRenamed({"event_type": "ta"})
    ub = tu.withColumnsRenamed({"event_type": "tb"})
    ue = (
        pd_.join(ua, "ta").select("ta", "tb", "user_id")
        .unionByName(pd_.join(ub, "tb").select("ta", "tb", "user_id"))
        .distinct()
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("exact_union"))
    )
    ie = (
        pd_.join(ua, "ta")
        .join(ub.select("tb", F.col("user_id").alias("u2")),
              "tb")
        .filter(F.col("user_id") == F.col("u2"))
        .select("ta", "tb", "user_id")
        .distinct()
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    return (
        est.join(ue, ["ta", "tb"])
        .join(ie, ["ta", "tb"], "left")
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            "est_union",
            F.expr("(n_both * est_union) div n_kept").alias("est_inter"),
            "exact_union",
            F.coalesce("exact_inter", F.lit(0)).alias("exact_inter"),
        )
        .orderBy("type_a", "type_b")
    )
