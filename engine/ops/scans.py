"""2.A — scans, projection pruning, predicate pushdown (SURVEY §2.A).

These look trivial but they pin the physical contract that matters at
100 TB: the Parquet scan must receive the pushed filter and the pruned
column list (verified by tests/test_plans.py against the formatted
plan), so a 2-column projection never pays for an 11-column read.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..registry import register, scratch_dir, table
from ..stream import read_feed, run_available_now


@register(
    "scan_parquet",
    oracle="SELECT count(*) AS n_rows FROM lineitem",
)
def scan_parquet(spark, sf_dir):
    """Full-table scan; count only — the scan should read zero data
    columns (count(*) is satisfied by parquet row-group metadata rows)."""
    return table(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n_rows"))


@register(
    "scan_projection",
    oracle="SELECT l_orderkey, l_quantity FROM lineitem",
)
def scan_projection(spark, sf_dir):
    """Column-pruned scan: ReadSchema must contain exactly these two."""
    return table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")


@register(
    "scan_predicate_pushdown",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_shipdate
        FROM lineitem
        WHERE l_shipdate < TIMESTAMP '1996-01-01'
    """,
)
def scan_predicate_pushdown(spark, sf_dir):
    """Filtered scan; the predicate must appear in PushedFilters."""
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp_ntz")
    ).select("l_orderkey", "l_linenumber", "l_shipdate")


@register(
    "source_csv_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def source_csv_roundtrip(spark, sf_dir):
    """CSV source/sink: write nation as headered CSV, read it back with
    an explicit schema (never inference in production paths — SURVEY
    §1.2). Value-hash parity against the original table proves the
    round-trip is lossless."""
    n = table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    out = scratch_dir("csv_rt")
    n.write.mode("overwrite").option("header", "true").csv(out)
    return spark.read.schema(
        "n_nationkey int, n_name string, n_regionkey int"
    ).option("header", "true").csv(out)


@register(
    "source_json_roundtrip",
    oracle="SELECT s_suppkey, s_name, s_nationkey, round(s_acctbal, 2) AS acctbal FROM supplier",
)
def source_json_roundtrip(spark, sf_dir):
    """JSON-lines source/sink round-trip with explicit schema; doubles
    are rounded identically on both sides (JSON text serialization is
    shortest-roundtrip, so the re-parsed double is bit-identical, but
    the oracle's column must be aliased anyway)."""
    s = table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", F.round("s_acctbal", 2).alias("acctbal")
    )
    out = scratch_dir("json_rt")
    s.write.mode("overwrite").json(out)
    return spark.read.schema(
        "s_suppkey int, s_name string, s_nationkey int, acctbal double"
    ).json(out)


@register(
    "sql_surface_q1",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               sum(CAST(round(l_quantity*100) AS BIGINT))/100.0 AS sum_qty,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-01'
        GROUP BY l_returnflag, l_linestatus
    """,
)
def sql_surface_q1(spark, sf_dir):
    """The E3 entry point (SURVEY §3): the same logical plan reached
    through a SQL string over a registered view instead of the
    DataFrame API — parser → analyzer → identical Catalyst pipeline."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               sum(CAST(round(l_quantity*100) AS BIGINT))/CAST(100 AS DOUBLE) AS sum_qty,
               count(*) AS count_order
        FROM v_lineitem
        WHERE l_shipdate <= TIMESTAMP_NTZ '2001-09-01'
        GROUP BY l_returnflag, l_linestatus
        """
    )


@register(
    "source_orc_roundtrip",
    oracle="SELECT event_id, user_id, event_type, value FROM events",
)
def source_orc_roundtrip(spark, sf_dir):
    """ORC source/sink round-trip (Spark's second native columnar
    format) — lossless against the parquet-derived original."""
    e = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    out = scratch_dir("orc_rt")
    e.write.mode("overwrite").orc(out)
    return spark.read.schema(
        "event_id long, user_id long, event_type string, value double"
    ).orc(out)


@register(
    "scan_observe_metrics",
    oracle="""
        SELECT count(*) AS n_rows,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_errors,
               CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT)
                 AS sum_value_e4
        FROM events
    """,
)
def scan_observe_metrics(spark, sf_dir):
    """Pipeline health metrics via df.observe(): row count, error
    count, and an exact scaled value sum accumulate DURING the main
    pass — zero extra scans, zero extra shuffles. This is how a
    production job emits data-quality counters (rows in, rows
    dead-lettered, bytes) without paying a second aggregation over
    100 TB: the Observation aggregates ride along as accumulator-style
    expressions on the existing tasks. The op returns the observed
    values (forced by one count() action) as a 1-row frame; the oracle
    recomputes them independently, so a drifting metric is a
    value-hash failure."""
    from pyspark.sql import Observation

    e = table(spark, sf_dir, "events")
    obs = Observation("health")
    observed = e.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("event_type") == "error").cast("long")).alias("n_errors"),
        F.sum(F.round(F.col("value") * 10000).cast("long")).alias("sum_value_e4"),
    )
    observed.write.format("noop").mode("overwrite").save()  # one real pass
    row = obs.get
    return spark.createDataFrame(
        [(row["n_rows"], row["n_errors"], row["sum_value_e4"])],
        "n_rows long, n_errors long, sum_value_e4 long",
    )


@register(
    "source_python_datasource",
    oracle="""
        SELECT id, (id * id) % 97 AS val
        FROM range(10000) t(id)
    """,
)
def source_python_datasource(spark, sf_dir):
    """Spark 4 Python DataSource API: a custom batch source
    ("pyrange") that splits its keyspace into 8 InputPartitions, each
    generating a deterministic stride of rows executor-side — the
    extension point a user would implement for a bespoke feed (REST
    pagination, proprietary format) without leaving Python. The read
    is fully parallel: one task per InputPartition, no driver-side
    materialization."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class PyRangeReader(DataSourceReader):
        def __init__(self, options):
            self.n = int(options.get("n", 1000))
            self.parts = int(options.get("parts", 8))

        def partitions(self):
            return [InputPartition(i) for i in range(self.parts)]

        def read(self, partition):
            # yield ONE Arrow RecordBatch per split instead of per-row
            # tuples: the vectorized form of the API (measured ~4×
            # faster end-to-end; at scale the per-row path re-pickles
            # every tuple through the Python worker).
            import pyarrow as pa

            ids = list(range(partition.value, self.n, self.parts))
            yield pa.record_batch(
                [
                    pa.array(ids, type=pa.int64()),
                    pa.array([(x * x) % 97 for x in ids], type=pa.int64()),
                ],
                names=["id", "val"],
            )

    class PyRangeSource(DataSource):
        @classmethod
        def name(cls):
            return "pyrange"

        def schema(self):
            return "id bigint, val bigint"

        def reader(self, schema):
            return PyRangeReader(self.options)

    spark.dataSource.register(PyRangeSource)
    return (
        spark.read.format("pyrange")
        .option("n", "10000")
        .option("parts", "8")
        .load()
    )


@register(
    "sql_recursive_cte",
    oracle="""
        WITH RECURSIVE edges AS (
          SELECT DISTINCT prev AS src, event_type AS dst FROM (
            SELECT user_id, event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev
            FROM events
          ) WHERE prev IS NOT NULL
        ),
        reach(node, depth) AS (
          SELECT 'signup', 0
          UNION ALL
          SELECT e.dst, r.depth + 1
          FROM reach r JOIN edges e ON e.src = r.node
          WHERE r.depth < 3
        )
        SELECT node, min(depth) AS min_depth, count(*) AS n_paths
        FROM reach GROUP BY node ORDER BY node
    """,
)
def sql_recursive_cte(spark, sf_dir):
    """Recursive CTE (Spark 4 WITH RECURSIVE) — bounded-depth
    reachability over the event-transition graph derived from the
    data (which event types are reachable from 'signup' within 3
    hops, and along how many paths). The recursion runs over the
    dim-sized distinct-edge relation, never the raw events; the raw
    scan happens exactly once to build the edges.

    Same SQL text runs on both engines (the E3 parity surface)."""
    table(spark, sf_dir, "events").createOrReplaceTempView("v_events_rec")
    return spark.sql(
        """
        WITH RECURSIVE edges AS (
          SELECT DISTINCT prev AS src, event_type AS dst FROM (
            SELECT user_id, event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev
            FROM v_events_rec
          ) WHERE prev IS NOT NULL
        ),
        reach(node, depth) AS (
          SELECT 'signup', 0
          UNION ALL
          SELECT e.dst, r.depth + 1
          FROM reach r JOIN edges e ON e.src = r.node
          WHERE r.depth < 3
        )
        SELECT node, min(depth) AS min_depth, count(*) AS n_paths
        FROM reach GROUP BY node ORDER BY node
        """
    )


@register(
    "sql_lateral_topk",
    oracle="""
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM customer c, LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM orders
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2
        ) o
        ORDER BY c.c_custkey, o.o_orderkey
    """,
)
def sql_lateral_topk(spark, sf_dir):
    """Correlated LATERAL subquery with per-row ORDER BY + LIMIT
    (top-2 orders per customer) — the SQL spelling of
    win_topk_per_group. Catalyst decorrelates it into a join +
    ranking rather than executing one subquery per customer row;
    unique o_orderkey tiebreak keeps the limit deterministic."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("v_cust_lat")
    table(spark, sf_dir, "orders").createOrReplaceTempView("v_ord_lat")
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM v_cust_lat c, LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM v_ord_lat
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2
        ) o
        ORDER BY c.c_custkey, o.o_orderkey
        """
    )


@register(
    "scan_partition_pruned",
    oracle="""
        SELECT event_id, user_id, value
        FROM events WHERE event_type = 'click'
    """,
)
def scan_partition_pruned(spark, sf_dir):
    """Static partition pruning: events written partitioned by
    event_type, read back with a partition-key predicate — the scan
    must touch ONLY the click directory (PartitionFilters in the
    plan, asserted in tests/test_plans.py). At 100 TB this is the
    difference between scanning one partition and five."""
    e = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    out = scratch_dir("part_pruned")
    e.write.mode("overwrite").partitionBy("event_type").parquet(out)
    back = spark.read.parquet(out)
    return back.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "value"
    )


@register(
    "join_dynamic_partition_pruning",
    oracle="""
        WITH dim AS (
          SELECT DISTINCT event_type FROM events WHERE event_type LIKE 'p%'
        )
        SELECT e.event_type, count(*) AS n,
               CAST(sum(CAST(round(e.value*100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM events e JOIN dim d ON e.event_type = d.event_type
        GROUP BY e.event_type
        ORDER BY e.event_type
    """,
)
def join_dynamic_partition_pruning(spark, sf_dir):
    """Dynamic partition pruning: the fact side is partitioned on the
    join key and the dim side's filter is only known at runtime —
    Spark injects a dynamicpruning subquery so the fact scan skips
    partitions that can't match (asserted in tests/test_plans.py).
    The 100 TB pattern for star joins on partitioned facts."""
    e = table(spark, sf_dir, "events").select(
        "event_id", "value", "event_type"
    )
    out = scratch_dir("dpp_fact")
    e.write.mode("overwrite").partitionBy("event_type").parquet(out)
    fact = spark.read.parquet(out)
    dim = (
        table(spark, sf_dir, "events")
        .select("event_type")
        .filter(F.col("event_type").like("p%"))
        .distinct()
        .withColumnRenamed("event_type", "d_type")
    )
    return (
        fact.join(dim, fact.event_type == dim.d_type)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
        .orderBy("event_type")
    )


@register(
    "plan_cache_reuse",
    oracle=f"""
        WITH base AS (
          SELECT l_returnflag, l_linestatus, l_extendedprice, l_discount
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1997-01-01'
            AND l_shipdate <  TIMESTAMP '1998-01-01'
        )
        SELECT 'by_returnflag' AS grouping_name, l_returnflag AS key,
               count(*) AS n,
               sum(CAST(round(l_extendedprice*(1-l_discount)*10000) AS BIGINT))
                 /10000.0 AS revenue
        FROM base GROUP BY l_returnflag
        UNION ALL
        SELECT 'by_linestatus', l_linestatus, count(*),
               sum(CAST(round(l_extendedprice*(1-l_discount)*10000) AS BIGINT))
                 /10000.0
        FROM base GROUP BY l_linestatus
        ORDER BY grouping_name, key
    """,
)
def plan_cache_reuse(spark, sf_dir):
    """Explicit midpoint materialization: one filtered/projected base
    relation persist()ed and consumed by TWO aggregations — the
    other half of the caching story next to CTE inlining (Catalyst
    inlines a WITH clause, re-scanning parquet once per consumer;
    persist trades memory for the second scan, the right call when
    the base is expensive and consumers are many — e.g. the parsed
    flow-log table feeding a dashboard's panel queries). Both
    consumers must show InMemoryTableScan in the plan
    (tests/test_plans.py). MEMORY_AND_DISK so a 100 TB base spills
    per-partition instead of OOMing executors."""
    from pyspark.storagelevel import StorageLevel

    from ..dsl import dsum

    li = table(spark, sf_dir, "lineitem")
    base = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        )
        .select("l_returnflag", "l_linestatus", "l_extendedprice", "l_discount")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    rev = dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000)
    by_rf = base.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"), rev.alias("revenue")
    ).select(
        F.lit("by_returnflag").alias("grouping_name"),
        F.col("l_returnflag").alias("key"),
        "n",
        "revenue",
    )
    by_ls = base.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), rev.alias("revenue")
    ).select(
        F.lit("by_linestatus").alias("grouping_name"),
        F.col("l_linestatus").alias("key"),
        "n",
        "revenue",
    )
    return by_rf.unionByName(by_ls).orderBy("grouping_name", "key")


@register("scan_metadata_columns")  # rows-only: file paths are environment-specific
def scan_metadata_columns(spark, sf_dir):
    """The hidden _metadata struct every file source exposes
    (file_path, file_name, file_size, file_modification_time) —
    the lineage/debugging surface for partitioned lakes (which
    physical file produced this row?). Values are
    environment-specific, so the check is rows-only; the shape
    returned is one row per (file, count) — at scale this is how
    you find skewed/corrupt input files without a separate listing
    job."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.select(
            F.col("_metadata.file_name").alias("file_name"),
            F.col("_metadata.file_size").alias("file_size"),
        )
        .groupBy("file_name", "file_size")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("file_name")
    )


@register(
    "sql_pivot_surface",
    oracle="""
        SELECT user_id,
               count(*) FILTER (WHERE event_type = 'click')    AS click,
               count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
               count(*) FILTER (WHERE event_type = 'view')     AS view
        FROM events
        GROUP BY user_id
        ORDER BY user_id
    """,
)
def sql_pivot_surface(spark, sf_dir):
    """The SQL-dialect PIVOT clause (E3 surface twin of agg_pivot's
    DataFrame form) with an explicit IN list — both forms compile to
    the same conditional-aggregate plan, which is the point: the SQL
    surface adds zero execution machinery. count(*) over a missing
    cell yields 0 (not NULL) in both engines."""
    e = table(spark, sf_dir, "events")
    e.createOrReplaceTempView("engine_pivot_events")
    return spark.sql(
        """
        SELECT * FROM (
          SELECT user_id, event_type FROM engine_pivot_events
        )
        PIVOT (count(*) FOR event_type IN ('click', 'purchase', 'view'))
        ORDER BY user_id
        """
    )


@register(
    "sql_group_by_all",
    oracle="""
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n,
               sum(CAST(round(o_totalprice*100) AS BIGINT))/100.0 AS total
        FROM orders
        GROUP BY ALL
        ORDER BY ALL
    """,
)
def sql_group_by_all(spark, sf_dir):
    """GROUP BY ALL / ORDER BY ALL (Spark 4 + DuckDB dialect
    convergence): every non-aggregate select item becomes a grouping
    key positionally — the analyst-ergonomics surface that removes
    the classic copy-the-select-list error. Resolves at analysis
    time to the identical hash-aggregate plan."""
    o = table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("engine_gba_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n,
               sum(CAST(round(o_totalprice*100) AS BIGINT))
                 / CAST(100 AS DOUBLE) AS total
        FROM engine_gba_orders
        GROUP BY ALL
        ORDER BY ALL
        """
    )


@register(
    "sql_not_in_null_aware",
    oracle="""
        SELECT c_custkey, c_name FROM customer
        WHERE c_custkey NOT IN (
          SELECT CASE WHEN o_totalprice < 0 THEN NULL ELSE o_custkey END
          FROM orders WHERE o_orderstatus = 'F')
        ORDER BY c_custkey
    """,
)
def sql_not_in_null_aware(spark, sf_dir):
    """NOT IN over a NULLABLE subquery column — the three-valued-logic
    trap (one NULL in the list makes every NOT IN test UNKNOWN) that
    a plain anti join gets WRONG. The CASE keeps the expression
    nullable at analysis time, so Catalyst must plan the null-aware
    variant: a single-key broadcast null-aware anti join (streamed
    side probes the hash relation, plus the empty/null-key fast
    paths) rather than the nested-loop a naive NOT IN rewrite needs.
    Data-wise no NULL is ever produced, so the result equals the set
    anti join and stays value-checkable."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("engine_naaj_cust")
    table(spark, sf_dir, "orders").createOrReplaceTempView("engine_naaj_ord")
    return spark.sql(
        """
        SELECT c_custkey, c_name FROM engine_naaj_cust
        WHERE c_custkey NOT IN (
          SELECT CASE WHEN o_totalprice < 0 THEN NULL ELSE o_custkey END
          FROM engine_naaj_ord WHERE o_orderstatus = 'F')
        ORDER BY c_custkey
        """
    )


@register(
    "sql_inline_values_join",
    oracle="""
        WITH w(o_orderpriority, weight) AS (
          VALUES ('1-URGENT', 5), ('2-HIGH', 4), ('3-MEDIUM', 3),
                 ('4-NOT SPECIFIED', 2), ('5-LOW', 1)
        )
        SELECT w.o_orderpriority, w.weight,
               count(*) AS n_orders,
               CAST(sum(weight * CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS weighted_cents
        FROM orders o JOIN w USING (o_orderpriority)
        GROUP BY w.o_orderpriority, w.weight
        ORDER BY w.o_orderpriority
    """,
)
def sql_inline_values_join(spark, sf_dir):
    """Inline VALUES relation joined against a fact table — the
    literal-dimension surface (scoring rubrics, tier weights) that
    otherwise forces a temp-file round trip. The VALUES table is a
    LocalRelation: Catalyst folds it straight into a broadcast, so
    the weighted aggregate is one scan + one map-side-combinable
    shuffle. Weights stay integer against exact cents."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("engine_vals_orders")
    return spark.sql(
        """
        SELECT w.o_orderpriority, w.weight,
               count(*) AS n_orders,
               sum(w.weight * CAST(round(o.o_totalprice * 100) AS BIGINT))
                 AS weighted_cents
        FROM engine_vals_orders o
        JOIN (VALUES ('1-URGENT', 5), ('2-HIGH', 4), ('3-MEDIUM', 3),
                     ('4-NOT SPECIFIED', 2), ('5-LOW', 1))
             AS w(o_orderpriority, weight)
          ON o.o_orderpriority = w.o_orderpriority
        GROUP BY w.o_orderpriority, w.weight
        ORDER BY w.o_orderpriority
        """
    )


@register(
    "sql_pipe_syntax",
    oracle="""
        SELECT o_orderstatus,
               count(*) AS n,
               CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
                 AS total_cents
        FROM orders
        WHERE o_orderpriority LIKE '1%' OR o_orderpriority LIKE '2%'
        GROUP BY o_orderstatus
    """,
)
def sql_pipe_syntax(spark, sf_dir):
    """SQL pipe syntax (Spark 4.0, SPARK-49555 — the |> operator
    chain from the Google 'Pipe Syntax In SQL' paper): FROM |> WHERE
    |> AGGREGATE ... GROUP BY. Each pipe stage resolves to exactly
    the same logical operator as its classic-SQL spelling, so the
    plan (pushed filter, partial+final hash aggregate) is identical —
    this op pins the surface, the oracle pins the semantics."""
    o = table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("engine_pipe_orders")
    return spark.sql(
        """
        FROM engine_pipe_orders
        |> WHERE o_orderpriority LIKE '1%' OR o_orderpriority LIKE '2%'
        |> AGGREGATE count(*) AS n,
                     CAST(sum(CAST(round(o_totalprice*100) AS BIGINT))
                          AS BIGINT) AS total_cents
           GROUP BY o_orderstatus
        """
    )


@register(
    "sql_parameterized",
    oracle="""
        SELECT c_mktsegment, count(*) AS n,
               CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT)
                 AS bal_cents
        FROM customer
        WHERE c_acctbal >= 0 AND c_nationkey < 13
        GROUP BY c_mktsegment
    """,
)
def sql_parameterized(spark, sf_dir):
    """Named-parameter SQL (spark.sql(..., args={...}), Spark 3.4+):
    parameter markers bind as literal expressions at analysis time —
    the injection-safe templating surface a query service exposes.
    Constant-folded exactly like inline literals, so predicate
    pushdown to the parquet scan is unaffected (same PushedFilters)."""
    c = table(spark, sf_dir, "customer")
    c.createOrReplaceTempView("engine_param_customer")
    return spark.sql(
        """
        SELECT c_mktsegment, count(*) AS n,
               CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT)
                 AS bal_cents
        FROM engine_param_customer
        WHERE c_acctbal >= :min_bal AND c_nationkey < :max_nation
        GROUP BY c_mktsegment
        """,
        args={"min_bal": 0, "max_nation": 13},
    )


@register(
    "sink_python_datasource",
    oracle="""
        SELECT event_id, user_id,
               CAST(round(value * 10000) AS BIGINT) AS value_e4
        FROM events
    """,
)
def sink_python_datasource(spark, sf_dir):
    """Spark 4 Python DataSource WRITER — the other half of the
    custom-connector surface (source_python_datasource /
    source_python_stream cover the read paths): a bespoke sink a user
    would implement for a proprietary store without leaving Python.
    The exactly-once contract is the point: each task writes its
    partition to a TEMP name executor-side (Arrow → parquet via
    pyarrow) and returns a WriterCommitMessage carrying the temp
    path; only the driver-side commit() renames every temp into its
    final name, and abort() removes strays — a failed/speculated TASK
    can never publish partial output. The rename loop itself is not
    job-atomic (a driver crash mid-commit leaves a partial file set —
    the same weakness as FileOutputCommitter v1), so commit() writes
    a _SUCCESS marker only after the last rename and readers gate on
    it: a half-committed job is invisible, not silently partial. The
    oracle round-trips the published files, so a lost/duplicated
    partition is a value-hash failure."""
    import os
    import uuid

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    out = scratch_dir("sink_python_datasource")

    class TmpFileMsg(WriterCommitMessage):
        def __init__(self, tmp):
            self.tmp = tmp

    class PyPartsWriter(DataSourceWriter):
        def __init__(self, options):
            self.path = options.get("path")

        def write(self, iterator):
            import pyarrow as pa
            import pyarrow.parquet as pq

            rows = list(iterator)
            tmp = os.path.join(
                self.path, f"_tmp_{uuid.uuid4().hex}.parquet"
            )
            pq.write_table(
                pa.table(
                    {
                        "event_id": pa.array(
                            [r[0] for r in rows], pa.int64()
                        ),
                        "user_id": pa.array(
                            [r[1] for r in rows], pa.int64()
                        ),
                        "value_e4": pa.array(
                            [r[2] for r in rows], pa.int64()
                        ),
                    }
                ),
                tmp,
            )
            return TmpFileMsg(tmp)

        def commit(self, messages):
            for i, m in enumerate(messages):
                os.rename(
                    m.tmp, os.path.join(self.path, f"part-{i:05d}.parquet")
                )
            # marker LAST: readers treat its absence as "no committed
            # job here" (see docstring — job-level atomicity)
            with open(os.path.join(self.path, "_SUCCESS"), "w"):
                pass

        def abort(self, messages):
            for m in messages:
                if m is not None and os.path.exists(m.tmp):
                    os.remove(m.tmp)

    class PyPartsSink(DataSource):
        @classmethod
        def name(cls):
            return "pyparts"

        def schema(self):
            return "event_id bigint, user_id bigint, value_e4 bigint"

        def writer(self, schema, overwrite):
            return PyPartsWriter(self.options)

    spark.dataSource.register(PyPartsSink)
    e = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 10000).cast("long").alias("value_e4"),
    )
    e.repartition(8).write.format("pyparts").option("path", out).mode(
        "append"
    ).save()
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        raise FileNotFoundError(
            "pyparts sink: _SUCCESS marker missing — commit incomplete"
        )
    return spark.read.schema(
        "event_id long, user_id long, value_e4 long"
    ).parquet(out)


@register(
    "sql_scripting_control_flow",
    oracle="""
        SELECT count(*) AS n_orders,
               CAST(ceil(log2(count(*))) AS BIGINT) AS k_pow2
        FROM orders
    """,
)
def sql_scripting_control_flow(spark, sf_dir):
    """SQL scripting (Spark 4.0, SQL/PSM subset): BEGIN/END blocks
    with DECLARE'd session variables, data-dependent SET, and a WHILE
    loop — the procedural surface that replaces driver-side Python
    glue for multi-statement SQL jobs (each statement still compiles
    to a normal Catalyst plan; the script only sequences them). The
    loop computes ceil(log2(row_count)) by doubling — a
    data-DEPENDENT iteration count — and the oracle restates it in
    closed form, so control flow, variable mutation, and the scalar
    subquery handoff are all value-checked."""
    o = table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("engine_script_orders")
    # scripting is an opt-in parser surface; scope it to this op
    # (round-4 review finding) — materialize before restoring so the
    # returned frame never re-parses the script with the flag off
    from ..session import scoped_confs

    with scoped_confs(spark, **{"spark.sql.scripting.enabled": "true"}):
        return spark.sql(
            """
            BEGIN
              DECLARE n BIGINT;
              DECLARE k BIGINT DEFAULT 0;
              DECLARE p BIGINT DEFAULT 1;
              SET n = (SELECT count(*) FROM engine_script_orders);
              WHILE p < n DO
                SET p = p * 2;
                SET k = k + 1;
              END WHILE;
              SELECT n AS n_orders, k AS k_pow2;
            END
            """
        ).localCheckpoint(eager=True)




def make_pystream_sink():
    """Build the "pystreamparts" DataSource class (lazily, like
    make_kshards_source, so importing this module never touches
    pyspark.sql.datasource on builds that lack it); shared by the
    registered op and the restart test."""
    import os
    import uuid

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamArrowWriter,
        WriterCommitMessage,
    )

    class TmpMsg(WriterCommitMessage):
        def __init__(self, tmp):
            self.tmp = tmp

    class PyStreamWriter(DataSourceStreamArrowWriter):
        def __init__(self, options):
            self.path = options.get("path")

        def write(self, iterator):
            import pyarrow as pa
            import pyarrow.parquet as pq

            batches = list(iterator)
            tmp = os.path.join(self.path, f"_tmp_{uuid.uuid4().hex}.parquet")
            if batches:
                pq.write_table(pa.Table.from_batches(batches), tmp)
            else:
                tmp = None  # empty task publishes nothing
            return TmpMsg(tmp)

        def commit(self, messages, batchId):
            import glob as _glob

            # clear ANY prior attempt of this batch first: overwrite-
            # by-name alone is not enough when a replay plans FEWER
            # partitions than the crashed attempt — its stale higher-
            # numbered parts would survive and double-count (round-5
            # second-review finding)
            for stale in _glob.glob(
                os.path.join(self.path, f"batch-{batchId:05d}-part-*")
            ):
                os.remove(stale)
            for i, m in enumerate(messages):
                if m is None or m.tmp is None:
                    continue
                # deterministic names keyed by batchId: with the
                # stale-part sweep above, a replayed batch fully
                # replaces itself — idempotent, hence exactly-once
                # through at-least-once batch delivery
                os.replace(
                    m.tmp,
                    os.path.join(
                        self.path, f"batch-{batchId:05d}-part-{i:05d}.parquet"
                    ),
                )

        def abort(self, messages, batchId):
            for m in messages:
                if m is not None and m.tmp and os.path.exists(m.tmp):
                    os.remove(m.tmp)

    class PyStreamSink(DataSource):
        @classmethod
        def name(cls):
            return "pystreamparts"

        def schema(self):
            return "event_id bigint, user_id bigint, value_e4 bigint"

        def streamWriter(self, schema, overwrite):
            return PyStreamWriter(self.options)

    return PyStreamSink


@register(
    "sink_python_stream_datasource",
    oracle="""
        SELECT event_id, user_id,
               CAST(round(value * 10000) AS BIGINT) AS value_e4
        FROM events
    """,
)
def sink_python_stream_datasource(spark, sf_dir):
    """Spark 4 Python DataSource STREAMING writer — the fourth corner
    of the custom-connector surface (batch read:
    source_python_datasource; stream read: kshards; batch write:
    sink_python_datasource): a bespoke streaming sink implemented as a
    `DataSourceStreamArrowWriter`, the Arrow variant, so executor
    tasks hand the sink RecordBatches (no per-row pickling — the only
    Python-writer shape that survives 100 TB/day ingest). Exactly-once
    protocol: write() lands each task's batches at a TEMP name and
    returns the path in its commit message; the driver-side
    commit(messages, batchId) first sweeps ANY parts a crashed prior
    attempt of this batch left behind (a replay may plan fewer
    partitions, so overwrite-by-name alone would leak stale
    higher-numbered parts), then renames every temp to a
    deterministic `batch-{batchId}-part-{i}` name via os.replace — a
    REPLAYED batch (streaming's at-least-once batch delivery) fully
    replaces its own output, so replay is idempotent and delivery is
    exactly-once without distributed coordination. abort() removes strays. Feed = the events table
    split across three mtime-ordered files (one micro-batch each), so
    commit runs per-batch three times; the oracle round-trips the
    landed files — a lost task, duplicated replay, or partial commit
    is a value-hash failure. Restart STRADDLING a batch is proven
    exactly-once in tests/test_streaming.py (stop mid-stream, resume
    from the checkpoint, value-compare)."""
    import os

    from ..schemas import EVENTS_STREAM_SCHEMA

    base = scratch_dir("sink_python_stream_datasource")
    src, out, ckpt = f"{base}/src", f"{base}/out", f"{base}/ckpt"
    os.makedirs(src)
    os.makedirs(out)

    from .streaming import _chunked_stream_feed

    _chunked_stream_feed(spark, sf_dir, src)

    spark.dataSource.register(make_pystream_sink())
    stream = (
        read_feed(spark, src, EVENTS_STREAM_SCHEMA)
        .select(
            "event_id",
            "user_id",
            F.round(F.col("value") * 10000).cast("long").alias("value_e4"),
        )
    )
    run_available_now(
        stream.writeStream.format("pystreamparts")
        .option("path", out)
        .option("checkpointLocation", ckpt),
        "sink_python_stream_datasource",
        300,
    )
    return spark.read.schema(
        "event_id long, user_id long, value_e4 long"
    ).parquet(out)


@register(
    "scan_manifest_file_skip",
    oracle="""
        SELECT event_id, ts, user_id, event_type, value
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-10'
          AND ts <  TIMESTAMP '2024-01-15'
    """,
)
def scan_manifest_file_skip(spark, sf_dir):
    """Zone-map FILE SKIPPING from a manifest — the lakehouse pruning
    layer BEYOND partition pruning (what Delta/Iceberg data-skipping
    stats do): the table is written range-clustered on ts
    (repartitionByRange → each file covers a tight ts interval), a
    manifest of per-file (min_ts, max_ts) is derived in one
    distributed pass off the ``_metadata.file_path`` hidden column
    (in production it is written at ingest), and a time-band query
    consults the MANIFEST first — only files whose [min,max] interval
    overlaps the predicate are handed to the reader at all. The files
    list is metadata-sized (one row per file), so the driver-side
    selection is O(|files|), never O(rows). Row-level correctness
    still comes from re-applying the predicate inside the pruned scan
    (zone maps admit false positives at the boundaries, never false
    negatives — same contract as parquet row-group stats one level
    up). tests/test_plans.py asserts the five-day band reads a strict
    minority of the 8 files; the oracle is the plain full-scan filter,
    so a file wrongly skipped is missing rows and a hash failure.

    At 100 TB: clustering + manifest turns a full-table time query
    into an O(matching-files) read even when the partition key is
    something else entirely (here there are no partitions at all)."""
    import os

    e = table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    base = scratch_dir("scan_manifest_file_skip")
    data = f"{base}/data"
    e.repartitionByRange(8, "ts").write.parquet(data)

    manifest = (
        spark.read.parquet(data)
        .select("ts", F.col("_metadata.file_path").alias("file_path"))
        .groupBy("file_path")
        .agg(F.min("ts").alias("min_ts"), F.max("ts").alias("max_ts"))
    )
    lo, hi = "2024-01-10", "2024-01-15"
    keep = [
        r["file_path"]
        for r in manifest.filter(
            (F.col("max_ts") >= F.lit(lo).cast("timestamp_ntz"))
            & (F.col("min_ts") < F.lit(hi).cast("timestamp_ntz"))
        ).collect()
    ]
    n_total = len([f for f in os.listdir(data) if f.endswith(".parquet")])
    if not (0 < len(keep) < n_total):
        raise AssertionError(
            f"manifest pruning vacuous: {len(keep)}/{n_total} files selected"
        )
    return (
        spark.read.parquet(*[p.replace("file://", "") for p in keep])
        .filter(
            (F.col("ts") >= F.lit(lo).cast("timestamp_ntz"))
            & (F.col("ts") < F.lit(hi).cast("timestamp_ntz"))
        )
        .select("event_id", "ts", "user_id", "event_type", "value")
    )


@register(
    "sql_named_window",
    oracle="""
        SELECT user_id, event_id,
               row_number() OVER w AS rn,
               lag(event_id) OVER w AS prev_event
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def sql_named_window(spark, sf_dir):
    """Named ``WINDOW`` clause — one window definition shared by
    multiple functions (the E3 analyst surface this repo's own oracles
    use constantly); both engines run the SAME text, and Catalyst
    plans exactly one Window node for the shared spec (two functions,
    one sort — the de-duplication that matters when the partition is
    100 TB wide). Unique (ts, event_id) ordering keeps rn/lag
    deterministic for the value hash."""
    table(spark, sf_dir, "events").createOrReplaceTempView("v_events_nw")
    return spark.sql(
        """
        SELECT user_id, event_id,
               row_number() OVER w AS rn,
               lag(event_id) OVER w AS prev_event
        FROM v_events_nw
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """
    )


@register(
    "sql_function_surface",
    oracle="""
        WITH bands(band, lo, hi) AS (
          VALUES ('budget', 0.0, 950.0),
                 ('mid', 950.0, 1050.0),
                 ('premium', 1050.0, 1000000.0)
        )
        SELECT band,
               count(*) AS n_items,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                             AS BIGINT)) AS BIGINT) AS disc_rev_cents
        FROM lineitem JOIN bands
          ON l_extendedprice / l_quantity >= lo
         AND l_extendedprice / l_quantity < hi
        GROUP BY band ORDER BY band
    """,
)
def sql_function_surface(spark, sf_dir):
    """Spark 4 SQL-defined functions (CREATE FUNCTION ... RETURN): a
    SCALAR SQL UDF (discounted revenue in exact cents) and a
    TABLE-VALUED SQL function (the price-band dimension as a function
    body) used together in one query — business logic shared as
    catalog objects instead of copy-pasted expressions, with none of
    the Python-worker cost of a real UDF: Catalyst INLINES the SQL
    body, so the plan is identical to writing the expression in place
    (banding stays a broadcastable 3-row join, the revenue math stays
    in whole-stage codegen).

    The oracle restates both bodies inline, which is exactly the
    inlining claim under test."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_li_sqlfn")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION disc_rev_cents(
          p DOUBLE, d DOUBLE) RETURNS BIGINT
        RETURN CAST(round(p * (1 - d) * 100) AS BIGINT)
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION price_bands()
        RETURNS TABLE(band STRING, lo DOUBLE, hi DOUBLE)
        RETURN VALUES ('budget', 0.0, 950.0),
                      ('mid', 950.0, 1050.0),
                      ('premium', 1050.0, 1000000.0)
        """
    )
    return spark.sql(
        """
        SELECT band,
               count(*) AS n_items,
               CAST(sum(disc_rev_cents(l_extendedprice, l_discount))
                    AS BIGINT) AS disc_rev_cents
        FROM v_li_sqlfn JOIN price_bands()
          ON l_extendedprice / l_quantity >= lo
         AND l_extendedprice / l_quantity < hi
        GROUP BY band ORDER BY band
        """
    )


@register(
    "source_csv_multiline_quoted",
    oracle="""
        SELECT doc_id, replace(text, ' ', chr(10)) AS text_nl, lang
        FROM documents WHERE doc_id < 200
    """,
)
def source_csv_multiline_quoted(spark, sf_dir):
    """CSV with embedded NEWLINES inside quoted fields — the classic
    export format that breaks naive line-splitting readers. A slice of
    documents is rewritten with real newlines in the text, written as
    quoted CSV, and read back with multiLine=true; the round-trip must
    reproduce the source exactly (oracle states the expected content
    directly from the table).

    THE SCALE CAVEAT IS THE POINT: multiLine CSV is NOT SPLITTABLE —
    record boundaries can't be found mid-file, so each file reads as
    ONE task regardless of size. At 100 TB this format forces
    many-small-files parallelism (or a re-export to parquet, which is
    what the engine's ingest path does); single-line CSV with escaped
    newlines stays splittable. The demo keeps one small file and
    documents the trade instead of pretending the reader parallelizes.
    """
    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select(
            "doc_id",
            F.regexp_replace("text", " ", "\n").alias("text_nl"),
            "lang",
        )
    )
    out = scratch_dir("csv_multiline")
    (
        d.coalesce(1)
        .write.mode("overwrite")
        .option("header", "true")
        .option("quoteAll", "true")
        .csv(out)
    )
    back = (
        spark.read.option("header", "true")
        .option("multiLine", "true")
        .schema("doc_id long, text_nl string, lang string")
        .csv(out)
    )
    return back.select("doc_id", "text_nl", "lang")


@register(
    "set_union_by_name_evolved",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice, NULL AS o_channel
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderkey, o_custkey, o_totalprice,
               CASE WHEN o_orderkey % 3 = 0 THEN 'web' ELSE 'store' END
        FROM orders WHERE o_orderkey % 2 = 1
    """,
)
def set_union_by_name_evolved(spark, sf_dir):
    """Schema-drift union: an old extract (no o_channel column) and a
    new extract (adds o_channel, reorders columns) combined with
    unionByName(allowMissingColumns=True) — position-based UNION
    would silently misalign the reordered columns or fail on the
    missing one; by-name union aligns on names and null-fills the
    gap. This is the everyday operation when a source adds a field
    mid-history and the pipeline must read both eras.

    Map-only at any scale (no shuffle: union is a plan concatenation;
    the null-fill is a projection)."""
    o = table(spark, sf_dir, "orders")
    old_era = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    new_era = o.filter(F.col("o_orderkey") % 2 == 1).select(
        F.when(F.col("o_orderkey") % 3 == 0, "web")
        .otherwise("store")
        .alias("o_channel"),
        "o_totalprice",
        "o_orderkey",
        "o_custkey",
    )
    return old_era.unionByName(new_era, allowMissingColumns=True).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_channel"
    )


# Point-lookup ids for the bloom-filter demo; present at every sf
# (event_id is dense from 0) and scattered across row groups.
BLOOM_LOOKUP_IDS = (11, 4099, 8191)


@register(
    "scan_parquet_bloom_write",
    oracle=f"""
        SELECT event_id, user_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
        WHERE event_id IN {BLOOM_LOOKUP_IDS}
    """,
)
def scan_parquet_bloom_write(spark, sf_dir):
    """Parquet FILE-level bloom filters: write with
    ``parquet.bloom.filter.enabled#event_id`` and read back through a
    point-lookup predicate. This is the storage-side complement to
    the runtime bloom join (join_bloom_filtered): event_id arrives
    hash-scattered, so min/max zone maps span the whole id range in
    every row group and prune NOTHING — the per-row-group bloom is
    what lets parquet-mr skip row groups whose filter misses the
    probed keys. The IN predicate is pushed to the scan (plan-asserted
    in tests/test_plans.py) where the reader consults footer stats,
    dictionary AND bloom before decoding a page.

    Scale: at 100 TB a needle-in-haystack id lookup touches only the
    row groups whose bloom fires (~fp-rate of the rest); expected_ndv
    sizes the filter (~1.2 MB/1M keys at 1% fp). The write itself is
    one map-only pass — no shuffle, no sort required (that ordering
    independence is the point vs. sink_sorted_clustered's zone-map
    strategy)."""
    out = scratch_dir("bloom_write")
    e = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    (
        e.write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#event_id", "true")
        .option("parquet.bloom.filter.expected.ndv#event_id", "1048576")
        .parquet(f"{out}/t")
    )
    back = spark.read.parquet(f"{out}/t")
    return back.filter(F.col("event_id").isin(*BLOOM_LOOKUP_IDS))


@register(
    "sql_distribute_cluster_by",
    oracle="""
        SELECT user_id, CAST(ts AS VARCHAR) AS ts_s, event_type,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type IN ('purchase', 'click')
    """,
)
def sql_distribute_cluster_by(spark, sf_dir):
    """DISTRIBUTE BY / SORT BY — the SQL surface for explicit physical
    layout control (the ETL idiom behind partitioned, per-partition-
    sorted writes: hive-style INSERT ... DISTRIBUTE BY pk SORT BY ts).
    DISTRIBUTE BY hash-exchanges on user_id WITHOUT a global sort
    barrier; SORT BY orders only within partitions (plan shows
    Exchange hashpartitioning + Sort [global=false] — both asserted in
    tests/test_plans.py). Values are layout-invariant, so the oracle
    is the plain selection; what this op pins is that the requested
    physical properties actually appear. At 100 TB this exact pair is
    how you co-locate a key's rows and make per-file sort order real
    while avoiding the one-reducer trap of ORDER BY."""
    e = table(spark, sf_dir, "events")
    e.createOrReplaceTempView("engine_dcb_events")
    return spark.sql(
        """
        SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS STRING) AS ts_s,
               event_type,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM engine_dcb_events
        WHERE event_type IN ('purchase', 'click')
        DISTRIBUTE BY user_id SORT BY user_id, ts_s
        """
    )


@register(
    "scan_ignore_corrupt_files",
    oracle="""
        SELECT o_orderkey, o_custkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    """,
)
def scan_ignore_corrupt_files(spark, sf_dir):
    """File-level fault tolerance: a landing directory holding the good
    parquet files PLUS a truncated-garbage '.parquet' (the half-written
    upload every large ingest eventually sees) reads cleanly under
    ``spark.sql.files.ignoreCorruptFiles=true`` — the corrupt member is
    skipped at scan time, the good rows come back complete, and the
    conf is restored afterwards so no other op inherits it. Complements
    ingest_flowlog_malformed (row-level quarantine) at the granularity
    where production actually breaks first.

    Scale: the skip happens per-split during the scan — no pre-pass
    over the directory, no driver-side listing beyond normal planning;
    a 100 TB lake with a handful of torn files loses those splits
    only."""
    from ..session import scoped_confs

    out = scratch_dir("ignore_corrupt")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    o.write.mode("overwrite").parquet(f"{out}/t")
    with open(f"{out}/t/part-corrupt-00099.parquet", "wb") as fh:
        fh.write(b"PAR1 this is not a real parquet footer either")
    with scoped_confs(
        spark, **{"spark.sql.files.ignoreCorruptFiles": "true"}
    ):
        # materialize under the conf; the returned frame re-reads lazily,
        # so keep the conf scoped to the op via a localCheckpoint
        return spark.read.parquet(f"{out}/t").localCheckpoint()


@register(
    "sql_star_except",
    oracle="""
        SELECT * EXCLUDE (o_comment_free, o_orderstatus)
        FROM (
          SELECT o_orderkey, o_custkey, o_orderstatus,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                 o_orderpriority,
                 'x' AS o_comment_free
          FROM orders
        )
    """,
)
def sql_star_except(spark, sf_dir):
    """``SELECT * EXCEPT (...)`` — the wide-table ergonomics surface
    (Spark 4 / BigQuery spelling; DuckDB calls it EXCLUDE, which the
    oracle deliberately uses, pinning cross-dialect equivalence).
    Resolves entirely at analysis time to an explicit projection, so
    the scan still prunes to exactly the surviving columns — the
    anti-`SELECT *` tool for 1000-column feature tables where
    enumerating keep-columns is the error-prone direction."""
    o = table(spark, sf_dir, "orders")
    o.selectExpr(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents",
        "o_orderpriority",
        "'x' AS o_comment_free",
    ).createOrReplaceTempView("engine_star_except_orders")
    return spark.sql(
        "SELECT * EXCEPT (o_comment_free, o_orderstatus) "
        "FROM engine_star_except_orders"
    )


@register(
    "scan_nested_schema_pruning",
    oracle="""
        SELECT o_orderkey AS okey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def scan_nested_schema_pruning(spark, sf_dir):
    """Nested-field pruning + pushdown: a parquet table whose payload
    is a STRUCT gets filtered on one nested leaf and projected to
    another — Catalyst's nested-schema pruning
    (spark.sql.optimizer.nestedSchemaPruning.enabled, default on)
    must rewrite the scan to read ONLY the two leaves, not the whole
    struct, and push the nested-field equality into the parquet
    reader. tests/test_plans.py asserts the pruned ReadSchema; the
    oracle restates the surviving leaves flat. At 100 TB with
    1000-leaf event payloads this is the difference between scanning
    2 columns and scanning 1000."""
    out = scratch_dir("nested_prune")
    o = table(spark, sf_dir, "orders")
    nested = o.select(
        F.col("o_orderkey").alias("okey"),
        F.struct(
            F.col("o_orderpriority").alias("priority"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_custkey").alias("cust"),
        ).alias("payload"),
    )
    nested.write.mode("overwrite").parquet(f"{out}/t")
    back = spark.read.parquet(f"{out}/t")
    return back.filter(
        F.col("payload.priority") == "1-URGENT"
    ).select("okey", F.col("payload.cents").alias("cents"))


@register(
    "scan_zone_map_audit",
    oracle="""
        SELECT CAST(year(l_shipdate) AS INT) AS yr,
               count(*) AS n_rows,
               CAST(CAST(min(l_shipdate) AS DATE) AS VARCHAR) AS min_ship,
               CAST(CAST(max(l_shipdate) AS DATE) AS VARCHAR) AS max_ship,
               max(l_shipdate) < TIMESTAMP '1999-01-01' AS skippable
        FROM lineitem
        GROUP BY 1
    """,
)
def scan_zone_map_audit(spark, sf_dir):
    """Zone-map (parquet footer statistics) audit: cluster lineitem one
    file per ship YEAR (repartition on the cluster key so each
    partitionBy directory holds exactly one file, sorted within), then
    read back ONLY the parquet footers and report each zone's physical
    min/max statistics and whether a scan with the predicate
    ``l_shipdate >= 1999-01-01`` may skip it entirely. The oracle
    restates the zones from the DATA (per-year min/max/count), so the
    hash proves the footer statistics the engine would prune on are
    exactly the logical zone boundaries — the missing measurement
    behind sink_sorted_clustered's clustering claim.

    Scale: the write is a distributed clustered sink; the audit reads
    footer METADATA only (a few KB per file, never the data), which is
    exactly how query planners prune — zone count is bounded by the
    cluster-key cardinality, not data volume."""
    import glob as _glob
    import os

    import pyarrow.parquet as _pq

    li = table(spark, sf_dir, "lineitem").select("l_shipdate").withColumn(
        "yr", F.year("l_shipdate")
    )
    out = scratch_dir("scan_zone_map_audit")
    (
        li.repartition("yr")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .partitionBy("yr")
        .parquet(out)
    )
    bound = __import__("datetime").datetime(1999, 1, 1)
    rows = []
    for d in sorted(_glob.glob(os.path.join(out, "yr=*"))):
        yr = int(d.rsplit("=", 1)[1])
        n_rows = 0
        mins, maxs = [], []
        for f in sorted(_glob.glob(os.path.join(d, "*.parquet"))):
            md = _pq.ParquetFile(f).metadata
            n_rows += md.num_rows
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(0).statistics
                mins.append(st.min)
                maxs.append(st.max)
        lo, hi = min(mins), max(maxs)
        rows.append(
            (
                yr,
                n_rows,
                lo.date().isoformat(),
                hi.date().isoformat(),
                hi < bound,
            )
        )
    return spark.createDataFrame(
        rows,
        "yr int, n_rows long, min_ship string, max_ship string, "
        "skippable boolean",
    )


@register(
    "sql_identifier_dynamic",
    oracle="""
        SELECT o_orderpriority AS prio, count(*) AS n,
               CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
                 AS price_cents
        FROM orders
        GROUP BY o_orderpriority
    """,
)
def sql_identifier_dynamic(spark, sf_dir):
    """IDENTIFIER() dynamic-name binding (Spark 3.5+/4): table and
    column names arrive as PARAMETERS, not string-spliced SQL — the
    injection-safe way a catalog service routes the same template
    across tables/columns. The identifier resolves at analysis time,
    so the plan is indistinguishable from the hardcoded spelling
    (same pushdown, same partial aggregation)."""
    o = table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("engine_ident_orders")
    return spark.sql(
        """
        SELECT IDENTIFIER(:grp) AS prio, count(*) AS n,
               CAST(sum(CAST(round(IDENTIFIER(:val)*100) AS BIGINT))
                    AS BIGINT) AS price_cents
        FROM IDENTIFIER(:tbl)
        GROUP BY IDENTIFIER(:grp)
        """,
        args={
            "tbl": "engine_ident_orders",
            "grp": "o_orderpriority",
            "val": "o_totalprice",
        },
    )


@register(
    "sql_exec_immediate",
    oracle="""
        SELECT c_mktsegment, count(*) AS n,
               CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT)
                 AS bal_cents
        FROM customer
        WHERE c_nationkey < 10
        GROUP BY c_mktsegment
    """,
)
def sql_exec_immediate(spark, sf_dir):
    """EXECUTE IMMEDIATE (Spark 4 dynamic SQL): a query arrives as a
    runtime STRING and binds positional ? parameters via USING — the
    stored-procedure-style dispatch surface SQL scripting builds on
    (sql_scripting_control_flow covers the control-flow half). The
    inner statement goes through the same analyzer/optimizer as
    static SQL, so pushdown and partial aggregation are unchanged."""
    c = table(spark, sf_dir, "customer")
    c.createOrReplaceTempView("engine_exec_customer")
    inner = (
        "SELECT c_mktsegment, count(*) AS n, "
        "CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT) "
        "AS bal_cents FROM engine_exec_customer "
        "WHERE c_nationkey < ? GROUP BY c_mktsegment"
    )
    esc = inner.replace("'", "''")
    return spark.sql(f"EXECUTE IMMEDIATE '{esc}' USING 10")


@register(
    "scan_parquet_merge_schema",
    oracle="""
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               CASE WHEN o_orderdate >= TIMESTAMP '1999-01-01'
                    THEN o_orderpriority END AS prio
        FROM orders
    """,
)
def scan_parquet_merge_schema(spark, sf_dir):
    """Schema-merged parquet read (mergeSchema=true): two generations
    of the same dataset land with DIFFERENT physical schemas — the old
    half wrote (o_orderkey, cents), the new half added a prio column —
    and one read reconciles them, null-filling the column the old
    files never had. This is the reader-side half of schema evolution
    (source_schema_evolution covers the unionByName writer side); the
    oracle restates the merged result with the generation rule
    inlined, so a column misalignment or a dropped null-fill breaks
    the hash.

    Scale: mergeSchema costs one footer read per FILE at planning
    time (not a data scan) — viable per-partition, the reason
    evolving lakehouse tables remain queryable without rewrites."""
    import os

    o = table(spark, sf_dir, "orders")
    split = F.lit("1999-01-01").cast("timestamp_ntz")
    base = scratch_dir("scan_parquet_merge_schema")
    old_dir = os.path.join(base, "gen=0")
    new_dir = os.path.join(base, "gen=1")
    cents = F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    o.filter(F.col("o_orderdate") < split).select(
        "o_orderkey", cents
    ).write.mode("overwrite").parquet(old_dir)
    o.filter(F.col("o_orderdate") >= split).select(
        "o_orderkey", cents, F.col("o_orderpriority").alias("prio")
    ).write.mode("overwrite").parquet(new_dir)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(old_dir, new_dir)
        .select("o_orderkey", "cents", "prio")
    )


@register(
    "sql_session_variable",
    oracle="""
        SELECT o_orderpriority AS prio, count(*) AS n
        FROM orders
        WHERE o_totalprice >= (
          SELECT round(avg(o_totalprice)) FROM orders
        )
        GROUP BY 1
    """,
)
def sql_session_variable(spark, sf_dir):
    """SQL session variables (Spark 4 DECLARE / SET VAR): a scalar
    computed once is bound to a typed session variable and referenced
    by later statements — the multi-statement scripting state
    mechanism (procedural cousin of sql_scripting_control_flow). The
    variable is folded as a literal at analysis time, so the
    consuming query plans exactly like a constant predicate.

    Scale: the binding SELECT is a scalar aggregate; the consumer is
    an ordinary pushdown-eligible scan."""
    o = table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("engine_var_orders")
    spark.sql(
        "DECLARE OR REPLACE VARIABLE engine_avg_price DOUBLE"
    )
    spark.sql(
        "SET VAR engine_avg_price = "
        "(SELECT round(avg(o_totalprice)) FROM engine_var_orders)"
    )
    return spark.sql(
        """
        SELECT o_orderpriority AS prio, count(*) AS n
        FROM engine_var_orders
        WHERE o_totalprice >= engine_avg_price
        GROUP BY 1
        """
    )


@register(
    "sql_try_arithmetic",
    oracle="""
        SELECT l_linenumber,
               count(*) AS n,
               CAST(sum(CASE WHEN l_linenumber - 1 = 0 THEN NULL
                        ELSE CAST(l_quantity AS BIGINT)
                             // (l_linenumber - 1) END) AS BIGINT)
                 AS sum_div,
               CAST(count(*) FILTER (WHERE l_linenumber - 1 = 0)
                    AS BIGINT) AS n_nulled
        FROM lineitem
        GROUP BY 1
    """,
)
def sql_try_arithmetic(spark, sf_dir):
    """try_* arithmetic under ANSI mode (Spark 4 default): ANSI makes
    x/0 and overflow THROW mid-job — correct for catching bugs,
    fatal for a 100 TB batch job that dies at hour three on one bad
    row. try_divide returns NULL instead, turning poison rows into
    auditable NULL counts (same philosophy as cast_try_safe for
    casts and the DLQ sink for records). The divisor l_linenumber−1
    hits zero on every first-line row, so the NULL path is genuinely
    exercised (and stays non-negative — floor and truncation agree); the oracle restates NULL-on-zero with an explicit
    CASE.

    Scale: map-only codegen arithmetic — zero overhead over plain
    division."""
    li = table(spark, sf_dir, "lineitem")
    div = F.expr(
        "try_divide(CAST(l_quantity AS BIGINT), l_linenumber - 1)"
    )
    return li.groupBy("l_linenumber").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(div)).cast("long").alias("sum_div"),
        F.count_if(F.col("l_linenumber") - 1 == 0).alias("n_nulled"),
    )




@register(
    "sql_limit_offset_pagination",
    oracle="""
        SELECT o_orderkey, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS odate,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
        ORDER BY o_orderdate, o_orderkey
        LIMIT 50 OFFSET 100
    """,
)
def sql_limit_offset_pagination(spark, sf_dir):
    """LIMIT ... OFFSET pagination (Spark 3.4+) — page 3 of a
    keyset-ordered listing. The ORDER BY is a TOTAL order
    (date + unique key tiebreak), which is the only way OFFSET
    pagination is deterministic in ANY engine; without the tiebreak
    both Spark and DuckDB may legally return different page contents.
    Spark plans this as a global TakeOrderedAndProject-style limit of
    offset+limit rows, not a full sort — the scan stops early.

    Scale: OFFSET pagination is O(offset+limit) per page and
    documented here as the demo surface; at 100 TB depth the
    production form is keyset pagination (WHERE (date, key) >
    last_seen ORDER BY ... LIMIT n), which this query's total order
    makes directly available."""
    o = table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("page_orders")
    return spark.sql(
        """
        SELECT o_orderkey, CAST(CAST(o_orderdate AS DATE) AS STRING) AS odate,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM page_orders
        ORDER BY o_orderdate, o_orderkey
        LIMIT 50 OFFSET 100
        """
    )
