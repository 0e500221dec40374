"""Physical-plan shape regressions (SURVEY §4): the properties that make
the 100 TB story true must be visible in the plan, not just asserted in
docstrings — filter/column pushdown reaches the parquet scan, small dims
broadcast, aggregates combine map-side, and the blocked/LSH ops contain
no cartesian product.

Plan inspection only triggers planning (analyze→optimize→physical), not
execution, so these tests are cheap.
"""

from __future__ import annotations

import engine
from tests.conftest import T2_SF_DIR


def _plan(spark, name: str) -> str:
    df = engine.QUERIES[name](spark, T2_SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_predicate_reaches_parquet_scan(spark):
    plan = _plan(spark, "scan_predicate_pushdown")
    assert "PushedFilters: [" in plan
    # non-empty pushdown: at least one filter made it into the scan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), f"no filters pushed: {plan}"


def test_projection_prunes_scan_schema(spark):
    plan = _plan(spark, "scan_projection")
    rs = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "l_orderkey" in rs and "l_quantity" in rs
    assert "l_comment" not in rs and "l_shipdate" not in rs


def test_dim_joins_broadcast(spark):
    assert "BroadcastHashJoin" in _plan(spark, "join_broadcast")


def test_entry_broadcasts_dims(spark):
    import __spark_entry__ as e

    plan = e.entry(spark)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_agg_partial_then_final(spark):
    """Map-side combine: HashAggregate appears as partial+final pair."""
    plan = _plan(spark, "agg_group_hash")
    assert plan.count("HashAggregate") >= 2


def test_blocked_ops_avoid_cartesian(spark):
    """The scale-path ANN/dedup variants must never degenerate to an
    all-pairs product: candidate generation is an equi-join on
    (band, band_key) / cluster, which Spark plans as hash or sort-merge
    joins. (The brute-force anchors sim_search_topk /
    embed_cosine_neardup intentionally ARE products — not checked.)"""
    for name in ("sim_search_blocked", "dedup_simhash", "dedup_ngram_jaccard"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name


def test_bucketed_join_has_no_shuffle(spark):
    """Both sides bucketed+sorted on the join key → sort-merge join
    with zero Exchange nodes (the whole point of bucketing)."""
    plan = _plan(spark, "join_bucketed_colocated")
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan


def test_tpch_q6_pushes_all_predicates(spark):
    plan = _plan(spark, "tpch_q6")
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_discount" in pushed and "l_quantity" in pushed


def test_partition_pruning_on_partitioned_sink(spark, tmp_path):
    """dt-partitioned output read back with a dt predicate must prune
    at the directory level (PartitionFilters), reading one partition's
    files instead of scanning everything — the access pattern the
    time-partitioned parquet sink exists for."""
    from pyspark.sql import functions as F

    from engine.registry import table
    from tests.conftest import T2_SF_DIR

    out = str(tmp_path / "part")
    e = table(spark, T2_SF_DIR, "events").select(
        "event_id", "user_id", "value", F.date_format("ts", "yyyy-MM-dd").alias("dt")
    )
    e.write.partitionBy("dt").parquet(out)
    some_dt = e.select("dt").first()["dt"]
    df = spark.read.parquet(out).filter(F.col("dt") == some_dt)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "dt" in pf


def test_salted_join_partitions_on_salt(spark):
    """The salted join must hash-partition on BOTH keys — user_id alone
    would defeat the salting."""
    plan = _plan(spark, "join_skew_salted")
    assert "CartesianProduct" not in plan
    # the join condition carries both user and salt equality
    assert "salt" in plan and ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan)


def test_q18_aggregates_before_joining(spark):
    """Q18's HAVING aggregation must sit BELOW the joins in the plan —
    shrinking lineitem to qualifying orders before any join."""
    plan = _plan(spark, "tpch_q18")
    agg_pos = plan.find("HashAggregate")
    first_join = min(
        [p for p in (plan.find("SortMergeJoin"), plan.find("BroadcastHashJoin"),
                     plan.find("ShuffledHashJoin")) if p != -1],
        default=-1,
    )
    assert agg_pos != -1 and first_join != -1
    # plans print top-down: the join appears before (above) the agg that feeds it
    assert first_join < plan.rfind("HashAggregate")


def test_minhash_only_broadcasts_seed_product(spark):
    """dedup_near_minhash's one intentional product is the 16-row seed
    fan-out, which must be broadcast (nested-loop against a 16-row
    side), never a shuffled CartesianProduct."""
    plan = _plan(spark, "dedup_near_minhash")
    assert "CartesianProduct" not in plan


def test_pure_map_ops_have_zero_exchanges(spark):
    """The per-row pipeline ops (hash split, PII redaction, int8
    quantization) must plan as a single scan→project stage: any
    Exchange here would be a scale bug, since the semantics are a pure
    function of each row."""
    for name in ("sample_train_test_split", "text_pii_redact", "embed_quantize"):
        plan = _plan(spark, name)
        assert "Exchange" not in plan, f"{name} shuffles: {plan}"


def test_upsert_pushes_partial_top1(spark):
    """Latest-wins compaction must show WindowGroupLimit (partial
    top-1 per map task) so the shuffle carries one candidate per
    (key, task), not the full history."""
    assert "WindowGroupLimit" in _plan(spark, "upsert_latest_wins")


def test_decontaminate_broadcasts_eval_set(spark):
    """The eval shingle set is benchmark-sized; the training corpus
    must stream past it as a broadcast build side, never shuffle-join
    against it."""
    assert "BroadcastHashJoin" in _plan(spark, "text_decontaminate")


def test_bidirectional_pairs_single_shuffle_no_join(spark):
    """flow_bidirectional_pairs must be ONE aggregation on the
    canonical key — a plan with any Join node (the old
    aggregate+self-semi-join shape) or a second hash-agg Exchange
    regressed the rewrite."""
    plan = _plan(spark, "flow_bidirectional_pairs")
    assert "Join" not in plan, f"self-join reappeared: {plan}"
    # exactly one hashpartitioning exchange for the (lo,hi) agg; the
    # round-robin parse fan-out is the only other allowed exchange
    assert plan.count("hashpartitioning") == 1, plan


def test_q8_star_broadcasts_all_dims(spark):
    """tpch_q8: every dimension side (part, supplier, nations, region)
    must broadcast; the only shuffle joins allowed are between the two
    facts (orders x lineitem)."""
    plan = _plan(spark, "tpch_q8")
    assert plan.count("BroadcastHashJoin") >= 5, plan


def test_q17_decorrelated_single_fact_shuffle(spark):
    """tpch_q17's avg-quantity subquery must decorrelate into a
    pre-aggregation (no per-row subquery => no nested CartesianProduct
    or BroadcastNestedLoopJoin in the plan)."""
    plan = _plan(spark, "tpch_q17")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_gap_fill_no_cartesian_grid(spark):
    """ts_gap_fill densifies via per-user sequence explode; a
    CartesianProduct against a calendar relation would be the
    non-scalable shape."""
    plan = _plan(spark, "ts_gap_fill")
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan or "Generate" in plan, plan


def test_partition_pruning_static(spark):
    """scan_partition_pruned: the partition-key predicate must land in
    PartitionFilters (directory pruning), not just a row filter."""
    plan = _plan(spark, "scan_partition_pruned")
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "event_type" in pf, plan


def test_partition_pruning_dynamic(spark):
    """join_dynamic_partition_pruning: the fact scan must carry a
    dynamicpruning subquery keyed on the dim side."""
    plan = _plan(spark, "join_dynamic_partition_pruning")
    assert "dynamicpruning" in plan, plan


def test_running_distinct_single_shuffle(spark):
    """win_running_distinct: the explicit user_id repartition must
    satisfy BOTH window distributions ((user_id, event_type) and
    (user_id)) — exactly one Exchange in the plan."""
    import re

    plan = _plan(spark, "win_running_distinct")
    n = len(re.findall(r"Exchange (hash|range|Single|RoundRobin)", plan))
    assert n == 1, plan


def test_zipf_window_on_post_agg_only(spark):
    """text_zipf_rank: the global rank window must consume the
    vocabulary-sized aggregate, and the 1-row total join must be a
    broadcast, never a shuffled join."""
    plan = _plan(spark, "text_zipf_rank")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_join_hint_forces_smj(spark):
    """join_hint_strategies: the SHUFFLE_MERGE hint must override the
    would-be broadcast (customer easily fits the threshold) and
    produce a SortMergeJoin."""
    plan = _plan(spark, "join_hint_strategies")
    assert "SortMergeJoin" in plan, plan


def test_cache_reuse_in_memory_scan(spark):
    """plan_cache_reuse: both aggregation branches must read the
    persisted relation (InMemoryTableScan), not re-scan parquet."""
    plan = _plan(spark, "plan_cache_reuse")
    assert plan.count("InMemoryTableScan") >= 2, plan


def test_range_bucketed_is_equi_join(spark):
    """join_range_bucketed: the bucket-key conversion must produce a
    hash-based equi join — never a nested-loop over the band."""
    plan = _plan(spark, "join_range_bucketed")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_not_in_plans_null_aware_anti(spark):
    # the trailing `true` on the BHJ line is isNullAwareAntiJoin —
    # Catalyst planned the single-key null-aware variant, not a
    # nested-loop NOT IN rewrite
    plan = _plan(spark, "sql_not_in_null_aware")
    lines = [l for l in plan.splitlines() if "BroadcastHashJoin" in l]
    assert lines and "LeftAnti" in lines[0] and lines[0].rstrip().endswith("true")
    assert "NestedLoop" not in plan


def test_rank_change_windows_on_post_agg(spark):
    # both windows must run over the (week,user) aggregate, never raw
    # events — plan prints consumer-first, so Window lines sit ABOVE
    # the HashAggregate that feeds them
    plan = _plan(spark, "win_rank_change")
    assert "Window" in plan and "HashAggregate" in plan
    assert plan.index("Window") < plan.index("HashAggregate")


def test_source_cap_prunes_map_side(spark):
    """sample_per_source_cap must plan the per-group cap as
    WindowGroupLimit (Partial before the exchange), so shuffle bytes
    are bounded by cap×|sources| per task."""
    plan = _plan(spark, "sample_per_source_cap")
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan


def test_q3_top10_is_take_ordered(spark):
    """tpch_q3's LIMIT 10 must plan as TakeOrderedAndProject (per-
    partition top-10 then merge) — not a global Sort + Limit."""
    plan = _plan(spark, "tpch_q3")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_q5_broadcasts_dims_no_cartesian(spark):
    plan = _plan(spark, "tpch_q5")
    assert "BroadcastHashJoin" in plan
    assert "Cartesian" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_null_safe_join_is_hash_join(spark):
    """eqNullSafe must still plan as a (broadcast) HASH join — the
    null-safe key hashes as coalesce+null-flag — never a nested loop."""
    plan = _plan(spark, "join_null_safe_eq")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_triangle_count_equi_joins_only(spark):
    plan = _plan(spark, "graph_triangle_count")
    assert "Cartesian" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_funnel_single_scan(spark):
    """corpus_filter_funnel computes all stage flags in one pass: the
    documents parquet must be scanned exactly once."""
    plan = _plan(spark, "corpus_filter_funnel")
    assert plan.count("FileScan parquet") == 1


def test_skew_join_splits_hot_partition(spark):
    """join_skew_aqe: after execution, the final adaptive plan must
    show AQE's skew handling engaged on the sort-merge join — the
    runtime complement to the manual salt split."""
    import engine

    df = engine.QUERIES["join_skew_aqe"](spark, T2_SF_DIR)
    # collect() (not a noop write) so the DataFrame's OWN QueryExecution
    # runs to completion — AQE finalizes per-execution, and a write
    # spawns a separate one, leaving this plan isFinalPlan=false
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan[:800]
    assert "skew=true" in plan, plan[:800]


def test_lateral_topn_decorrelates_to_window_limit(spark):
    """join_lateral_topn: Catalyst must decorrelate the per-row LIMIT
    lateral subquery into the WindowGroupLimit shape (with a map-side
    Partial pass), never a per-outer-row nested loop."""
    plan = _plan(spark, "join_lateral_topn")
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan  # map-side top-k pruning before the shuffle
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_udtf_scan_prunes_to_argument_column(spark):
    """udtf_order_chunks: the scan under the Python UDTF must read ONLY
    the argument column — a table function over one column must not
    drag the whole orders schema through the Python worker."""
    plan = _plan(spark, "udtf_order_chunks")
    assert "BatchEvalPythonUDTF" in plan
    assert "ReadSchema: struct<o_orderkey:bigint>" in plan


def test_bloom_filter_injected_on_fact_scan(spark):
    """join_bloom_filtered: the optimizer must inject a runtime bloom
    filter — bloom_filter_agg on the selective build side and a
    might_contain predicate applied on the fact side BEFORE its
    shuffle."""
    plan = _plan(spark, "join_bloom_filtered")
    assert "bloom_filter_agg" in plan, plan[:900]
    assert "BloomFilterMightContain" in plan or "might_contain" in plan, plan[:900]


def test_cbo_stats_drive_join_plan(spark):
    """join_reorder_cbo: after ANALYZE TABLE, the optimized plan must
    carry catalog rowCount statistics (only present when CBO reads
    ANALYZE'd stats — the file-size fallback has sizeInBytes only),
    and both dims must broadcast. The op scopes its CBO confs (they
    must NOT leak into the suite session), so plan inspection
    re-enables them around planning the same query."""
    from engine.ops.catalog_ops import _cbo_frame
    from engine.session import scoped_confs

    engine.QUERIES["join_reorder_cbo"](spark, T2_SF_DIR)  # tables + stats
    with scoped_confs(
        spark,
        **{
            "spark.sql.cbo.enabled": "true",
            "spark.sql.cbo.joinReorder.enabled": "true",
        },
    ):
        qe = _cbo_frame(spark)._jdf.queryExecution()
        stats = qe.optimizedPlan().stats().toString()
        assert "rowCount=" in stats, stats
        plan = qe.executedPlan().toString()
        assert plan.count("BroadcastHashJoin") >= 2, plan[:1200]
    # and the leak itself is the regression: confs are back to default
    assert spark.conf.get("spark.sql.cbo.enabled") == "false"


def test_compaction_reduces_file_count(spark):
    """sink_compact_small_files: the rewrite must actually pack the
    16-writer slivers — per-partition file count drops to the planned
    ceil(bytes/target) (= 1 at toy scale) and total file count drops
    by an order of magnitude."""
    import os

    from engine.registry import scratch_root

    engine.QUERIES["sink_compact_small_files"](spark, T2_SF_DIR).count()
    base = os.path.join(scratch_root(), "sink_compact_small_files")

    def counts(sub):
        per = {}
        for root, _d, files in os.walk(os.path.join(base, sub)):
            dt = os.path.basename(root)
            if dt.startswith("dt="):
                per[dt] = sum(1 for f in files if f.endswith(".parquet"))
        return per

    before, after = counts("sliver"), counts("compact")
    assert before and after and set(after) == set(before)
    assert all(n == 1 for n in after.values()), after
    assert sum(before.values()) >= 8 * sum(after.values()), (before, after)


def test_pipe_syntax_plan_equals_classic(spark):
    """sql_pipe_syntax: the |> chain must resolve to the same physical
    plan as the classic SELECT spelling (modulo plan ids) — pipes are
    syntax, not a different engine path."""
    import re

    engine.QUERIES["sql_pipe_syntax"](spark, T2_SF_DIR)  # registers the view
    classic = spark.sql(
        """
        SELECT o_orderstatus,
               count(*) AS n,
               CAST(sum(CAST(round(o_totalprice*100) AS BIGINT))
                    AS BIGINT) AS total_cents
        FROM engine_pipe_orders
        WHERE o_orderpriority LIKE '1%' OR o_orderpriority LIKE '2%'
        GROUP BY o_orderstatus
        """
    )
    piped = engine.QUERIES["sql_pipe_syntax"](spark, T2_SF_DIR)

    def norm(df):
        s = df._jdf.queryExecution().executedPlan().toString()
        s = re.sub(r"#\d+L?", "#x", s)
        return re.sub(r"plan_id=\d+", "plan_id=x", s)

    assert norm(piped) == norm(classic)


def test_q21_scans_lineitem_once(spark):
    """The round-5 q21 spelling replaces both lineitem self-joins with a
    two-level aggregation: the fact table must appear in exactly ONE
    scan (orders/supplier/nation account for the rest)."""
    plan = _plan(spark, "tpch_q21")
    assert plan.count("lineitem.parquet") == 1, plan


def test_gap_fill_single_window_single_explode(spark):
    """Single-pass gap-fill: one lead() window over the SPARSE hourly
    series and one segment explode — not the densify-then-two-
    ignore-nulls-windows shape the first spelling used."""
    plan = _plan(spark, "ts_gap_fill")
    # "Window" also prefixes WindowGroupLimit; count exact node lines
    n_window = sum(
        1
        for ln in plan.splitlines()
        if ln.lstrip("+-* ").startswith("Window ")
    )
    assert n_window == 1, plan
    assert plan.count("Generate explode") == 1, plan


def test_grouped_map_buckets_not_raw_key(spark):
    """udf_grouped_map groups by a bounded hash bucket (256) of
    user_id, not user_id itself — the high-cardinality-small-groups
    fix; the pandas stage must still be present."""
    plan = _plan(spark, "udf_grouped_map")
    assert "FlatMapGroupsInPandas" in plan
    assert "pmod" in plan and "xxhash64" in plan, plan


def test_manifest_skip_reads_minority_of_files(spark):
    """Zone-map pruning must be real: the five-day band over the
    8-file range-clustered table may touch at most 3 files (the op
    itself asserts non-vacuity; this pins the selectivity)."""
    from pyspark.sql import functions as F

    df = engine.QUERIES["scan_manifest_file_skip"](spark, T2_SF_DIR)
    n = df.select(F.col("_metadata.file_path")).distinct().count()
    assert 1 <= n <= 3, f"pruned scan touched {n} files"


def test_bottom_k_sample_is_distributed_topk(spark):
    """sample_bottom_k_consistent must plan as TakeOrderedAndProject
    (per-task k-row heaps), not a global sort or a one-partition
    window."""
    plan = _plan(spark, "sample_bottom_k_consistent")
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_span_coverage_single_shingle_pass(spark):
    """dedup_span_coverage shingles ONCE — since round 9 via the shared
    `_anchored_span_frames` builder, which pays the shingle explode,
    dup-set groupBy, semi join, and island merge exactly once at build
    time (eager checkpoint) and releases the shingle cache. The SERVED
    plan therefore reads the tiny checkpointed span frame plus the
    documents scan — no explode, no span shuffle, no lingering cache."""
    plan = _plan(spark, "dedup_span_coverage")
    assert "ExistingRDD" in plan, plan  # checkpointed spans
    assert "posexplode" not in plan, plan  # shingle work paid at build
    assert "InMemoryRelation" not in plan, plan  # no cache leak


def test_anchored_span_builder_shape(spark):
    """The shared `_anchored_span_frames` builder itself must keep the
    skew-safe shape: dup detection is a map-side-combinable groupBy
    (min/max doc_id, never a whole-partition window over span) feeding
    a semi join. Asserted on the pre-checkpoint plan."""
    from pyspark.sql import functions as F

    from engine.ops.suffix import SPAN_K, _merge_islands, table

    d = table(spark, T2_SF_DIR, "documents")
    base = d.select("doc_id", F.split("text", " ").alias("a")).withColumn(
        "n_tokens", F.size("a")
    )
    sh = base.filter(F.col("n_tokens") >= SPAN_K).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, n_tokens - {SPAN_K} + 1),"
                f" i -> array_join(slice(a, i, {SPAN_K}), ' '))"
            )
        ).alias("p", "span"),
    ).select("doc_id", (F.col("p") + 1).alias("s"), "span")
    dup = (
        sh.groupBy("span")
        .agg(F.min("doc_id").alias("lo_doc"), F.max("doc_id").alias("hi_doc"))
        .filter(F.col("lo_doc") != F.col("hi_doc"))
        .select("span")
    )
    hits = sh.join(dup.hint("shuffle_hash"), "span", "left_semi").select(
        "doc_id", "s", (F.col("s") + SPAN_K - 1).alias("e")
    )
    plan = (
        _merge_islands(hits)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LeftSemi" in plan, plan
    assert "partial_min" in plan, plan  # map-side combinable dup test


def test_naive_bayes_model_tables_broadcast(spark):
    """ml_naive_bayes_langid: every model-table join (token
    conditionals, priors, lang dim) must broadcast — scoring is one
    scan + map-side joins, never a corpus-wide SortMergeJoin."""
    plan = _plan(spark, "ml_naive_bayes_langid")
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 5-row lang-dim crossJoin


def test_bigram_lm_model_tables_broadcast(spark):
    """text_bigram_lm_score: bigram/unigram/vocab model tables ride
    broadcast joins onto the scoring scan."""
    plan = _plan(spark, "text_bigram_lm_score")
    assert "SortMergeJoin" not in plan, plan


def test_stl_windows_run_post_aggregation(spark):
    """ts_stl_decompose: the unpartitioned range window must sit over
    the 720-row hourly AGGREGATE (one Window node, one events scan) —
    never over the raw event stream."""
    plan = _plan(spark, "ts_stl_decompose")
    n_window = sum(
        1
        for ln in plan.splitlines()
        if ln.lstrip("+-* ").startswith("Window ")
    )
    assert n_window == 2, plan  # trend range-frame + seasonal hod-frame
    assert plan.count("FileScan parquet") == 1, plan


def test_null_profile_single_scan_with_expand(spark):
    """audit_null_profile: all 24 statistics from ONE scan of orders;
    the multi-distinct plans via Expand, not repeated scans."""
    plan = _plan(spark, "audit_null_profile")
    assert plan.count("FileScan parquet") == 1, plan
    assert "Expand" in plan, plan


def test_pandas_window_udf_plans_window_in_pandas(spark):
    """udf_pandas_window_agg must evaluate through the Arrow window
    evaluator (ArrowWindowPython — Spark 4's WindowInPandas), proving
    it's a real window UDF, not a grouped-map rewrite."""
    plan = _plan(spark, "udf_pandas_window_agg")
    assert "ArrowWindowPython" in plan, plan


def test_bloom_write_pushes_point_lookup(spark):
    """The bloom demo's IN-list must reach the parquet scan as a pushed
    filter — that is the hook parquet-mr's row-group bloom pruning
    hangs off (footer consult happens below the plan's visibility)."""
    plan = _plan(spark, "scan_parquet_bloom_write")
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "In(event_id" in pushed, plan


def test_session_reassembly_reuses_one_hash_exchange(spark):
    """flow_session_reassembly: lag window, running-sum window, and the
    (interface_id, sess) groupBy are all served by ONE hash exchange on
    interface_id — the session key refines the window partitioning, so
    Catalyst must not reshuffle. (The round-robin fan-out of the raw
    parse lines is a separate, deliberate exchange.)"""
    plan = _plan(spark, "flow_session_reassembly")
    n_hash = sum(
        1 for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    )
    assert n_hash == 1, plan


def test_distribute_sort_by_requests_layout(spark):
    """DISTRIBUTE BY must produce a hash exchange on user_id and SORT BY
    a NON-global sort — the layout-control contract, with no global
    sort barrier anywhere in the plan."""
    plan = _plan(spark, "sql_distribute_cluster_by")
    assert "Exchange hashpartitioning(user_id" in plan, plan
    sorts = [
        ln.strip()
        for ln in plan.splitlines()
        if ln.strip().lstrip("+-* ").startswith("Sort ")
    ]
    assert sorts and all(", false, 0" in s for s in sorts), plan


def test_ols_single_partial_aggregate_pass(spark):
    """ml_ols_normal_eq: one scan of lineitem, partial (map-side)
    aggregation present, and no Exchange other than the single-row
    final combine."""
    plan = _plan(spark, "ml_ols_normal_eq")
    assert plan.count("lineitem.parquet") == 1, plan
    assert "partial_count" in plan or "HashAggregate" in plan, plan


def test_nested_schema_pruning_reads_two_leaves(spark):
    """scan_nested_schema_pruning: the scan must read only the two
    surviving struct leaves (priority for the filter, cents for the
    projection) and push the nested equality — not the whole payload."""
    plan = _plan(spark, "scan_nested_schema_pruning")
    rs = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "priority" in rs and "cents" in rs, rs
    assert "status" not in rs and "cust" not in rs, rs
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "payload.priority" in pushed, plan


def test_basket_lift_single_fact_pass(spark):
    """orders_market_basket_lift must read lineitem once into the
    persisted basket table (InMemoryRelation) and generate pairs via
    map-side explode — never a fact-table self-join."""
    plan = _plan(spark, "orders_market_basket_lift")
    assert "InMemoryRelation" in plan or "InMemoryTableScan" in plan
    assert "Generate explode" in plan
    assert "CartesianProduct" not in plan


def test_corr_matrix_one_pass(spark):
    """ml_feature_correlation_matrix: all 15 co-moments in ONE
    partial+final aggregate over a single scan — exactly one shuffle."""
    plan = _plan(spark, "ml_feature_correlation_matrix")
    assert plan.count("Scan parquet") == 1
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "CartesianProduct" not in plan


def test_isotropy_no_pair_join(spark):
    """embed_isotropy_score computes the O(n^2) mean pairwise cosine
    without any join of embeddings against themselves."""
    plan = _plan(spark, "embed_isotropy_score")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # the only join is the broadcast of the 1-row dims fold
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_spearman_broadcasts_rank_spines(spark):
    """stat_spearman_rho assigns ranks via broadcast joins of the two
    distinct-value spines — no fact-table sort, no shuffle join."""
    plan = _plan(spark, "stat_spearman_rho")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_kmv_bottom_k_uses_window_group_limit(spark):
    """agg_kmv_distinct's rank filter must plan as WindowGroupLimit:
    each map task keeps only its local bottom-K rows before the
    shuffle — the property that makes the sketch O(K) per task. A
    second window function in the same frame silently blocks the
    rewrite (found in review), so this pin guards the regression."""
    plan = _plan(spark, "agg_kmv_distinct")
    assert "WindowGroupLimit" in plan


def test_cascade_no_cartesian_and_anti_joins(spark):
    """dedup_cascade_report composes three dedup tiers: no tier may
    degenerate to a cartesian product, and the survivor filtering
    must plan as anti-joins on the doc-id spine (the O(survivors)
    shape that makes cascaded dedup affordable). The registered op
    returns an eager localCheckpoint (so it can unpersist its cached
    tiers — ADVICE r5), whose plan is just the checkpoint scan;
    assert on the PRE-checkpoint builder instead."""
    from engine.ops.dedup import _cascade_build

    report, cached = _cascade_build(spark, T2_SF_DIR)
    plan = report._jdf.queryExecution().executedPlan().toString()
    for f in cached:
        f.unpersist()
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan


def test_flow_port_kmv_uses_window_group_limit(spark):
    """flow_port_cardinality_kmv shares agg_kmv_distinct's bottom-K
    shape: the rank filter must plan as WindowGroupLimit so each map
    task keeps only its local K hashes before the shuffle."""
    plan = _plan(spark, "flow_port_cardinality_kmv")
    assert "WindowGroupLimit" in plan


def test_null_profile_approx_avoids_expand(spark):
    """The approx profile twin exists precisely to avoid the exact
    multi-count(DISTINCT) Expand ×6 of the fact table; pin that the
    approx plan has no Expand while the exact one (acceptably, as a
    publish-gate audit) does."""
    assert "Expand" not in _plan(spark, "audit_null_profile_approx")
    assert "Expand" in _plan(spark, "audit_null_profile")


def test_index_compaction_shrinks_files_and_is_bucket_shaped(spark):
    """dedup_index_compact: the rewrite must collapse the
    per-generation writer slivers (N_INC_BATCHES generations × a
    size-derived fan per write → COMPACT_FILES files) for BOTH index
    table families; equivalence of probe answers is enforced inside
    the op itself (it raises on any diverging row). The pre-compaction
    fan is scale-adaptive (stream.batch_fan), so we pin the shape
    (strictly more sliver files than compacted, at least one sliver
    per generation) rather than a hard-coded shrink ratio."""
    import os

    from engine.ops.dedup import COMPACT_FILES, N_INC_BATCHES
    from engine.registry import scratch_root

    engine.QUERIES["dedup_index_compact"](spark, T2_SF_DIR).count()
    base = os.path.join(scratch_root(), "dedup_index_compact")

    def n_parquet(path):
        return sum(
            1
            for _root, _d, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )

    for fam in ("bands", "shingles"):
        before = n_parquet(os.path.join(base, fam))
        after = n_parquet(os.path.join(base, f"{fam}_c"))
        assert after == COMPACT_FILES, (fam, after)
        assert before > after, (fam, before, after)
        assert before >= N_INC_BATCHES, (fam, before)
    assert N_INC_BATCHES >= 3  # the sliver problem is real, not 1 gen


def test_warc_and_png_decode_are_map_only(spark):
    """The wire decoders (ingest_warc_gzip, multimodal_png_decode) must
    stay shuffle-free: their returned plan is mapInPandas over a scan —
    any Exchange means the decode path picked up an accidental
    repartition and would move payload bytes across the cluster."""
    for name in ("ingest_warc_gzip", "multimodal_png_decode"):
        plan = _plan(spark, name)
        assert "MapInPandas" in plan, plan
        assert "Exchange" not in plan, f"{name} decode shuffles: {plan}"


def test_dsir_model_join_is_broadcast_and_no_cartesian(spark):
    """corpus_dsir_select: the per-bucket log-ratio model table must
    reach the per-feature join as a broadcast (it is bounded by the
    bucket count, never by the corpus), and nothing in the selection
    may degenerate to a product. Asserted on the pre-ranking weight
    frame — the fused ranking (r13) checkpoints, so the final plan is
    a scan and the broadcast evidence lives here."""
    from engine.ops.textops import (
        _dsir_features,
        _dsir_model,
        _dsir_weights,
        table,
    )

    d = table(spark, T2_SF_DIR, "documents").select(
        "doc_id", "lang", "text"
    )
    feats = _dsir_features(d).persist()
    try:
        w = _dsir_weights(feats, _dsir_model(feats))
        plan = w._jdf.queryExecution().executedPlan().toString()
    finally:
        feats.unpersist()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_cut_list_apply_avoids_range_join(spark):
    """dedup_apply_cut_list: token-coverage must be the per-doc
    cut-array probe, not a row-expanding interval join — the plan may
    contain only equi-joins (hash/sort-merge), no nested-loop or
    cartesian node."""
    plan = _plan(spark, "dedup_apply_cut_list")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lcp_spans_reads_published_suffix_array(spark):
    """The suffix array is built ONCE per corpus and published; both
    consumers read the artifact. Proven at the filesystem level: after
    dedup_suffix_array has run, dedup_lcp_spans' input files are
    EXACTLY the published artifact's parquet — no documents scan, no
    rebuild (round-7 verdict item 2's done-criterion)."""
    import os

    from engine.ops.suffix import _sa_artifact_key
    from engine.registry import scratch_root

    engine.QUERIES["dedup_suffix_array"](spark, T2_SF_DIR).collect()
    art = os.path.join(scratch_root(), _sa_artifact_key(T2_SF_DIR))
    assert os.path.isdir(os.path.join(art, "array"))
    assert os.path.isdir(os.path.join(art, "anchors"))
    lazy = engine.QUERIES["dedup_lcp_spans"](spark, T2_SF_DIR)
    files = lazy.inputFiles()
    assert files, "lcp_spans has no file inputs — not reading the artifact"
    for f in files:
        assert art in f, f"lcp_spans scanned outside the artifact: {f}"
    # and the array op itself serves from the artifact too
    sa_files = engine.QUERIES["dedup_suffix_array"](spark, T2_SF_DIR).inputFiles()
    assert sa_files and all(art in f for f in sa_files)


def test_ivf_compaction_shrinks_files(spark):
    """sim_index_compact: the rewrite must collapse the per-generation
    per-writer slivers to one file per cluster partition (probe
    equivalence is enforced inside the op — it raises on any diverging
    row)."""
    import os

    from engine.ops.similarity import IVF_NLIST
    from engine.registry import scratch_root

    engine.QUERIES["sim_index_compact"](spark, T2_SF_DIR).count()
    base = os.path.join(scratch_root(), "sim_index_compact")

    def n_parquet(path):
        return sum(
            1
            for _r, _d, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )

    before = n_parquet(os.path.join(base, "lists"))
    after = n_parquet(os.path.join(base, "lists_c"))
    assert after == IVF_NLIST, after  # one file per cluster partition
    assert before >= 2 * after, (before, after)


def test_ivfpq_lifecycle_codes_scan_prunes_clusters(spark, tmp_path):
    """The composed-index lifecycle layout (codes/gen=N inside cluster
    partitions) must prune CLUSTER directories on a cluster predicate
    across BOTH generations — the partition layout IS the coarse
    index, and an append must not degrade probe pruning."""
    from pyspark.sql import functions as F

    from engine.generations import read_gens
    from engine.ops.pq import _ivfpq_coded, _ivfpq_lifecycle_layout
    from engine.registry import table

    em = table(spark, T2_SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    )
    base = str(tmp_path / "ivfpq")
    _ivfpq_lifecycle_layout(spark, em, base)
    df = read_gens(
        spark, [f"{base}/codes/gen=0", f"{base}/codes/gen=1"], _ivfpq_coded
    ).filter(F.col("cluster") == 1)
    assert df.count() > 0  # both generations contribute members
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "cluster" in pf, plan


def test_ivfpq_recluster_moved_layout_prunes_clusters(spark):
    """sim_index_ivfpq_recluster's MOVED layout (codes_r/gen=N —
    rows re-placed into the refined centroids' cluster partitions)
    must prune CLUSTER directories exactly like the layout it
    replaces: a recluster republishes routing, and the new partition
    layout must remain the coarse index (round-11 verdict item 1's
    plan-assert)."""
    import os

    from pyspark.sql import functions as F

    from engine.generations import read_gens
    from engine.ops.pq import _ivfpq_coded
    from engine.registry import scratch_root
    from engine.stream import read_marker

    engine.QUERIES["sim_index_ivfpq_recluster"](spark, T2_SF_DIR).count()
    base = os.path.join(scratch_root(), "sim_index_ivfpq_recluster")
    assert read_marker(f"{base}/reclustered_upto") == 1  # marker published
    df = read_gens(
        spark, [f"{base}/codes_r/gen=0", f"{base}/codes_r/gen=1"],
        _ivfpq_coded,
    ).filter(F.col("cluster") == 1)
    assert df.count() > 0  # both moved generations contribute members
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "cluster" in pf, plan


def _render_above_exchange(plan: str) -> bool:
    """True when every node rendering a flow-log line (the Project
    holding ``get_json_object(props``) has an Exchange in its subtree,
    i.e. the render runs after the scan is fanned out instead of fused
    into the single-split scan's one task."""
    lines = plan.splitlines()
    renders = [i for i, ln in enumerate(lines) if "get_json_object(props" in ln]
    if not renders:
        return False

    def indent(ln):
        return len(ln) - len(ln.lstrip(" +-:"))

    for i in renders:
        depth = indent(lines[i])
        subtree = []
        for ln in lines[i + 1:]:
            if indent(ln) <= depth:
                break
            subtree.append(ln)
        if not any("Exchange " in ln for ln in subtree):
            return False
    return True


def test_flowlog_render_runs_after_the_fan_out(spark):
    """events.parquet reads as one split; the flow-log line render
    (a props JSON lookup and a 14-field concat) must sit above the
    fan-out Exchange, not fused into the scan's one-task stage."""
    for name in (
        "flow_top_talkers",
        "flow_cidr_lpm_enrich",
        "ingest_flowlog_parse",
        "ingest_envelope_decode",
    ):
        plan = _plan(spark, name)
        assert _render_above_exchange(plan), f"{name}: {plan}"


def test_fan_out_round_robins_narrow_input_and_spares_wide_input(spark):
    from engine.registry import fan_out

    narrow = spark.range(0, 100, 1, 1)
    plan = fan_out(narrow)._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" in plan, plan

    wide = spark.range(0, 100, 1, 16)
    out = fan_out(wide)
    assert out is wide
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
