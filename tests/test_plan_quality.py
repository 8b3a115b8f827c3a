"""Physical-plan regression tests: the 100 TB properties each operator is
designed around (pushdown, pruning, broadcast, shuffle counts, no
cartesian products) asserted against the optimized plan — so a regression
shows up as a test failure, not as a slow cluster job."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

from openmrs_patient_migration_script_spark.plans import QUERIES
from tools.explain_all import formatted_plan, plan_nodes, plans_md

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    return formatted_plan(spark, QUERIES[name](spark, SF))


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(spark, "filter_pred")
    assert "PushedFilters: [" in plan
    # at least one concrete predicate pushed (not the empty list)
    assert not re.search(r"PushedFilters: \[\]", plan.split("PushedFilters")[1][:200])


def test_column_pruning_scan_project(spark):
    plan = plan_of(spark, "scan_project")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = [c.split(":")[0] for c in m.group(1).split(",") if c]
    assert set(cols) == {"c_custkey", "c_name", "c_mktsegment", "c_acctbal"}


def test_broadcast_join_is_broadcast(spark):
    plan = plan_of(spark, "join_broadcast")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_sim_cosine_topk_no_cartesian(spark):
    # vectorized default: Arrow-batched matmul, no join at all
    plan = plan_of(spark, "sim_cosine_topk")
    assert "CartesianProduct" not in plan
    assert "MapInPandas" in plan
    assert "WindowGroupLimit" in plan  # top-k pushed below the full sort
    # the UDF-free HOF twin keeps the broadcast join shape
    hof = plan_of(spark, "sim_cosine_topk_hof")
    assert "CartesianProduct" not in hof
    assert "BroadcastNestedLoopJoin" in hof


def test_join_asof_single_shuffle_single_window(spark):
    plan = plan_of(spark, "join_asof")
    ns = plan_nodes(plan)
    shuffles = [n for n in ns if n == "Exchange"]
    windows = [n for n in ns if n == "Window"]
    assert len(shuffles) == 1, ns
    assert len(windows) == 1, ns


def test_etl_registration_zero_shuffles(spark):
    """The flagship is a scan-project pipeline: its only exchange is the
    nation broadcast — any plain shuffle Exchange is a regression."""
    ns = plan_nodes(plan_of(spark, "etl_registration"))
    assert "Exchange" not in ns, ns
    assert "BroadcastHashJoin" in ns


def test_text_tfidf_single_corpus_scan(spark):
    """tf is checkpointed: the corpus parquet must be scanned at most once
    per plan (the checkpointed RDD feeds both the tf and doc-freq sides)."""
    plan = plan_of(spark, "text_tfidf")
    assert plan.count("Scan parquet") == 0
    assert "BroadcastHashJoin" in plan


def test_no_python_udfs_in_relational_plans(spark):
    """Everything outside the explicit Pandas-UDF surface (stream_stateful,
    multimodal) stays JVM-side — BatchEvalPython/ArrowEvalPython in a
    relational plan means a Python UDF leaked into the hot path."""
    for name in ["agg_group", "join_multiway", "win_running", "dedup_fuzzy",
                 "text_tokens", "stream_tumbling", "sim_cosine_topk_hof"]:
        plan = plan_of(spark, name)
        assert "EvalPython" not in plan, name


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """Bucketing both join sides on the key pre-partitions data on disk —
    the sort-merge join then needs ZERO exchanges. This is the co-located
    join lever for repeated big-big joins at 100 TB."""
    from openmrs_patient_migration_script_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS buck LOCATION '{tmp_path}/wh'")
    try:
        load_table(spark, sf, "orders").write.bucketBy(8, "o_custkey").sortBy(
            "o_custkey"
        ).mode("overwrite").saveAsTable("buck.orders_b")
        load_table(spark, sf, "customer").write.bucketBy(8, "c_custkey").sortBy(
            "c_custkey"
        ).mode("overwrite").saveAsTable("buck.customer_b")
        joined = spark.table("buck.orders_b").join(
            spark.table("buck.customer_b").hint("merge"),
            spark.table("buck.orders_b").o_custkey
            == spark.table("buck.customer_b").c_custkey,
        )
        plan = formatted_plan(spark, joined)
        ns = plan_nodes(plan)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in ns, ns  # bucketing removed both shuffles
        assert joined.count() > 0
    finally:
        spark.sql("DROP DATABASE IF EXISTS buck CASCADE")


def test_partitioned_write_enables_partition_pruning(spark, tmp_path):
    """Hive-partitioned layout + a partition-column filter → the scan reads
    only matching directories (PartitionFilters), the scale lever for
    time-sliced event tables."""
    from openmrs_patient_migration_script_spark.sources import load_table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    path = f"{tmp_path}/events_by_day"
    events = load_table(spark, sf, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    events.write.partitionBy("day").mode("overwrite").parquet(path)
    first_day = events.agg(F.min("day")).collect()[0][0]
    scan = spark.read.parquet(path).filter(F.col("day") == first_day)
    plan = formatted_plan(spark, scan)
    assert "PartitionFilters: [" in plan
    assert f"isnotnull(day" in plan or "day" in plan.split("PartitionFilters")[1][:200]
    assert scan.count() == events.filter(F.col("day") == first_day).count()


def test_funnel_stacked_windows_share_one_exchange(spark):
    # three window mins on the same user_id partitioning must plan exactly
    # one Exchange before the final (tiny) aggregation pair
    plan = plan_of(spark, "funnel_events")
    n = plan_nodes(plan)
    assert n.count("Window") == 3, n
    pre_agg = n[: n.index("HashAggregate")] if "HashAggregate" in n else n
    assert pre_agg.count("Exchange") == 1, pre_agg


def test_retention_signup_dim_is_broadcast(spark):
    plan = plan_of(spark, "retention_cohort")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_sample_hash_has_no_shuffle(spark):
    n = plan_nodes(plan_of(spark, "sample_hash"))
    assert "Exchange" not in n, n


def test_ivf_probe_join_is_broadcast_no_corpus_shuffle(spark):
    plan = plan_of(spark, "sim_ann_ivf")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    n = plan_nodes(plan)
    # the only Exchange allowed is the top-k ranking window's (plus AQE
    # bookkeeping); the corpus-side candidate pruning must not shuffle
    win = n.index("Window") if "Window" in n else len(n)
    assert n[:win].count("Exchange") <= 1, n


def test_pseudonymize_is_pure_projection(spark):
    """De-identification is row-local: any Exchange means the scrub started
    shuffling 100 TB of patient rows for no reason."""
    ns = plan_nodes(plan_of(spark, "etl_pseudonymize"))
    assert "Exchange" not in ns, ns
    assert not any("Join" in n for n in ns), ns


def test_pii_scrub_is_pure_projection(spark):
    ns = plan_nodes(plan_of(spark, "text_pii_scrub"))
    assert "Exchange" not in ns, ns


def test_kanon_audit_partial_aggregates(spark):
    """One shuffle carrying only distinct quasi-identifier tuples: partial
    HashAggregate must sit below the single Exchange."""
    ns = plan_nodes(plan_of(spark, "privacy_kanon"))
    assert ns.count("Exchange") == 1, ns
    assert ns.count("HashAggregate") == 2, ns


def test_corpus_prep_survivor_stage_no_cartesian(spark):
    """The composed pipeline must never degrade to an all-pairs product —
    candidate generation stays a banding equi-join."""
    plan = plan_of(spark, "corpus_prep")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_global_sort_is_range_partitioned(spark):
    """O1 must distribute: Exchange rangepartitioning + per-partition Sort,
    never a single-partition global sort."""
    plan = plan_of(spark, "sort_global")
    assert "rangepartitioning" in plan
    ns = plan_nodes(plan_of(spark, "sort_global"))
    assert "Sort" in ns, ns


def test_exists_subquery_decorrelates_to_semi_join(spark):
    """Correlated EXISTS must rewrite to a hash semi join — a per-row
    subquery probe (nested loop) would be O(n*m) at scale."""
    plan = plan_of(spark, "sql_exists_subquery")
    assert "LeftSemi" in plan or "Semi" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scalar_subquery_decorrelates_to_one_agg_join(spark):
    """Correlated scalar subquery = one aggregation + one equi-join, not a
    rescan per outer row."""
    ns = plan_nodes(plan_of(spark, "sql_scalar_subquery"))
    assert sum(1 for n in ns if "HashAggregate" in n) == 2, ns  # partial+final
    assert any("Join" in n for n in ns), ns
    assert "CartesianProduct" not in ns


def test_runtime_bloom_filter_reduces_shuffle_join(spark):
    """A selective dim filter on a shuffle join should inject a runtime
    bloom filter on the fact side (semi-join reduction): fact rows whose
    key can't match are dropped BEFORE the shuffle. At 100 TB the default
    size thresholds (creation side <=10 MB post-filter, application scan
    >=10 GB) are met by any real fact table; the fixture is far below
    them, so the thresholds are relaxed here to pin the mechanism.
    """
    from pyspark.sql import functions as F

    from openmrs_patient_migration_script_spark.sources.parquet import load_table

    saved = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": None,
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": None,
        "spark.sql.autoBroadcastJoinThreshold": None,
    }
    for k in saved:
        saved[k] = spark.conf.get(k)
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB"
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = load_table(spark, SF, "lineitem")
        orders = load_table(spark, SF, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        q = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.sum("l_quantity"))
        )
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan.lower()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partition(spark):
    """A planted hot key (83% of the left side) must trigger AQE's
    OptimizeSkewedJoin — the final adaptive plan marks the sort-merge join
    skew=true (the hot partition was split across tasks). Thresholds are
    lowered to fixture scale; at 100 TB the defaults (256 MB partition,
    5x median) catch the same shape. This is the runtime half of the skew
    story — the static half (salted windows) is operators/skew.py.
    """
    from pyspark.sql import functions as F

    saved = {
        "spark.sql.autoBroadcastJoinThreshold": None,
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": None,
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": None,
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": None,
    }
    for k in saved:
        saved[k] = spark.conf.get(k)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        left = spark.range(60000).select(
            F.when(F.col("id") < 50000, 0).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(2000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right, "k").groupBy().agg(F.sum("v").alias("sv"))
        j.collect()  # AQE decides at runtime; must execute, not just plan
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_lateral_topk_decorrelates_to_window_group_limit(spark):
    """The LATERAL LIMIT subquery must rewrite to a pre-shuffle
    WindowGroupLimit + hash join; a nested-loop join here is the O(n*m)
    per-row rescan that cannot survive scale."""
    ns = plan_nodes(plan_of(spark, "sql_lateral_topk"))
    assert "BroadcastNestedLoopJoin" not in ns, ns
    assert "CartesianProduct" not in ns, ns
    assert any("WindowGroupLimit" in n for n in ns), ns


def test_recursive_cte_aggregates_facts_once(spark):
    """The recursion builds the 84-row calendar spine; the fact table must
    contribute exactly one partial+final aggregation pair (one Exchange),
    never one scan per recursion step."""
    ns = plan_nodes(plan_of(spark, "sql_recursive_cte"))
    assert sum(1 for n in ns if n.startswith("Scan")) <= 1, ns
    assert ns.count("Exchange") <= 2, ns


def test_json_variant_single_parse(spark):
    """parse_json must appear once in the projection (decode-once variant
    path), with both extractions reading the same variant value."""
    plan = plan_of(spark, "json_variant")
    assert plan.lower().count("parse_json") <= 1, plan


def test_salted_join_stays_hash_join_with_salt_explosion(spark):
    """The salted join must remain an equi hash join on (key, salt) with
    the small side exploded (Generate) — a nested-loop or cartesian here
    would mean the salt column broke the equi-join condition."""
    ns = plan_nodes(plan_of(spark, "join_salted"))
    assert "BroadcastNestedLoopJoin" not in ns and "CartesianProduct" not in ns, ns
    assert "Generate" in ns, ns  # per-salt replication of the small side
    assert any("HashJoin" in n or n == "SortMergeJoin" for n in ns), ns


def test_embed_centroids_explodes_before_shuffle(spark):
    """The vector mean must posexplode BEFORE the exchange so the shuffle
    carries (label, dim, value) rows with map-side partial aggregation —
    never whole embedding arrays."""
    ns = plan_nodes(plan_of(spark, "embed_centroids"))
    gen = ns.index("Generate")
    ex = ns.index("Exchange")
    assert gen < ex, ns
    # partial agg sits between the explode and the exchange
    assert "HashAggregate" in ns[gen:ex], ns


def test_embed_normalize_norm_fold_stays_below_generate(spark):
    """The O(d) norm fold must evaluate per VECTOR (below the Generate),
    never inlined into the per-element projection above it — that
    inlining silently makes the query O(d^2) per vector."""
    plan = plan_of(spark, "embed_normalize")
    gen_pos = plan.index("Generate")
    assert "aggregate(" not in plan[:gen_pos], plan[:gen_pos]  # tree section
    # in the node-detail section, every fold occurrence must precede the
    # Generate node — nodes above it reference only the _n attribute
    detail = plan[plan.index("(1) Scan"):]
    gen_detail = detail.index("Generate")
    assert "aggregate(" not in detail[gen_detail:], detail[gen_detail:][:300]


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """Catalyst's InjectRuntimeFilter: a selective dim-side filter on a
    shuffle join grows a bloom filter that is pushed into the FACT side's
    scan filter — non-joining fact rows die before the shuffle, the big
    lever when a 100 TB fact joins a filtered dim too large to broadcast.
    Thresholds here are lowered to fire at test scale; production defaults
    (10 GB application side) fire exactly where the shuffle is worth
    saving. Pinned so a config/session regression (e.g. disabling AQE or
    the bloom rule) surfaces as a test failure."""
    from openmrs_patient_migration_script_spark.sources import load_table
    from pyspark.sql import functions as F

    cfgs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "10KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in cfgs}
    try:
        for k, v in cfgs.items():
            spark.conf.set(k, v)
        li = load_table(spark, SF, "lineitem")
        part = load_table(spark, SF, "part").filter(F.col("p_brand") == "Brand#23")
        j = li.join(part, li.l_partkey == part.p_partkey)
        plan = formatted_plan(spark, j)
        assert "might_contain" in plan, plan[:2000]
        assert "bloom_filter_agg" in plan, plan[:2000]
        # the membership probe must sit on the fact side BELOW the join,
        # i.e. inside a Filter condition, not post-join
        probe_line = next(l for l in plan.splitlines() if "might_contain" in l)
        assert "Condition" in probe_line or "Filter" in probe_line, probe_line
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_banded_join_rewrites_nested_loop_to_hash_join(spark):
    """join_range_binned: the only join predicate is a value band — naively a
    BroadcastNestedLoopJoin (cartesian once nothing broadcasts). The binned
    rewrite must plan as a hash/sort-merge equi-join on the bin key."""
    plan = plan_of(spark, "join_range_binned")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )
    # the naive form of the same query IS a nested loop — proves the rewrite
    # is what removed it, not the data size
    from openmrs_patient_migration_script_spark.plans import QUERIES  # noqa: F401
    from openmrs_patient_migration_script_spark.sources import load_table

    s = load_table(spark, SF, "supplier").select("s_suppkey", "s_acctbal")
    c = load_table(spark, SF, "customer").select("c_acctbal")
    import pyspark.sql.functions as F

    naive = s.join(c, F.abs(c.c_acctbal - s.s_acctbal) <= 5.0)
    naive_plan = formatted_plan(spark, naive)
    assert "BroadcastNestedLoopJoin" in naive_plan


def test_events_transitions_window_then_bounded_agg(spark):
    """events_transitions: one Exchange on user_id for the lag window, one
    tiny Exchange for the (|types|^2-bounded) transition agg — partial
    aggregation must sit below it so the second shuffle stays bounded."""
    plan = plan_of(spark, "events_transitions")
    n_ex = sum(1 for n in plan_nodes(plan) if n.startswith("Exchange"))
    assert n_ex == 2, plan
    assert "partial_count" in plan or "HashAggregate" in plan


def test_events_top_paths_window_group_limit(spark):
    """events_top_paths: the rn <= 3 predicate must become a pre-shuffle
    WindowGroupLimit so map tasks forward at most 3 rows per user into the
    exchange — without it the full event log shuffles just to be discarded."""
    plan = plan_of(spark, "events_top_paths")
    assert "WindowGroupLimit" in plan


def test_surrogate_keys_one_shuffle_no_checkpoint(spark):
    """r3 literal-cut surrogate keys: the ONLY Exchange is the bucket
    window's hash partitioning — no range-repartition shuffle and no
    localCheckpoint boundary (`Scan ExistingRDD`) may reappear. The r2
    design paid all three."""
    ns = plan_nodes(plan_of(spark, "etl_surrogate_keys"))
    assert ns.count("Exchange") == 1, ns
    assert "ScanExistingRDD" not in [n.replace(" ", "") for n in ns], ns


def test_dedup_embedding_single_grid_shuffle(spark):
    """Block-grid all-pairs: one Exchange (the grid-cell grouping) into
    one grouped-map Pandas stage; any second Exchange or a MapInPandas
    over a collected closure is a regression toward r2's driver-side
    corpus collect."""
    ns = plan_nodes(plan_of(spark, "dedup_embedding"))
    assert ns.count("Exchange") == 1, ns
    assert any("FlatMapGroupsInPandas" in n for n in ns), ns


def test_interval_overlap_join_is_hash_join_not_nested_loop(spark):
    """join_interval_overlap: the only join predicate users wrote is an
    interval overlap — naively a BroadcastNestedLoopJoin. The binned
    rewrite must plan as an equi-join on (key, bin); the canonical-bin
    filter must not reintroduce a dedup Exchange (no extra aggregate over
    the join output)."""
    plan = plan_of(spark, "join_interval_overlap")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )
    # pair-level output: no aggregate node at all (dedup-free by design)
    assert not any("Aggregate" in n for n in plan_nodes(plan)), plan_nodes(plan)


def test_bitmap_distinct_avoids_expand(spark):
    """agg_bitmap_distinct: exact distinct WITHOUT the Expand plan exact
    multi-count-distinct pays (dq_profile's documented cost) — bucketed
    bitmaps aggregate in bounded state; only bitmap/popcount aggregates
    and their exchanges may appear."""
    plan = plan_of(spark, "agg_bitmap_distinct")
    ns = plan_nodes(plan)
    assert "Expand" not in ns, ns
    assert ns.count("Exchange") <= 3, ns


def test_sketch_rollups_shuffle_sketch_state_only(spark):
    """sketch_distinct_rollup / sketch_quantile_rollup: two sketch-state
    exchanges (fine slices, then the merge) and nothing else — no raw-value
    shuffle, no sort-based fallback; the merge step must consume the
    sketch column, not re-scan raw data (exactly one table scan)."""
    for name in ("sketch_distinct_rollup", "sketch_quantile_rollup"):
        ns = plan_nodes(plan_of(spark, name))
        assert ns.count("Exchange") == 2, (name, ns)
        assert ns.count("Scan") == 1, (name, ns)
        assert "SortAggregate" not in ns, (name, ns)


def test_spatial_grid_join_is_hash_join_not_nested_loop(spark):
    """join_spatial_grid: a bare 2D distance predicate would plan as a
    nested loop; the grid-cell rewrite must stay an equi-join."""
    plan = plan_of(spark, "join_spatial_grid")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_basket_pairs_two_exchanges(spark):
    """affinity_basket_pairs: one Exchange gathers baskets, one reduces
    pair counts — the self-join form's extra distinct/window Exchanges
    (5 total) must not creep back; no window node at all (the basket
    guard is a row-local size check on the gathered array)."""
    ns = plan_nodes(plan_of(spark, "affinity_basket_pairs"))
    assert ns.count("Exchange") == 2, ns
    assert "Window" not in ns, ns


def test_ewma_single_exchange_fold(spark):
    """ts_ewma: ONE Exchange (the per-key gather) and a row-local fold —
    any second shuffle or a Python stage is a regression."""
    ns = plan_nodes(plan_of(spark, "ts_ewma"))
    assert ns.count("Exchange") == 1, ns
    assert not any("Python" in n or "Pandas" in n for n in ns), ns


def test_golden_record_is_reduction_not_window(spark):
    """etl_golden_record: survivor election must stay a max_by REDUCTION
    (partial-combinable aggregate) — a Window/row_number form would sort
    every cluster member through a per-cluster window."""
    ns = plan_nodes(plan_of(spark, "etl_golden_record"))
    assert "Window" not in ns, ns
    assert any("Aggregate" in n for n in ns), ns


def test_cdc_apply_is_reduction_plus_one_join(spark):
    """etl_cdc_apply: last-change-wins must stay a max_by REDUCTION (no
    per-key Window sort) and the apply exactly one join — two Exchanges
    total (change reduce + co-partitioned full outer)."""
    ns = plan_nodes(plan_of(spark, "etl_cdc_apply"))
    assert "Window" not in ns, ns
    assert ns.count("Exchange") == 2, ns


def test_asof_forward_single_shuffle_carry(spark):
    """join_asof_forward: the reverse-order carry must keep the one-
    Exchange union+window shape — a pair-materializing range join would
    add a second Exchange and a Join node."""
    ns = plan_nodes(plan_of(spark, "join_asof_forward"))
    assert ns.count("Exchange") == 1, ns
    assert ns.count("Window") == 1, ns
    assert not any("Join" in n for n in ns), ns


def test_custom_source_scan_is_shuffle_free(spark):
    """source_custom_extract: a connector read is a BatchScan + Project —
    any Exchange means the read path grew a shuffle it never needs."""
    ns = plan_nodes(plan_of(spark, "source_custom_extract"))
    assert ns.count("Exchange") == 0, ns


def test_cluster_assign_zero_shuffle_projection(spark):
    """cluster_assign: model inference is a MapInPandas projection over
    the scan — zero Exchanges; aggregation belongs to consumers."""
    ns = plan_nodes(plan_of(spark, "cluster_assign"))
    assert ns.count("Exchange") == 0, ns
    assert any("MapInPandas" in n for n in ns), ns


def test_regression_single_exchange_reduction(spark):
    """agg_regression: OLS must stay ONE hash aggregation over exact
    sufficient statistics — one Exchange, no Window, no Python stage."""
    ns = plan_nodes(plan_of(spark, "agg_regression"))
    assert ns.count("Exchange") == 1, ns
    assert "Window" not in ns, ns
    assert not any("Python" in n or "Pandas" in n for n in ns), ns


def test_sessionize_one_exchange_chained_windows(spark):
    """events_sessionize: the lag flag and both running carries must
    chain over a SINGLE (user_id) Exchange+Sort — a second Exchange
    means session_start regressed to a (key, session) shuffle."""
    ns = plan_nodes(plan_of(spark, "events_sessionize"))
    assert ns.count("Exchange") == 1, ns
    assert ns.count("Sort") == 1, ns
    assert not any("Join" in n for n in ns), ns


def test_twap_window_and_agg_share_one_exchange(spark):
    """ts_twap: the lead() window and the per-key sum must reuse one
    (user_id) hash partitioning — a second Exchange means the agg
    stopped exploiting the window's clustering."""
    ns = plan_nodes(plan_of(spark, "ts_twap"))
    assert ns.count("Exchange") == 1, ns
    assert not any("Join" in n for n in ns), ns


def test_asof_nearest_one_exchange_one_window(spark):
    """join_asof_nearest: both direction carries must share a single
    (user_id) Exchange + Sort — Spark coalesces the preceding-frame
    last() and following-frame first() into one Window node. A Join node
    would mean the plan regressed to the pair-materializing oracle
    shape."""
    ns = plan_nodes(plan_of(spark, "join_asof_nearest"))
    assert ns.count("Exchange") == 1, ns
    assert not any("Join" in n for n in ns), ns


def test_pmi_broadcasts_counts_no_sortmerge(spark):
    """text_pmi: the bigram table must NEVER reshuffle — unigram counts
    and the scalar totals come back as broadcasts; the only non-scalar
    joins are BroadcastHashJoins, and the BNL occurrences are the
    one-row crossJoin shape."""
    plan = plan_of(spark, "text_pmi")
    ns = plan_nodes(plan)
    assert "SortMergeJoin" not in ns and "ShuffledHashJoin" not in ns, ns
    assert ns.count("BroadcastHashJoin") == 2, ns
    assert "CartesianProduct" not in ns, ns


def test_bm25_no_doc_keyed_join(spark):
    """text_bm25: doc length rides through the tf aggregation — the only
    join is the |Q|-row doc-frequency broadcast plus the one-row stats
    crossJoin; a SortMergeJoin would mean the tf⋈dl big-big join came
    back."""
    ns = plan_nodes(plan_of(spark, "text_bm25"))
    assert "SortMergeJoin" not in ns and "ShuffledHashJoin" not in ns, ns
    assert ns.count("BroadcastHashJoin") == 1, ns


def test_surprisal_vocab_broadcast_no_sortmerge(spark):
    """text_surprisal: the token stream must shuffle exactly once (the
    per-doc agg) — the per-type surprisal table comes back as a
    BroadcastHashJoin; a SortMergeJoin means the corpus re-shuffled on
    the token key (skew-prone, vocab-power-law hot keys)."""
    ns = plan_nodes(plan_of(spark, "text_surprisal"))
    assert "SortMergeJoin" not in ns and "ShuffledHashJoin" not in ns, ns
    assert ns.count("BroadcastHashJoin") == 1, ns
    assert not any("Python" in n or "Pandas" in n for n in ns), ns


def test_pagerank_no_cartesian_no_python(spark):
    """graph_pagerank: every per-iteration join keys on the node id —
    no cartesian products, no Python stages; the iteration boundary
    Scans are the localCheckpoint RDDs, not re-reads of parquet."""
    plan = plan_of(spark, "graph_pagerank")
    ns = plan_nodes(plan)
    assert "CartesianProduct" not in ns and "BroadcastNestedLoopJoin" not in ns, ns
    assert not any("Python" in n or "Pandas" in n for n in ns), ns
    assert plan.count("Scan parquet") == 0, "iterations must run off checkpoints"


def test_classifier_score_single_exchange_no_joins(spark):
    """text_classifier_score: the hashed weight lookup is a row-local
    expression — the plan must contain NO join of any kind and exactly
    one Exchange (the per-doc aggregation). A join appearing here means
    the weight table regressed to a materialized lookup."""
    ns = plan_nodes(plan_of(spark, "text_classifier_score"))
    assert not any("Join" in n for n in ns), ns
    assert ns.count("Exchange") == 1, ns
    assert not any("Python" in n or "Pandas" in n for n in ns), ns


def test_anomaly_mad_all_stages_keyed_no_cartesian(spark):
    """dq_anomaly_mad: two median aggs + two joins, every stage keyed on
    user_id (locally the tiny median tables broadcast; at scale AQE
    keeps them shuffle joins on the SAME key — either way no cross-key
    traffic). Nested-loop or cartesian shapes are a regression."""
    ns = plan_nodes(plan_of(spark, "dq_anomaly_mad"))
    assert "CartesianProduct" not in ns and "BroadcastNestedLoopJoin" not in ns, ns
    assert not any("Python" in n or "Pandas" in n for n in ns), ns


def test_corpus_mixture_broadcast_factors_single_count_exchange(spark):
    # the corpus scans once in the emit pass; per-stratum factors join as
    # a broadcast; the only Exchange is the strata-count aggregation (the
    # counts table itself is checkpointed so its lineage can't replay the
    # corpus scan per consumer)
    n = plan_nodes(plan_of(spark, "corpus_mixture"))
    assert "SortMergeJoin" not in n, n
    assert "BroadcastHashJoin" in n, n
    assert "Generate" in n, n  # the row-local epoch explosion
    assert n.count("Exchange") == 1, n


def test_ts_holt_linear_one_exchange_no_window(spark):
    # the fold is in-row: one gather shuffle, no window machinery
    n = plan_nodes(plan_of(spark, "ts_holt_linear"))
    assert n.count("Exchange") == 1, n
    assert "Window" not in n, n


def test_ts_seasonal_range_window_materializes_once(spark):
    # det (scan + RANGE window) feeds two consumers; the checkpoint means
    # the visible plan holds NO Window node and exactly one tiny Exchange
    # (the user x 24 seasonal profile), which then joins back broadcast
    n = plan_nodes(plan_of(spark, "ts_seasonal"))
    assert "Window" not in n, n
    assert n.count("Exchange") == 1, n
    assert "BroadcastHashJoin" in n and "SortMergeJoin" not in n, n


def test_text_keywords_window_group_limit_prunes_to_k(spark):
    # the per-doc top-k rank must prune partitions BEFORE the exchange
    # (WindowGroupLimit both sides of the shuffle) and the df join stays
    # broadcast
    n = plan_nodes(plan_of(spark, "text_keywords"))
    assert n.count("WindowGroupLimit") == 2, n
    assert "BroadcastHashJoin" in n and "SortMergeJoin" not in n, n


def test_l_diversity_audit_is_expand_free(spark):
    # single-column count_distinct plans as a two-phase agg, not the
    # row-multiplying Expand the multi-distinct profile pays
    n = plan_nodes(plan_of(spark, "privacy_l_diversity"))
    assert "Expand" not in n, n
    assert n.count("Exchange") == 2, n


def test_scd2_build_shares_one_exchange_across_window_passes(spark):
    # lag-dedup, lead-stitch and version ordinal all ride one (key, ts)
    # sort: exactly one Exchange, one Sort in the whole build
    n = plan_nodes(plan_of(spark, "etl_scd2_build"))
    assert n.count("Exchange") == 1, n
    assert n.count("Sort") == 1, n


def test_graph_wedge_pipelines_materialize_shared_frames(spark):
    # edges/degrees/oriented feed multiple consumers; without the
    # checkpoints the pair-generation pipeline replayed per consumer
    # (observed: 68 Exchanges for the per-node coefficient). Pin the
    # collapsed shape.
    n = plan_nodes(plan_of(spark, "graph_clustering_coeff"))
    assert n.count("Exchange") <= 8, n.count("Exchange")
    n2 = plan_nodes(plan_of(spark, "graph_triangles"))
    assert n2.count("Exchange") <= 4, n2.count("Exchange")


def test_bloom_semi_prefilter_reduces_candidates(spark):
    """join_bloom_semi: the bloom test must drop non-candidate fact rows
    BEFORE the exchange (row-local filter), and the final result must be
    exactly the plain semi join (false positives corrected)."""
    from pyspark.sql import functions as F

    from openmrs_patient_migration_script_spark.operators.joins import (
        bloom_build_words,
        bloom_might_contain,
        bloom_semi_join,
    )
    from openmrs_patient_migration_script_spark.sources import load_table

    li = load_table(spark, SF, "lineitem")
    o = load_table(spark, SF, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 250000)
    )
    words = bloom_build_words(o, "o_orderkey")
    total = li.count()
    candidates = li.filter(
        bloom_might_contain(words, F.col("l_orderkey"))
    ).count()
    exact = li.join(
        o.select(F.col("o_orderkey").alias("l_orderkey")),
        "l_orderkey",
        "left_semi",
    ).count()
    got = bloom_semi_join(li, o, "l_orderkey", "o_orderkey").count()
    assert got == exact
    # the pre-filter must do real work: strictly fewer candidates than
    # fact rows, and no candidate lost (bloom has no false negatives)
    assert exact <= candidates < total


def test_bloom_semi_filter_is_preshuffle(spark):
    """The bloom membership test must sit under the fact side's exchange
    in the optimized plan — a Filter on the scan side, not post-join."""
    plan = plan_of(spark, "join_bloom_semi")
    ns = plan_nodes(plan)
    assert "Exchange" in ns or "BroadcastExchange" in ns
    # the literal bitmap test shows up as element_at(...) inside a Filter
    assert "element_at" in plan and "Filter" in ns


# Whole-surface plan lint: the hard anti-patterns asserted over EVERY
# declared query, not just the per-query pins above. Allowlists are
# intentional and documented at the declaration site.
_CARTESIAN_OK = {
    "join_cross",  # the intent-explicit broadcast-gated cartesian
}
# queries whose DECLARED contract is an Arrow-batched Python stage
# (mapInPandas / applyInPandas) — ArrowEvalPython-family nodes are the
# design there, never row-at-a-time BatchEvalPython
_PYTHON_STAGE_OK_PREFIXES = (
    "multimodal_", "sim_cosine_topk", "sim_ann_", "cluster_",
    "sim_mmr_rerank", "stream_stateful", "dedup_embedding",
    "dedup_semantic", "sim_knn_graph", "embed_",
    # the PQ/IVF recall certifications compare against the exact
    # brute-force top-k, which is the Arrow-vectorized matmul path
    "sim_pq_recall", "sim_ivf_recall",
    # radius search is the top-k matmul scan minus the rank window —
    # deliberately Arrow-vectorized (r8)
    "sim_radius_search",
    # hard-negative mining is the same matmul scan with a label mask on
    # the in-task score matrix (r8)
    "sim_hard_negatives",
    # r9: every connected-components consumer runs the partition-local
    # contraction funnel (operators/graph.py::contract_components) — an
    # Arrow-batched numpy union-find per partition that shrinks the edge
    # set to ~node size before (or instead of) the global rounds. This
    # is the declared design for all components-based clustering.
    "graph_components", "dedup_clusters", "etl_golden_record",
    "text_dedup_clusters", "corpus_prep", "corpus_dedup_funnel",
)


@pytest.mark.slow
def test_whole_surface_plan_lint(spark):
    """No unplanned cartesian product and no row-at-a-time Python UDF
    anywhere in the 220-query surface. A new query regressing into
    either shape fails HERE even before anyone benchmarks it."""
    bad = []
    for name in sorted(QUERIES):
        plan = plan_of(spark, name)
        if "CartesianProduct" in plan and name not in _CARTESIAN_OK:
            bad.append((name, "CartesianProduct"))
        if "BatchEvalPython" in plan:
            bad.append((name, "BatchEvalPython (row-at-a-time Python UDF)"))
        if "ArrowEvalPython" in plan or "MapInPandas" in plan or "FlatMapGroupsInPandas" in plan:
            if not name.startswith(_PYTHON_STAGE_OK_PREFIXES):
                bad.append((name, "unexpected Python stage"))
    assert not bad, f"plan anti-patterns: {bad}"


def test_bloom_semi_rejects_mismatched_key_dtypes(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from openmrs_patient_migration_script_spark.operators.joins import (
        bloom_semi_join,
    )

    fact = spark.createDataFrame([(1,)], ["k"]).withColumn(
        "k", F.col("k").cast("int")
    )
    build = spark.createDataFrame([(1,)], ["k"]).withColumn(
        "k", F.col("k").cast("long")
    )
    # xxhash64 is width-sensitive: int(1) and bigint(1) probe different
    # bits, so a silent mismatch would DROP matching rows — must raise
    with _pytest.raises(ValueError, match="dtypes differ"):
        bloom_semi_join(fact, build, "k", "k")


def test_cms_estimate_probe_join_is_broadcast(spark):
    """r6 CMS: the estimate join must broadcast the (<= depth*width-row)
    sketch — a shuffled join against a 4096-cell table would be wrong by
    construction."""
    plan = plan_of(spark, "sketch_count_min")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_text_cosine_pairs_inverted_index_join(spark):
    """r6 cosine pairs: the pair generation must be the token-keyed
    equi-join (SortMergeJoin/ShuffledHashJoin on the posting lists),
    never a cartesian/BNL over documents."""
    plan = plan_of(spark, "text_cosine_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mann_whitney_window_is_vocab_sized(spark):
    """r6 MWU: the only window in the plan runs AFTER the value-level
    aggregation (the distinct-value table), never over raw event rows —
    a global row-window over events would be the single-partition-sort
    anti-pattern the query exists to avoid."""
    plan = plan_of(spark, "ab_mann_whitney")
    order = plan_nodes(plan)
    assert order.count("Window") == 1
    # the aggregation to distinct values (keys [value]) must exist and
    # feed the window: a raw-row ranking plan would have no groupBy
    # between the scan and the Window
    assert re.search(r"Keys \[1\]: \[value", plan), plan


@pytest.mark.slow
def test_r10_truss_and_ann_plan_shapes(spark):
    """r10 pins: the truss peel plans stay wedge-join shaped (keyed
    joins, no cartesian), the LSH pair scan keeps its Arrow hash stage +
    candidate-keyed joins, and the candidate-kNN graph prunes its rank
    window with WindowGroupLimit like the exact form."""
    for name in ("graph_ktruss", "graph_truss_decomposition"):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
    lsh = plan_of(spark, "dedup_embedding_lsh")
    assert "MapInPandas" in lsh       # srp_hashed + the exact re-rank
    assert "CartesianProduct" not in lsh
    ann = plan_of(spark, "sim_knn_graph_ann")
    assert "WindowGroupLimit" in ann  # k pruned below the full sort
    assert "CartesianProduct" not in ann


#: every declared query that calls an operator built on a shared private
#: kernel (graph._closed_triangles, dedup._shingle_overlap,
#: dedup._kgram_occurrences, similarity._seed_sample,
#: privacy._grid_counts, quality._two_period_bins)
SHARED_KERNEL_QUERIES = [
    "graph_triangles",
    "graph_clustering_coeff",
    "graph_edge_support",
    "graph_ktruss",
    "graph_truss_decomposition",
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_repeated_spans",
    "dedup_span_rewrite",
    "sim_ann_ivf",
    "sim_ivf_recall",
    "cluster_kmeans",
    "sim_ann_pq",
    "sim_pq_recall",
    "dedup_semantic",
    "privacy_dp_histogram",
    "privacy_dp_quantile",
    "dq_drift_psi",
    "dq_drift_ks",
]


PLANS_MD = Path(__file__).resolve().parent.parent / "PLANS.md"


def _plans_md() -> dict[str, list[str]]:
    """query -> operator sequence, from the committed PLANS.md table
    (written by tools/explain_all.py at the same scale factor)."""
    text = PLANS_MD.read_text()
    rows = {}
    for line in text.splitlines():
        m = re.match(r"^\| `([^`]+)` \| [^|]+ \| [^|]+ \| (.+) \|$", line)
        if m:
            rows[m.group(1)] = m.group(2).split(" → ")
    return rows


@pytest.mark.parametrize("name", SHARED_KERNEL_QUERIES)
def test_shared_kernel_plans_match_plans_md(spark, name):
    """The operator sequence of every query that runs a shared kernel is
    the one PLANS.md records: a change to a kernel that moves a join,
    shuffle or checkpoint in any caller's plan fails here (regenerate
    PLANS.md with tools/explain_all.py when the move is intended)."""
    assert plan_nodes(plan_of(spark, name)) == _plans_md()[name]


@pytest.mark.slow
def test_plans_md_is_current(spark):
    """The whole committed PLANS.md is what tools/explain_all.py writes at
    the same scale factor: a plan change in any declared query fails here
    until PLANS.md is regenerated. Slow (about 3 min) because building
    the queries runs their eager checkpoints."""
    assert plans_md(spark, SF).splitlines() == PLANS_MD.read_text().splitlines()
