"""Physical-plan regression tests (SURVEY.md §4): the scale properties —
broadcast placement, scan pruning/pushdown, map-side partial aggregation,
window group limits — asserted on the optimized plans so they can't
silently regress. These are the properties that amortize on a 1000-executor
cluster; row-count tests alone would never catch their loss."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from praw_etl_student_dropout_spark.plans import catalog_all
from praw_etl_student_dropout_spark.sources.readers import load_tables


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def registry():
    return catalog_all()


def _spread_fires(spark, sf_dir: str, table: str) -> bool:
    """True when operators.dedup._spread's runtime gate is open for this
    fixture table: the scan has fewer partitions than defaultParallelism.
    The r14/r15 shared-exchange tests assert an invariant that only
    exists where _spread can fire — under SPARK_GRAFT_CPUS=1 or a
    multi-split fixture the repartition is a deliberate no-op and the
    plans legitimately lose the shared exchange (ADVICE r14)."""
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    try:
        return spark.sparkContext.defaultParallelism > df.rdd.getNumPartitions()
    except Exception:
        return False


def test_flagship_all_joins_broadcast(spark, sf_dir, registry):
    plan = plan_of(registry["flagship_star_pivot"].builder(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_flagship_scan_prunes_columns(spark, sf_dir, registry):
    plan = plan_of(registry["flagship_star_pivot"].builder(spark, sf_dir))
    # orders is a 9-column table; the scan must read only the 2 the query
    # needs — a scan schema mentioning o_totalprice means pruning broke
    assert "o_totalprice" not in plan
    assert "ReadSchema: struct<o_custkey:bigint,o_orderstatus:string>" in plan


def test_keyword_filter_pushes_predicates(spark, sf_dir, registry):
    plan = plan_of(registry["p4_keyword_filter"].builder(spark, sf_dir))
    # n_chars >= 100 must reach the parquet reader for min/max pruning
    assert "PushedFilters:" in plan
    assert "GreaterThanOrEqual(n_chars,100)" in plan


def test_q1_partial_aggregation_before_exchange(spark, sf_dir, registry):
    plan = plan_of(registry["a4_q1_pricing_summary"].builder(spark, sf_dir))
    # two HashAggregates (partial map-side, final post-shuffle) around one
    # exchange — losing the partial agg means shuffling every input row
    first_exchange = plan.index("Exchange")
    assert "HashAggregate" in plan[first_exchange:]
    assert "HashAggregate" in plan[:first_exchange] or plan.count("HashAggregate") >= 2


def test_topk_per_group_uses_window_group_limit(spark, sf_dir, registry):
    # rank<=k must push a per-partition top-k below the shuffle
    # (WindowGroupLimit), not sort entire groups
    plan = plan_of(registry["w1_topk_per_group"].builder(spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_global_topk_is_take_ordered(spark, sf_dir, registry):
    plan = plan_of(registry["t3_global_topk"].builder(spark, sf_dir))
    # ORDER BY + LIMIT must compile to TakeOrderedAndProject (per-partition
    # heap + driver merge), never a global sort
    assert "TakeOrderedAndProject" in plan


def test_dedup_agg_strategy_is_single_shuffle(spark, sf_dir):
    from praw_etl_student_dropout_spark.operators.setops import dedup_by_key

    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    # one shuffle, partial min below the exchange —
    # the map-side combine that makes hot keys harmless
    deduped = dedup_by_key(
        li, ["l_orderkey"], tiebreak=["l_linenumber", "l_partkey"]
    )
    plan = plan_of(deduped)
    assert plan.count("Exchange") == 1
    assert "partial_min" in plan
    exchange_at = plan.index("Exchange")
    assert "partial_min" in plan[exchange_at:], "partial agg must be below the shuffle"


def test_semi_join_stays_semi(spark, sf_dir, registry):
    plan = plan_of(registry["j4_semi_join"].builder(spark, sf_dir))
    assert "LeftSemi" in plan


def test_sentiment_pipeline_has_no_python_udf(spark, sf_dir, registry):
    # U1/U3/U4: the clean/sentiment/label chain must compile to native
    # expressions — a BatchEvalPython/ArrowEvalPython node means a Python
    # boundary crept into the hot path
    plan = plan_of(registry["doc_sentiment_pivot"].builder(spark, sf_dir))
    assert "EvalPython" not in plan


def test_exact_dedup_prunes_unused_document_columns(spark, sf_dir, registry):
    plan = plan_of(registry["d3_exact_dedup"].builder(spark, sf_dir))
    # dedup hashes only `text` + carries ids; the wide source column set
    # must not survive into the scan
    assert "ReadSchema" in plan
    scan_schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert all("source" not in ln for ln in scan_schemas), scan_schemas


def test_salted_join_matches_plain_join(spark, sf_dir):
    from praw_etl_student_dropout_spark.operators.joins import salted_join

    t = load_tables(spark, sf_dir, ["orders", "customer"])
    orders = t["orders"].select(F.col("o_custkey").alias("custkey"), "o_orderkey")
    cust = t["customer"].select(F.col("c_custkey").alias("custkey"), "c_name")
    plain = orders.join(cust, "custkey")
    salted = salted_join(orders, cust, ["custkey"], salt_buckets=8)
    assert salted.columns == plain.columns
    assert salted.count() == plain.count()
    a = {tuple(r) for r in plain.collect()}
    b = {tuple(r) for r in salted.collect()}
    assert a == b


def test_salted_left_join_keeps_unmatched_left(spark):
    from praw_etl_student_dropout_spark.operators.joins import salted_join

    left = spark.createDataFrame([(1, "a"), (2, "b"), (99, "orphan")], ["k", "lv"])
    right = spark.createDataFrame([(1, "x"), (2, "y")], ["k", "rv"])
    out = salted_join(left, right, ["k"], salt_buckets=4, how="left").collect()
    got = {r.k: r.rv for r in out}
    assert len(out) == 3 and got[99] is None


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    from praw_etl_student_dropout_spark.operators.bucketing import (
        bucketed_join,
        write_bucketed,
    )

    t = load_tables(spark, sf_dir, ["orders", "lineitem"])
    write_bucketed(
        t["orders"].select(F.col("o_orderkey").alias("orderkey"), "o_totalprice"),
        "b_orders", ["orderkey"], num_buckets=8, path=str(tmp_path / "bo"),
    )
    write_bucketed(
        t["lineitem"].select(F.col("l_orderkey").alias("orderkey"), "l_quantity"),
        "b_lineitem", ["orderkey"], num_buckets=8, path=str(tmp_path / "bl"),
    )
    # force the join path (not broadcast) to observe the bucketing win
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "b_orders", "b_lineitem", ["orderkey"])
        plan = plan_of(joined)
        # co-located buckets: sort-merge join with ZERO exchanges
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # and it's still correct
        plain = t["orders"].join(
            t["lineitem"], t["orders"]["o_orderkey"] == t["lineitem"]["l_orderkey"]
        )
        assert joined.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bucketed_smj_is_sort_free(spark, sf_dir, tmp_path):
    """Round-10 layout contract: write_bucketed lays out ONE file per
    bucket and the session enables sorted bucketed scans, so the
    co-located SMJ elides BOTH per-task sorts — the silent re-sort the
    multi-file default was paying (BASELINE §round-10-sorted-buckets)."""
    from praw_etl_student_dropout_spark.operators.bucketing import (
        bucketed_join,
        write_bucketed,
    )

    t = load_tables(spark, sf_dir, ["orders", "lineitem"])
    write_bucketed(
        t["orders"].select(F.col("o_orderkey").alias("orderkey"), "o_totalprice"),
        "bs_orders", ["orderkey"], num_buckets=8, path=str(tmp_path / "bso"),
    )
    write_bucketed(
        t["lineitem"].select(F.col("l_orderkey").alias("orderkey"), "l_quantity"),
        "bs_lineitem", ["orderkey"], num_buckets=8, path=str(tmp_path / "bsl"),
    )
    # at MOST one data file per bucket — the precondition for Spark to
    # trust the sortBy metadata at scan time. Parse the bucket id from
    # each filename (part-NNNNN-<uuid>_BBBBB.*) rather than assuming
    # every bucket is non-empty at this fixture scale (round-10 ADVICE).
    import re

    for d in ("bso", "bsl"):
        files = [f for f in (tmp_path / d).iterdir() if f.suffix == ".parquet"]
        assert len(files) <= 8, (d, len(files))
        bucket_ids = [
            int(m.group(1))
            for f in files
            if (m := re.search(r"_(\d{5})\.", f.name))
        ]
        assert len(bucket_ids) == len(files), (d, [f.name for f in files])
        assert len(set(bucket_ids)) == len(bucket_ids), (d, bucket_ids)
        assert all(0 <= b < 8 for b in bucket_ids), (d, bucket_ids)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "bs_orders", "bs_lineitem", ["orderkey"])
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # the r10 rung: no Sort node anywhere — scan order feeds the merge
        assert "+- Sort " not in plan and ":- Sort " not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bs_orders")
        spark.sql("DROP TABLE IF EXISTS bs_lineitem")


def test_flagship_pivot_is_single_shuffle(spark, sf_dir, registry):
    # explicit-value pivot compiles to conditional aggregation: one
    # hash-partition exchange, not pivot's two-aggregate double shuffle
    plan = plan_of(registry["flagship_star_pivot"].builder(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1


def test_subqueries_decorrelate_to_joins(spark, sf_dir, registry):
    # SQ1: the correlated scalar aggregate must become one per-key
    # aggregate joined back — never a nested-loop re-scan of lineitem
    plan = plan_of(registry["q17_small_qty_share"].builder(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # SQ2: IN (grouped subquery) plans as a left-semi join
    plan18 = plan_of(registry["q18_large_orders"].builder(spark, sf_dir))
    assert "LeftSemi" in plan18
    assert "CartesianProduct" not in plan18
    # SQ3: EXISTS plans as a left-semi join with the priority filter
    # pushed below it, not a per-customer probe of orders
    plan_sq3 = plan_of(registry["sub_above_nation_avg"].builder(spark, sf_dir))
    assert "LeftSemi" in plan_sq3
    assert "BroadcastNestedLoopJoin" not in plan_sq3
    # SQ4: LATERAL + ORDER BY/LIMIT decorrelates to a ranked window,
    # never a per-outer-row re-sort via nested loop
    plan_sq4 = plan_of(registry["sq4_lateral_topk"].builder(spark, sf_dir))
    assert "Window" in plan_sq4
    assert "CartesianProduct" not in plan_sq4
    assert "BroadcastNestedLoopJoin" not in plan_sq4


def test_runtime_bloom_filter_injects_on_shuffle_join(spark, sf_dir):
    """At cluster scale (application-side scan >= 10 GB by default) the
    engine's runtime bloom filter prunes shuffle-join probe rows at the
    scan. Locally the fixtures sit under the threshold, so lower it to
    observe the injected plan: a bloom_filter_agg built from the
    selective side and a might_contain probe on the big side."""
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_app = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    try:
        t = load_tables(spark, sf_dir, ["orders", "lineitem"])
        o = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
        j = (
            t["lineitem"]
            .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("l_returnflag")
            .count()
        )
        plan = plan_of(j)
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            prev_app,
        )


def test_dpp_prunes_year_partitions(spark, sf_dir):
    """j7: the partitioned fact scan must carry a dynamicpruning
    PartitionFilter fed by the dim subquery — the mechanism that skips
    unneeded date partitions wholesale on a partitioned warehouse."""
    reg = catalog_all()
    df = reg["j7_dpp_busiest_year"].builder(spark, sf_dir)
    plan = plan_of(df)
    assert "dynamicpruning" in plan
    # the pruning filter sits on the partition column of the fact scan
    assert "PartitionFilters" in plan and "o_year" in plan
    # and the query still computes the right thing: one busiest-P year
    rows = {r["o_orderstatus"]: r["cnt"] for r in df.collect()}
    assert set(rows) == {"F", "O", "P"} and all(v > 0 for v in rows.values())


def test_new_round2_queries_stay_native_and_partial(spark, sf_dir, registry):
    # f10b: higher-order array lambdas compile to JVM expressions
    assert "EvalPython" not in plan_of(registry["f10b_hof_filter"].builder(spark, sf_dir))
    # a13/f12: collect_list / map_from_entries aggregate with a
    # partial/final split around a single exchange
    for name in ("a13_array_agg", "f12_map_functions"):
        p = plan_of(registry[name].builder(spark, sf_dir))
        assert "partial" in p.lower(), name
        assert "EvalPython" not in p, name


def test_aqe_splits_skewed_join_partition(spark):
    """One hot key must not serialize a shuffle join: with AQE skew-join
    on, the planner splits the oversized partition into parallel subtasks
    (skew=true on the join node of the final adaptive plan). No operator
    downstream of the join may require the join's partitioning, or AQE
    (correctly) refuses to split rather than add a shuffle."""
    hot = 300_000
    left = spark.range(hot).select(
        F.lit(0).alias("k"), F.rpad(F.col("id").cast("string"), 64, "x").alias("lv")
    ).union(
        spark.range(1, 64).select(
            F.col("id").alias("k"), F.col("id").cast("string").alias("lv")
        )
    )
    right = spark.range(64).select(F.col("id").alias("k"), F.col("id").alias("rv"))
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1MB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1MB",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        joined = left.join(right, "k")
        # execute THIS df (count() builds a different plan on top) so the
        # adaptive plan finalizes and the skew decision is observable
        assert len(joined.collect()) == hot + 63  # one right row per key
        final_plan = plan_of(joined)
        assert "skew=true" in final_plan, final_plan[:2000]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_q10_take_ordered_and_pushed_returnflag(spark, sf_dir, registry):
    p = plan_of(registry["q10_returned_revenue"].builder(spark, sf_dir))
    assert "TakeOrderedAndProject" in p
    assert "EqualTo(l_returnflag,R)" in p  # filter reached the scan


def test_q19_or_predicate_pushed_to_part_scan(spark, sf_dir, registry):
    p = plan_of(registry["q19_disjunctive_filter"].builder(spark, sf_dir))
    part_scans = [l for l in p.splitlines() if "FileScan" in l and "part.parquet" in l]
    assert part_scans and any("Or(" in l for l in part_scans)


def test_tpch_completion_decorrelations(spark, sf_dir, registry):
    """The round-2 TPC-H completions must decorrelate like their SQL:
    semi/anti hash joins keyed on the equi component, never per-row
    re-scans, with the residual (inequality / correlated-date)
    conditions attached to the hash join rather than forcing a
    nested loop."""
    # Q4: EXISTS with a correlated date bound -> LEFT SEMI hash join
    p4 = plan_of(registry["q4_priority_exists"].builder(spark, sf_dir))
    assert "LeftSemi" in p4
    assert "BroadcastNestedLoopJoin" not in p4
    # Q21 (round-6 one-pass form): both quantifiers come from per-order
    # window counts over ONE fact x orders join — the heavy join must
    # appear exactly once, the nation dim rides a broadcast join, and
    # the per-(order,supplier) collapse + windows reuse the join's
    # orderkey partitioning (no semi/anti re-scans of the fact, no
    # nested loop).
    p21 = plan_of(registry["q21_waiting_supplier"].builder(spark, sf_dir))
    li_scans = [
        l for l in p21.splitlines() if "FileScan" in l and "lineitem" in l
    ]
    assert len(li_scans) == 1, p21
    assert "BroadcastHashJoin" in p21  # nation_sup onto the fact
    assert "Window" in p21
    assert "CartesianProduct" not in p21
    assert "BroadcastNestedLoopJoin" not in p21
    # Q16: NOT IN over a non-nullable key -> broadcast LEFT ANTI, and
    # the distinct count stays a two-phase hash aggregate
    p16 = plan_of(registry["q16_supplier_count"].builder(spark, sf_dir))
    assert "LeftAnti" in p16
    assert "BroadcastNestedLoopJoin" not in p16
    # Q2: correlated scalar min -> aggregate joined back as a hash join
    # (partkey equality carries it; price equality is part of the key)
    p2 = plan_of(registry["q2_min_cost_supplier"].builder(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p2
    assert "CartesianProduct" not in p2
    # Q13: the ON-clause priority exclusion must sit BELOW the left
    # join (scan-side filter), not above it where it would drop
    # zero-order customers
    p13 = optimized_of(registry["q13_order_distribution"].builder(spark, sf_dir))
    assert "LeftOuter" in p13


def test_q8_dims_broadcast_single_fact_shuffle(spark, sf_dir, registry):
    """Q8's seven-table star: every dimension broadcasts; the only
    sort-merge-eligible pair is lineitem x orders, so the plan carries
    at most one large-large join however AQE resolves it."""
    plan = plan_of(registry["q8_market_share"].builder(spark, sf_dir))
    assert plan.count("SortMergeJoin") <= 1
    assert plan.count("BroadcastHashJoin") >= 5
    assert "CartesianProduct" not in plan


def test_new_agg_family_queries_native_and_partial(spark, sf_dir, registry):
    """a21/a22/a23: single grouped pass with a partial/final split; w7's
    sequential fold and f17's set algebra compile to JVM higher-order
    expressions, never Python evaluation."""
    for name in ("a21_regr_family", "a22_listagg", "a23_price_histogram"):
        p = plan_of(registry[name].builder(spark, sf_dir))
        assert "partial" in p.lower(), name
        assert "EvalPython" not in p, name
    for name in ("w7_ewma", "f17_array_setops"):
        p = plan_of(registry[name].builder(spark, sf_dir))
        assert "EvalPython" not in p, name


def test_scd2_shares_one_shuffle(spark, sf_dir, registry):
    """etl_scd2_dim's lag, running-sum, and lead windows plus the
    collapse groupBy must all ride ONE hashpartitioning(user_id)
    exchange — hashpartitioning on a subset of the grouping keys
    satisfies the aggregate's clustering, so Catalyst inserts no
    second shuffle. This is the property that makes the SCD2 build a
    single exchange of the change feed at warehouse scale."""
    df = registry["etl_scd2_dim"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(exchanges) == 1, exchanges
    assert "user_id" in exchanges[0]


def test_rate_limit_uses_window_group_limit(spark, sf_dir, registry):
    # the rn<=3 quota must cut BELOW the shuffle (WindowGroupLimit):
    # rejected traffic never crosses the wire — the point of rate limiting
    plan = plan_of(registry["st8_rate_limit_batch"].builder(spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_weighted_sample_is_take_ordered(spark, sf_dir, registry):
    # ES top-k-by-key must be TakeOrderedAndProject, never a global sort
    plan = plan_of(registry["sample_weighted_es"].builder(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_kmv_sketch_is_take_ordered(spark, sf_dir, registry):
    plan = plan_of(registry["a36_kmv_quantiles"].builder(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_bucketed_groupby_dedup_has_no_big_exchange(spark, sf_dir, tmp_path):
    """The d2 lever (BASELINE §round-8): groupBy on the bucket column
    aggregates ON the bucketed scan — the data-proportional exchange is
    gone; only the tiny post-collapse returnflag regroup remains."""
    from praw_etl_student_dropout_spark.operators.bucketing import write_bucketed
    from praw_etl_student_dropout_spark.operators.setops import dedup_by_key

    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    write_bucketed(
        li, "b_li_dedup", ["l_orderkey"], num_buckets=8,
        path=str(tmp_path / "bld"),
    )

    def d2_shape(src):
        first = dedup_by_key(
            src.select(
                "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
                "l_quantity", "l_extendedprice", "l_returnflag",
            ),
            ["l_orderkey"],
            tiebreak=["l_linenumber", "l_partkey", "l_suppkey",
                      "l_quantity", "l_extendedprice"],
        )
        return first.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )

    def shuffle_exchanges(df):
        plan = plan_of(df)
        return sum(
            1
            for line in plan.splitlines()
            if "Exchange" in line
            and "ReusedExchange" not in line
            and "BroadcastExchange" not in line
        )

    plain = d2_shape(li)
    bucketed = d2_shape(spark.table("b_li_dedup"))
    assert shuffle_exchanges(plain) == 2
    assert shuffle_exchanges(bucketed) == 1  # only the 3-group regroup
    # and value-identical results
    assert {tuple(r) for r in bucketed.collect()} == {
        tuple(r) for r in plain.collect()
    }


def test_grouped_topk_prunes_map_side(spark, sf_dir, registry):
    """t13 / sample_weighted_kpg scale contract: the rank<=k filter is
    planted as a Partial WindowGroupLimit BELOW the exchange, so the
    shuffle carries at most k rows per (group, map partition) instead of
    the full relations."""
    # t14: the same rewrite fires for dense_rank (WITH-TIES semantics)
    for name in (
        "t13_grouped_topk_merge",
        "sample_weighted_kpg",
        "t14_topk_dense_ties",
    ):
        plan = (
            registry[name]
            .builder(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        partial = plan.index("WindowGroupLimit")
        assert "Partial" in plan[partial:], (name, plan)
        ex = plan.index("Exchange hashpartitioning")
        last_partial = plan.rindex("Partial")
        assert last_partial > ex, (name, plan)


def test_t14_keeps_whole_tied_levels(spark, sf_dir, registry):
    """t14's WITH-TIES contract: for every (brand, rk<=3) the survivor
    rows are ALL parts at that size level — dense_rank never splits a
    tied level, and level counts match an independent recount."""
    from pyspark.sql import functions as F

    got = registry["t14_topk_dense_ties"].builder(spark, sf_dir)
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    truth = (
        part.groupBy("p_brand", "p_size")
        .agg(F.count(F.lit(1)).alias("n_all"))
        .collect()
    )
    full = {(r.p_brand, r.p_size): r.n_all for r in truth}
    rows = got.collect()
    assert rows and all(r.n_parts == full[(r.p_brand, r.p_size)] for r in rows)
    # per brand: exactly the 3 largest distinct sizes, ranks 1..3
    from collections import defaultdict

    by_brand = defaultdict(list)
    for r in rows:
        by_brand[r.p_brand].append((r.rk, r.p_size))
    sizes_by_brand = defaultdict(set)
    for (b, sz) in full:
        sizes_by_brand[b].add(sz)
    for b, pairs in by_brand.items():
        top3 = sorted(sizes_by_brand[b], reverse=True)[:3]
        assert sorted(pairs) == [(i + 1, sz) for i, sz in enumerate(top3)]


def test_reservoir_merge_prefix_stable(spark, sf_dir, registry):
    """Deterministic-reservoir law: the k=100 sample drawn by the entry
    is the 100 smallest coins, so any smaller k is a PREFIX of it —
    and the draw is layout-independent by construction (content-keyed
    coins). Verified against an independent full sort."""
    from pyspark.sql import functions as F

    from praw_etl_student_dropout_spark.operators.sampling import hash_coin

    got = registry["sample_reservoir_merge"].builder(spark, sf_dir).collect()
    assert len(got) == 100
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    coin = hash_coin(F.col("doc_id"), seed=23, method="md5")
    full = (
        docs.select(F.col("doc_id").cast("long").alias("doc_id"), coin.alias("c"))
        .orderBy("c", "doc_id")
        .limit(100)
        .collect()
    )
    assert [r.doc_id for r in sorted(got, key=lambda r: (r.coin, r.doc_id))] == [
        r.doc_id for r in full
    ]


def test_u10_shares_one_spread_scan(spark, sf_dir, registry):
    """Round-14: the tf and df tokenize branches must hang off ONE spread
    (doc_id, text) exchange — AQE's stage reuse (ReusedExchange in the
    runtime-final plan) replaces the former duplicate documents scan.
    Losing the reuse silently doubles the corpus read+tokenize."""
    if not _spread_fires(spark, sf_dir, "documents"):
        pytest.skip("_spread gate closed: nothing to reuse (ADVICE r14)")
    df = registry["u10_tfidf_topterms"].builder(spark, sf_dir)
    df.collect()  # AQE reuses stages at runtime; the final plan shows it
    plan = plan_of(df)
    assert "ReusedExchange" in plan


def test_q21_collapse_and_window_ride_spread_partitioning(spark, sf_dir, registry):
    """Round-14: lineitem is spread BY l_orderkey, the broadcast orders
    join preserves that partitioning, and both the (order, supplier)
    collapse and the per-order windows reuse it — exactly one exchange
    may hash-partition on l_orderkey-only or (l_orderkey, l_suppkey)
    upstream of the supplier join. A second one means the shared
    exchange regressed to the pre-r14 two-exchange chain."""
    if not _spread_fires(spark, sf_dir, "lineitem"):
        pytest.skip("_spread gate closed: no shared exchange (ADVICE r14)")
    plan = plan_of(registry["q21_waiting_supplier"].builder(spark, sf_dir))
    n_orderkey_exchanges = sum(
        ("hashpartitioning(l_orderkey" in line)
        for line in plan.splitlines()
        if "Exchange" in line
    )
    assert n_orderkey_exchanges == 1


def test_q3_runtime_demotes_fact_broadcast_at_scale(spark, registry):
    """Round-15 (VERDICT r14 #1 evidence gap): q3's static plan shows
    BuildRight over the spread lineitem (Catalyst's pruned-column
    ESTIMATE squeaks under the 10 MB broadcast threshold); the claimed
    scale protection is AQE's runtime re-decision from MEASURED stage
    sizes. That demotion only fires where the fact's materialized spread
    stage actually exceeds the threshold — sf0.1 is the smallest fixture
    where it does (at sf0.001/sf0.01 the 3-column fact genuinely fits
    and broadcasting it is correct, so the static pick survives). Pin
    the mechanism there: the FINAL plan must build the broadcast on the
    filtered customer⋈orders side and stream the fact. Committed dump:
    plans/r15/q3_shipping_priority_before_runtime.txt."""
    import os
    import re

    sf_big = "/root/testdata/sf0.1"
    if not os.path.isdir(sf_big):
        pytest.skip("sf0.1 fixture not available")
    df = registry["q3_shipping_priority"].builder(spark, sf_big)
    df.collect()  # materialize so the AQE plan is final
    plan = plan_of(df)
    assert "isFinalPlan=true" in plan
    final = plan.split("== Initial Plan ==")[0]
    m = re.search(
        r"BroadcastHashJoin \[o_orderkey[^\]]*\], \[l_orderkey[^\]]*\], Inner, "
        r"(BuildLeft|BuildRight)",
        final,
    )
    assert m is not None, "fact join missing from the final plan"
    assert m.group(1) == "BuildLeft", "runtime plan broadcasts the lineitem fact"


def test_d2_quantity_rides_shuffle_as_int(spark, sf_dir, registry):
    """Round-15 (guide §2.3, narrower shuffle types): d2's survivor
    struct carries l_quantity as INT through the min(struct) partial
    aggregation — the TPC-H contract makes quantity an integer 1..50 at
    every SF, so the narrowing is value-exact and the final sum casts
    back to double (integers ≤50 are exact in IEEE double regardless of
    accumulation order). Regressing to a double in the agg buffer
    silently re-widens the heaviest shuffle payload in the bench's #3
    slot. Committed dump: plans/r15/d2_dedup_by_key_after.txt."""
    plan = plan_of(registry["d2_dedup_by_key"].builder(spark, sf_dir))
    assert "cast(l_quantity" in plan and "as int)" in plan
    # the survivor struct is min()'d BEFORE the returnflag rollup, so the
    # narrowed int must appear inside the partial_min struct, not after it
    partial = [ln for ln in plan.splitlines() if "partial_min(struct(" in ln]
    assert partial, "d2 lost its partial min(struct) map-side aggregation"
