"""End-to-end parity test: the whole reference script (extract →
snapshot → transform → star load → query → insights) as one engine flow,
including the incremental re-run property the reference relied on."""

from __future__ import annotations

from pyspark.sql import functions as F

from praw_etl_student_dropout_spark.plans.reference_pipeline import run_pipeline

KEYS = ["college", "gradschool"]
TERMS = ["dropout", "quit school", "stress"]


def test_full_pipeline_first_run(spark, tmp_path):
    res = run_pipeline(
        spark, KEYS, TERMS, str(tmp_path / "wh"), snapshot_dir=str(tmp_path / "snap")
    )
    assert res.raw_count > 0
    assert res.snapshot_path is not None
    # first run: every deduped post lands in the fact table
    assert res.fact_appended == res.raw_count
    heat = res.heatmap.collect()
    assert {r.subreddit for r in heat} == set(KEYS)
    # pivot columns fixed by the explicit value list
    assert res.heatmap.columns == ["subreddit", "positive", "negative", "neutral"]
    # heatmap counts cover every fact row exactly once
    total = sum(r.positive + r.negative + r.neutral for r in heat)
    assert total == res.raw_count
    ins = res.insights.first()
    assert ins.total_rows == res.raw_count
    assert 0.0 <= ins.neutral_pct <= 100.0
    assert res.top_year.first().year == 2025
    assert res.top_subreddit.first().subreddit in KEYS


def test_full_pipeline_rerun_is_incremental(spark, tmp_path):
    wh = str(tmp_path / "wh")
    first = run_pipeline(spark, KEYS, TERMS, wh)
    # materialize before the re-run: results are lazy views over the
    # warehouse, and run 2's dim overwrite invalidates run 1's file lists
    first_heat = {tuple(r) for r in first.heatmap.collect()}
    second = run_pipeline(spark, KEYS, TERMS, wh)
    # INSERT IGNORE parity: the re-run appends nothing, the warehouse
    # doesn't grow, and the analytics are unchanged
    assert second.fact_appended == 0
    fact = spark.read.parquet(f"{wh}/fact_post")
    assert fact.count() == first.raw_count
    assert {tuple(r) for r in second.heatmap.collect()} == first_heat



def test_rerun_with_new_posts_counts_them_and_releases_the_delta(spark, tmp_path):
    """A re-run that brings new posts reports exactly the rows it
    appended, although its sink grows the table the delta was computed
    from, and leaves no cached delta behind."""
    wh = str(tmp_path / "wh")
    first = run_pipeline(spark, KEYS[:1], TERMS, wh)
    spark.catalog.clearCache()
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    second = run_pipeline(spark, KEYS, TERMS, wh)
    grown = spark.read.parquet(f"{wh}/fact_post").count()
    assert 0 < second.fact_appended == grown - first.raw_count
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) <= before

def test_pipeline_fact_has_no_orphan_keys(spark, tmp_path):
    wh = str(tmp_path / "wh")
    run_pipeline(spark, KEYS, TERMS, wh)
    fact = spark.read.parquet(f"{wh}/fact_post")
    dim_sub = spark.read.parquet(f"{wh}/dim_subreddit")
    dim_time = spark.read.parquet(f"{wh}/dim_time")
    # referential integrity: every surrogate key resolves
    assert fact.join(dim_sub, "subreddit_id", "left_anti").count() == 0
    assert fact.join(dim_time, "time_id", "left_anti").count() == 0
    assert fact.filter(F.col("subreddit_id").isNull() | F.col("time_id").isNull()).count() == 0
