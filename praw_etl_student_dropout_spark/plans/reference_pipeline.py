"""The reference pipeline, end-to-end (etl_pipeline.py:1-208), composed
from engine operators — the switch-over proof: everything the reference
script does, as one orchestrated Spark flow.

Stage map (reference line → engine op):

1. Extract   :23-63  → Python Data Source scan over the query matrix
                       (parallel partitions) + dropDuplicates(id)
2. Snapshot  :67-70  → timestamped CSV snapshot (empty-guarded)
3. Transform :73-81  → native-expression clean/sentiment/label/flag/year
4. Load      :85-137 → dim build (dense_rank surrogates) + broadcast
                       key-swap fact build + idempotent anti-join append
5. Query     :141-159→ 3-way star join read-back
6. Insights  :163-205→ pivot heatmap + single-pass scalar summary + top-1s

Each run is incremental-safe: re-running against the same warehouse adds
nothing (INSERT IGNORE parity) — the property the reference got from
MySQL and the backup-file cadence, here from anti-joins alone.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import clean_text, dropout_mentioned, sentiment_label, sentiment_score
from ..operators.aggregations import insight_summary, mode_of, pivot_count
from ..operators.etl import build_dim, build_fact
from ..sources.readers import read_parquet_if_exists
from ..sources.writers import csv_snapshot, idempotent_append


@dataclass
class PipelineResult:
    raw_count: int
    snapshot_path: str | None
    fact_appended: int
    heatmap: DataFrame
    insights: DataFrame
    top_year: DataFrame
    top_subreddit: DataFrame


def extract(spark: SparkSession, keys: list[str], terms: list[str], fetcher: str, limit: int = 1000) -> DataFrame:
    """Stage 1 — distributed paged-API scan + cross-query dedup."""
    from ..sources.python_datasource import PagedApiDataSource

    spark.dataSource.register(PagedApiDataSource)
    raw = (
        spark.read.format("paged_api")
        .option("keys", ",".join(keys))
        .option("terms", ",".join(terms))
        .option("fetcher", fetcher)
        .option("limit", str(limit))
        .load()
    )
    return raw.dropDuplicates(["id"])


def transform(posts: DataFrame) -> DataFrame:
    """Stage 3 — the reference's five derived columns, all native
    expressions (etl_pipeline.py:73-81): no Python in the plan."""
    score = sentiment_score(clean_text(F.col("content")))
    return posts.select(
        "id",
        "content",
        "date",
        "url",
        "subreddit",
        clean_text(F.col("content")).alias("clean_content"),
        F.round(score, 6).alias("sentiment"),
        sentiment_label(score).alias("sentiment_label"),
        dropout_mentioned(F.col("content")).alias("dropout_mentioned"),
        F.year("date").cast("int").alias("year"),
    )


def load_star(spark: SparkSession, enriched: DataFrame, warehouse_dir: str) -> int:
    """Stage 4 — star-schema load with INSERT IGNORE semantics
    (etl_pipeline.py:94-127): dims by distinct+dense_rank, facts by
    broadcast key-swap, appends by anti-join. Returns facts appended."""
    dim_sub = build_dim(enriched, "subreddit", "subreddit_id", key_name="name")
    dim_time = build_dim(enriched, "year", "time_id")
    fact = build_fact(
        enriched,
        [
            (dim_sub, "subreddit", "name", "subreddit_id"),
            (dim_time, "year", "year", "time_id"),
        ],
        ["id", "content", "url", "sentiment", "sentiment_label", "dropout_mentioned", "subreddit_id", "time_id"],
    )
    dim_sub.write.mode("overwrite").parquet(f"{warehouse_dir}/dim_subreddit")
    dim_time.write.mode("overwrite").parquet(f"{warehouse_dir}/dim_time")
    fact_path = f"{warehouse_dir}/fact_post"
    existing = read_parquet_if_exists(spark, fact_path)
    if existing is None:
        existing = fact.filter(F.lit(False))
    appended: list[int] = []

    def append(delta: DataFrame) -> None:
        # count the pinned delta before the write: appending to the path
        # `existing` scans makes Spark re-cache the delta against the
        # grown table, after which it reads empty
        appended.append(delta.count())
        delta.write.mode("append").parquet(fact_path)

    idempotent_append(fact, existing, ["id"], append).unpersist()
    return appended[0]


def query_star(spark: SparkSession, warehouse_dir: str) -> DataFrame:
    """Stage 5 — the 3-way join read-back (etl_pipeline.py:144-150),
    broadcast dims instead of a server-side join."""
    fact = spark.read.parquet(f"{warehouse_dir}/fact_post")
    dim_sub = spark.read.parquet(f"{warehouse_dir}/dim_subreddit")
    dim_time = spark.read.parquet(f"{warehouse_dir}/dim_time")
    return (
        fact.join(F.broadcast(dim_sub), "subreddit_id")
        .join(F.broadcast(dim_time), "time_id")
        .select(
            "id",
            "content",
            "sentiment",
            "sentiment_label",
            "dropout_mentioned",
            F.col("name").alias("subreddit"),
            "year",
        )
    )


def run_pipeline(
    spark: SparkSession,
    keys: list[str],
    terms: list[str],
    warehouse_dir: str,
    snapshot_dir: str | None = None,
    fetcher: str = "praw_etl_student_dropout_spark.sources.fake_api:fetch_page",
) -> PipelineResult:
    """The whole reference script, one call."""
    raw = extract(spark, keys, terms, fetcher)
    raw_count = raw.count()
    snap = csv_snapshot(raw, snapshot_dir) if snapshot_dir else None
    enriched = transform(raw)
    n_appended = load_star(spark, enriched, warehouse_dir)
    viz = query_star(spark, warehouse_dir)
    heatmap = pivot_count(
        viz.select("subreddit", "sentiment_label"),
        row_key="subreddit",
        pivot_key="sentiment_label",
        pivot_values=["positive", "negative", "neutral"],
    )
    insights = insight_summary(
        viz, "sentiment_label", "dropout_mentioned", "year", "subreddit"
    )
    return PipelineResult(
        raw_count=raw_count,
        snapshot_path=snap,
        fact_appended=n_appended,
        heatmap=heatmap,
        insights=insights,
        top_year=mode_of(viz, "year"),
        top_subreddit=mode_of(viz, "subreddit"),
    )
