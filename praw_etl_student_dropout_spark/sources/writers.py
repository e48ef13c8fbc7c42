"""Sinks (SURVEY.md §2.1 S3-S4).

The reference's sinks are a timestamped CSV backup (etl_pipeline.py:67-70)
and an ``INSERT IGNORE`` MySQL batch append (etl_pipeline.py:121-127).
Both generalize here: snapshot = partitioned file write; INSERT IGNORE =
semi-reduce, anti-join, then append (the only idempotent-append JDBC
supports without a server-side MERGE).
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def csv_snapshot(df: DataFrame, base_dir: str, prefix: str = "backup", ts: datetime | None = None) -> str | None:
    """S3 — timestamped snapshot (reference etl_pipeline.py:67-70).

    Returns the written path, or None when the frame is empty (the
    reference's ``if not df.empty`` guard). ``df.isEmpty()`` is a cheap
    limit-1 job, not a count.
    """
    if df.isEmpty():
        return None
    stamp = (ts or datetime.now(timezone.utc)).strftime("%Y%m%d_%H%M%S")
    path = f"{base_dir.rstrip('/')}/{prefix}_{stamp}"
    df.write.mode("overwrite").option("header", True).csv(path)
    return path


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_jdbc_append(df: DataFrame, url: str, table: str, properties: dict[str, str] | None = None, batchsize: int = 10_000) -> None:
    """S4 — batched JDBC append (reference's executemany, etl_pipeline.py:121-126)."""
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table).option("batchsize", batchsize)
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.mode("append").save()


def idempotent_append(
    new_rows: DataFrame,
    existing: DataFrame,
    keys: list[str],
    sink,
) -> DataFrame:
    """S4/J3 — INSERT IGNORE semantics (etl_pipeline.py:97,106,122).

    Only keys unseen in ``existing`` reach ``sink(df)`` (a write
    callback: jdbc append, parquet append, ...); the appended subset is
    returned. Within-batch duplicates collapse (first by key), matching
    INSERT IGNORE's first-wins behavior; a null key never counts as
    present, as under a unique index.

    Three steps, none of which ships the table through the driver:

    1. Semi-reduce (Bernstein & Chiu, JACM 1981): ``existing``'s key
       columns, semi-joined to the batch's keys, give the batch keys the
       table already holds. The table side is streamed once, key
       columns only, and never broadcast; only the batch's keys are
       (a batch over the broadcast threshold makes this a shuffle join).
    2. Anti-join the deduplicated batch against those hits, by shuffle
       hash: the hits are at most the batch's key count, and the batch
       is already hash-partitioned on the keys by its dedup, so no
       broadcast carries anything read from the table.
    3. Pin the delta (persist + materialize) before the sink runs, so
       the sink writes exactly the delta even when ``existing`` lazily
       re-reads the table the sink appends to (JDBC, parquet re-read)
       and a retried write cannot double-append. The pin is one pass
       over the delta, which the sink was about to pay anyway. It does
       not outlive a file sink that appends to a path ``existing``
       scans: Spark then re-caches the delta against the grown table
       and the returned frame reads empty, so read the delta inside
       the sink.

    The returned DataFrame is the persisted delta and is OWNED BY THE
    CALLER (unpersist when done — SCALING.md cache contract).
    """
    hit = existing.select(*keys).join(new_rows.select(*keys), on=keys, how="left_semi")
    deduped = new_rows.dropDuplicates(keys)
    fresh = deduped.join(hit.hint("shuffle_hash"), on=keys, how="left_anti").persist()
    fresh.count()  # materialize BEFORE the sink mutates `existing`
    sink(fresh)
    return fresh


def overwrite_partitions_dynamic(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions present
    in ``df``, leaving all other directories untouched — the reload-one-
    day-of-a-year-partitioned-fact operation. Static overwrite mode (the
    default) would truncate the whole table first; the conf scopes the
    dynamic behavior to this write and restores the prior mode after.
    """
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "STATIC")
    spark.conf.set(key, "dynamic")
    try:
        (
            df.repartition(*[F.col(c) for c in partition_cols])
            .write.mode("overwrite")
            .partitionBy(*partition_cols)
            .parquet(path)
        )
    finally:
        spark.conf.set(key, prev)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink (native, zstd) — format parity with the parquet path."""
    df.write.mode(mode).option("compression", "zstd").orc(path)


def write_avro(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Avro sink (see readers.avro_available — package-gated)."""
    from .readers import avro_available

    if not avro_available(df.sparkSession):
        raise RuntimeError(
            "spark-avro is not on the classpath; start the session with "
            "--packages org.apache.spark:spark-avro_2.13:<spark-version>"
        )
    df.write.mode(mode).format("avro").save(path)


def write_jsonl(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str | None = "gzip",
) -> None:
    """JSON-lines sink — the interchange format LLM corpora ship in
    (one record per line, newline-safe because JSON escapes embedded
    newlines/unicode, splittable when uncompressed, shard-parallel
    either way). Pair with ``readers.read_json`` + an explicit schema
    for the lossless round-trip (pinned in tests/test_sinks_etl.py);
    gzip per-file compression is the common corpus layout — one shard
    per task, compressed independently.
    """
    w = df.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    w.json(path)
