"""Sources (SURVEY.md §2.1 S1-S2, S5-S6).

Scans are declarative so Catalyst keeps predicate pushdown + column
pruning: callers chain ``.select``/``.filter`` on the returned DataFrame
and the parquet/JDBC scan only reads what survives pruning.
"""

from __future__ import annotations

from collections.abc import Iterable
from pathlib import Path

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.cache_registry import track
from ..schemas import FIXTURE_TABLES


def read_parquet(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """S6 — parquet scan. Schema is asserted (not inferred) when given."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def read_parquet_if_exists(spark: SparkSession, path: str) -> DataFrame | None:
    """Parquet scan of ``path``, or None when nothing has been written
    there yet (an append target before its first batch). Only a missing
    path is absorbed; any other analysis error is raised."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            return None
        raise


# Parquet footer schemas by absolute path, process-wide. A bare
# spark.read.parquet() runs an eager schema-inference job (~0.3 s of
# py4j + footer reads PER CALL on the driver); passing the schema makes
# DataFrame creation pure metadata (~20 ms). Caching only the SCHEMA —
# never a DataFrame — keeps this safe across sessions and across file
# rewrites that preserve the schema (compaction); fixture files never
# change schema within one process.
_SCHEMA_CACHE: dict[str, T.StructType] = {}


def load_tables(spark: SparkSession, sf_dir: str, names: Iterable[str] | None = None) -> dict[str, DataFrame]:
    """Load driver fixture tables from ``{sf_dir}/{name}.parquet``.

    The dict is lazy: each value is an unresolved scan, nothing is read
    until an action runs, so loading all ten tables costs only metadata
    (first load per path infers the footer schema; repeats hit
    ``_SCHEMA_CACHE`` and skip the inference job entirely).
    """
    names = list(names) if names is not None else list(FIXTURE_TABLES)
    out: dict[str, DataFrame] = {}
    for name in names:
        path = str(Path(sf_dir) / f"{name}.parquet")
        cached = _SCHEMA_CACHE.get(path)
        if cached is None:
            df = spark.read.parquet(path)
            _SCHEMA_CACHE[path] = df.schema
        else:
            df = spark.read.schema(cached).parquet(path)
        out[name] = _normalize_timestamps(df, FIXTURE_TABLES.get(name))
    return out


def _normalize_timestamps(df: DataFrame, expected: T.StructType | None) -> DataFrame:
    """Canonicalize fixture timestamp columns to TIMESTAMP (LTZ, session
    tz UTC) regardless of how the parquet writer encoded them:

    - TIMESTAMP(NANOS) arrives as long under
      ``spark.sql.legacy.parquet.nanosAsLong``; floor-divide to micros and
      rebuild (matches DuckDB's ns→us cast truncation).
    - micros with isAdjustedToUTC=false arrives as TIMESTAMP_NTZ when
      ``spark.sql.parquet.inferTimestampNTZ.enabled`` is on (Spark 4
      default); cast to TIMESTAMP — under the engine's UTC session tz the
      wall-clock values are unchanged and every downstream cast/extract
      behaves identically to DuckDB's naive reading.
    """
    if expected is None:
        return df
    for f in expected.fields:
        if not isinstance(f.dataType, T.TimestampType):
            continue
        if f.name not in df.columns:
            # synthetic test fixtures carry only the columns a plan
            # touches; nothing to canonicalize
            continue
        actual = df.schema[f.name].dataType
        if isinstance(actual, T.LongType):
            # Integer `div`, NOT float division: ns-since-epoch exceeds
            # 2^53, so a double round-trip shifts the microsecond value.
            df = df.withColumn(
                f.name, F.timestamp_micros(F.expr(f"`{f.name}` div 1000"))
            )
        elif isinstance(actual, T.TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for ``spark.sql`` use."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def rows_to_df(spark: SparkSession, rows: Iterable[dict], schema: T.StructType) -> DataFrame:
    """S2 — list-of-dicts → DataFrame (reference: pd.DataFrame(posts),
    etl_pipeline.py:66). Schema explicit; no inference."""
    return spark.createDataFrame(list(rows), schema)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
    infer: bool = False,
) -> DataFrame:
    """CSV source (reads back S3 snapshots). Inference only on request —
    mirrors spark.read.option("inferSchema", ...) semantics (SURVEY §1.3)."""
    reader = spark.read.option("header", header)
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    multiline: bool = False,
) -> DataFrame:
    """JSON-lines source (one record per line — the splittable layout;
    ``multiline`` only for whole-file documents, which cannot be split
    across tasks). Schema asserted when given, else sampled inference —
    at corpus scale always pass the schema so a bad late record becomes
    a null row, not a schema change."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if multiline:
        reader = reader.option("multiLine", True)
    return reader.json(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table_or_query: str,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    fetchsize: int = 10_000,
) -> DataFrame:
    """S5 — JDBC source with server-side pushdown.

    The reference runs its star join inside MySQL and pulls the result
    client-side (etl_pipeline.py:141-150). Here the equivalent is either
    (a) a pushed-down query string — pass ``"(SELECT ...) t"`` or a bare
    table name — or (b) reading base tables and joining in Spark.
    ``partition_column`` + bounds shard the read across executors; without
    it a JDBC read is a single-task scan (fine for dims, wrong for facts).
    ``fetchsize`` is the cursor batch size (reference's buffered cursor,
    etl_pipeline.py:92).
    """
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table_or_query)
        .option("fetchsize", fetchsize)
    )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", lower_bound)
            .option("upperBound", upper_bound)
            .option("numPartitions", num_partitions or 8)
        )
    return reader.load()


def read_with_provenance(spark: SparkSession, path: str) -> DataFrame:
    """Parquet read carrying row-level provenance from the hidden
    ``_metadata`` struct: source file and row index within it.

    The provenance a curation pipeline must keep to trace any training
    document back to its origin (takedown requests, contamination
    audits). Costs nothing: the columns come from the reader itself —
    no join against a manifest, no extra scan — and survive every
    downstream transformation as ordinary columns.
    """
    df = spark.read.parquet(path)
    return df.select(
        "*",
        F.col("_metadata.file_path").alias("_source_file"),
        F.col("_metadata.row_index").alias("_source_row"),
    )


def read_orc(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """ORC source — the other columnar warehouse format Spark reads
    natively (predicate pushdown and column pruning work the same as
    parquet). Schema asserted when provided, mirroring read_json."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def read_parquet_merged(spark: SparkSession, path: str) -> DataFrame:
    """Parquet read across files with EVOLVED schemas: ``mergeSchema``
    unions the per-file schemas (added columns NULL-fill in old files) —
    the read-side half of the schema-evolution story whose compute-side
    half is ``unionByName(allowMissingColumns=True)`` (d5). Off by
    default in Spark because footer-merging costs a listing pass; turn
    it on per-read like this, not globally."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def avro_available(spark: SparkSession) -> bool:
    """True when the external spark-avro module is on the session
    classpath. Avro moved out of Spark core in 2.4; clusters add it with
    ``--packages org.apache.spark:spark-avro_2.13:<spark-version>``.
    This container has no network, so the capability is probed, never
    assumed."""
    try:
        # The exact resolution the reader/writer performs — some
        # org.apache.spark.sql.avro classes ship in core, so a bare
        # Class.forName probe false-positives.
        spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
            "avro", spark._jsparkSession.sessionState().conf()
        )
        return True
    except Exception:
        return False


def read_avro(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """Avro source — the row-oriented interchange format event buses
    (Kafka + Schema Registry) standardize on. Requires the spark-avro
    package (see :func:`avro_available`); raises a clear error rather
    than Spark's generic ClassNotFound when it is missing."""
    if not avro_available(spark):
        raise RuntimeError(
            "spark-avro is not on the classpath; start the session with "
            "--packages org.apache.spark:spark-avro_2.13:<spark-version>"
        )
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.format("avro").load(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    path_glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """binaryFile source — the REAL ingestion edge for the multimodal
    column model (operators/multimodal.py): each matching file becomes
    one row of (path, modificationTime, length, content: binary), which
    is exactly the opaque-payload + typed-metadata shape the decode /
    feature / frame-sample operators consume. ``path_glob`` filters by
    name (e.g. ``*.jpg``); ``max_bytes`` drops oversized payloads at the
    SCAN (pushed filter on the length metadata — the content of a
    skipped file is never read, which is what makes a 100 TB asset
    crawl plannable).
    """
    reader = spark.read.format("binaryFile")
    if path_glob is not None:
        reader = reader.option("pathGlobFilter", path_glob)
    df = reader.load(path)
    if max_bytes is not None:
        df = df.filter(F.col("length") <= max_bytes)
    return df


def read_json_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    corrupt_col: str = "_corrupt_record",
) -> tuple[DataFrame, DataFrame]:
    """S ⊕ — JSON-lines ingestion that SPLITS clean rows from malformed
    ones instead of silently nulling (PERMISSIVE default) or silently
    dropping (DROPMALFORMED): returns ``(clean, quarantine)`` where
    quarantine holds the raw unparseable line for replay/debugging — the
    dead-letter pattern every 100 TB ingest needs, because at that scale
    "some records are garbage" is a certainty, not an edge case.

    Mechanics: PERMISSIVE read with ``columnNameOfCorruptRecord`` added
    to the schema; a row is quarantined iff the corrupt column is
    non-null. Spark requires caching or a re-read for the corrupt-column
    filter to be stable (the parser populates it lazily); we re-select
    through one materialization boundary so both frames come from the
    same parse. Schema is REQUIRED: inference would re-scan and could
    reclassify rows between runs.
    """
    full_schema = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType(), True)]
    )
    # One tracked parse feeds both splits (Spark requires caching for
    # corrupt-record filters: SPARK-21610's referencing rule).
    raw = track(
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )
    clean = raw.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    quarantine = raw.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_record")
    )
    return clean, quarantine
