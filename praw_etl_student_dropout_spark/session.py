"""SparkSession construction tuned for this engine.

The reference script has no engine of its own — it splits execution across
Python loops, pandas, and MySQL (``etl_pipeline.py:44-63,66-81,144-149``).
Here a single SparkSession owns the whole lifecycle; settings below are the
scale-relevant defaults (AQE for runtime re-planning/skew, Arrow for any
pandas-UDF boundary, UTC so timestamp semantics agree with the DuckDB
oracle, broadcast threshold so tiny dims hash-join without a shuffle).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Tunables that matter at 100 TB and are harmless on local[32]:
#  - AQE re-plans joins/partitions at runtime (skew join, broadcast demotion)
#  - shuffle.partitions sized to the local core count for tests; a real
#    cluster deployment overrides via spark-submit conf (rule of thumb:
#    2-3x total executor cores, or let AQE coalesce from a high initial)
#  - autoBroadcastJoinThreshold left at default 10 MB: region/nation-sized
#    dims broadcast automatically; we additionally hint broadcast() at call
#    sites where the dim is known-small regardless of stats
ENGINE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # min_by/max_by/collect_* aggregate via ObjectHashAggregateExec, which
    # silently degrades to sort-based after 128 in-memory keys — far too
    # conservative for dedup-by-key over many groups. Executors sized for
    # 100 TB shuffles have the headroom for real hash aggregation.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": "4194304",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # events.parquet has stored TIMESTAMP(NANOS) (vectorized reader
    # rejects it; read as long, loader converts) and plain micros with
    # isAdjustedToUTC=false (reads as TIMESTAMP_NTZ unless inference is
    # off). Both confs + readers._normalize_timestamps make `ts` always
    # surface as TIMESTAMP under the UTC session tz, matching DuckDB.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024),
    # Bucketed scans report their sortBy order ONLY under this flag
    # (removed from the default path in Spark 3.0). write_bucketed lays
    # out one file per bucket precisely so this is sound; with it, a
    # bucketed SMJ drops BOTH per-task sorts — measured round-10 as the
    # dominant per-core cost of the bucketed-join family (q21 32×:
    # 1.30 → 1.10 s; multi-file buckets are detected and still sorted).
    "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
    # Files >128MB split; small fixture files still read in one task each.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    # Shuffle/broadcast/spill block codec (guide §2.3) — measured BOTH
    # ways round-14, fresh process per arm, both orderings each:
    #  - Zipf corpus (real shuffle bytes): zstd 17.63/18.02 s vs lz4
    #    18.29/19.04 s (-3.6%/-5.4%, every query flat-or-better in the
    #    controlled ordering) -> zstd wins where bytes are real.
    #  - sf0.1 fixture (floor-dominated, tiny blocks): zstd 5.08/5.20 s
    #    vs lz4 4.55/4.90 s (+6-11%) -> zstd's CPU costs with no byte
    #    payoff at this scale.
    # Default therefore stays lz4 so the fixture bench remains comparable
    # across rounds; deployments with real shuffle volumes override it
    # with get_spark(extra_conf={"spark.io.compression.codec": "zstd"})
    # (less CPU-bound disk and network per shuffled byte, §2.3).
    "spark.io.compression.codec": "lz4",
    "spark.ui.enabled": "false",
    # Console progress bars write \r-padded stage lines to stderr; under a
    # harness that captures a bounded output tail they can crowd out (or
    # interleave into) the final machine-readable summary line. Timing and
    # plans are unaffected.
    "spark.ui.showConsoleProgress": "false",
}


def get_spark(
    app_name: str = "praw_etl_student_dropout_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback 32)
    when not running under a cluster manager. On a real cluster, pass
    ``master=None`` with the master already set by spark-submit.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Export the package onto PYTHONPATH before the JVM launches: Python
    # UDF workers get the code via addPyFile later, but the Python DATA
    # SOURCE runner processes (batch plan + streaming offsets/reads) are
    # forked with the JVM's env and see neither driver sys.path nor
    # addPyFile. Must happen pre-gateway; no-op if already importable.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = f"local[{cpus}]"
    builder = builder.master(master)
    conf = dict(ENGINE_CONF)
    conf["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions if shuffle_partitions is not None else int(cpus)
    )
    if master.startswith("local"):
        conf.setdefault("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    try:
        spark.sparkContext.setLogLevel("WARN")
    except Exception:
        pass  # Spark Connect: no sparkContext; log level is server-side
    return spark
