"""Sink + ETL-surface invariants (S3/S4/J2/J3): snapshot naming and
empty-guard, idempotent append, incremental dim upsert key stability."""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import functions as F

from praw_etl_student_dropout_spark.operators.etl import build_dim, build_fact, upsert_dim
from praw_etl_student_dropout_spark.sources.readers import load_tables, read_csv
from praw_etl_student_dropout_spark.sources.writers import (
    csv_snapshot,
    idempotent_append,
    write_parquet,
)
from tests.conftest import SF_DIR_ORACLE


def test_csv_snapshot_round_trip(spark, sf_dir, tmp_path):
    nation = load_tables(spark, sf_dir, ["nation"])["nation"]
    ts = datetime(2025, 7, 17, 8, 30, 0, tzinfo=timezone.utc)
    path = csv_snapshot(nation, str(tmp_path), prefix="backup", ts=ts)
    assert path == f"{tmp_path}/backup_20250717_083000"
    back = read_csv(spark, path, schema=nation.schema)
    assert back.count() == nation.count()
    assert {r.n_name for r in back.collect()} == {r.n_name for r in nation.collect()}


def test_csv_snapshot_empty_guard(spark, sf_dir, tmp_path):
    nation = load_tables(spark, sf_dir, ["nation"])["nation"]
    assert csv_snapshot(nation.filter(F.lit(False)), str(tmp_path)) is None


def test_write_parquet_partitioned(spark, sf_dir, tmp_path):
    orders = load_tables(spark, sf_dir, ["orders"])["orders"]
    path = str(tmp_path / "orders_by_status")
    write_parquet(orders, path, partition_by=["o_orderstatus"])
    # partition pruning: reading one status touches only that directory
    back = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F")
    expected = orders.filter(F.col("o_orderstatus") == "F").count()
    assert back.count() == expected
    # the status predicate must become a PartitionFilter (pruned scan),
    # not a post-scan row filter
    plan = back._jdf.queryExecution().executedPlan().toString()
    partition_filters = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert partition_filters and "o_orderstatus" in partition_filters[0]


def test_idempotent_append_no_growth(spark, sf_dir, tmp_path):
    nation = load_tables(spark, sf_dir, ["nation"])["nation"]
    target = str(tmp_path / "sink")
    written = []

    def sink(df):
        df.write.mode("append").parquet(target)
        written.append(df.count())

    first = idempotent_append(nation, nation.filter(F.lit(False)), ["n_nationkey"], sink)
    assert first.count() == nation.count()
    # replay the same batch against the now-populated sink
    existing = spark.read.parquet(target)
    second = idempotent_append(nation, existing, ["n_nationkey"], sink)
    assert second.count() == 0
    assert spark.read.parquet(target).count() == nation.count()



def _plan_nodes(node, path=()):
    """Yield ``(node, path)`` over a physical plan, where ``path`` lists
    ``(ancestor, child_index)`` from the root. AQE wrappers are looked
    through: an adaptive plan by its current plan, a query stage by the
    exchange it ran, a reused exchange by the exchange it reuses."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(node.executedPlan(), path)
        return
    if name.endswith("QueryStageExec"):
        yield from _plan_nodes(node.plan(), path)
        return
    if name == "ReusedExchangeExec":
        yield from _plan_nodes(node.child(), path)
        return
    yield node, path
    children = node.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i), path + ((node, i),))


def test_idempotent_append_streams_table_never_broadcasts(spark, tmp_path):
    """INSERT IGNORE must not ship the table through the driver: in the
    delta's executed plan, the table's scan sits only on the streamed
    side of the LeftSemi join that reduces it to the batch's keys, and no
    broadcast exchange carries anything read from it. At sf0.01 a plain
    anti-join against the table broadcasts the table's keys instead."""
    keys = ["l_orderkey", "l_linenumber"]
    lineitem = load_tables(spark, SF_DIR_ORACLE, ["lineitem"])["lineitem"]
    table, batch = str(tmp_path / "table"), str(tmp_path / "batch")
    lineitem.write.parquet(table)
    # resent rows plus brand-new keys, in a file of their own so no
    # filter on the batch can be inferred onto the table's scan
    resent = lineitem.filter(F.col("l_orderkey") % 50 == 0)
    new = resent.withColumn("l_orderkey", -F.col("l_orderkey") - 1)
    resent.unionByName(new).write.parquet(batch)

    fresh = idempotent_append(
        spark.read.parquet(batch), spark.read.parquet(table), keys, lambda df: None
    )
    try:
        assert fresh.count() == new.select(*keys).distinct().count()
        cached = fresh._jdf.queryExecution().optimizedPlan().cacheBuilder().cachedPlan()
        table_scans = [
            (node, path)
            for node, path in _plan_nodes(cached)
            if node.getClass().getSimpleName() == "FileSourceScanExec"
            and node.relation().location().rootPaths().head().toString().endswith("/table")
        ]
        assert table_scans
        for _, path in table_scans:
            ancestors = [a.getClass().getSimpleName() for a, _ in path]
            assert "BroadcastExchangeExec" not in ancestors, ancestors
            join, side = next((a, i) for a, i in reversed(path) if "Join" in a.getClass().getSimpleName())
            assert join.joinType().toString() == "LeftSemi", ancestors
            assert join.buildSide().toString() == "BuildRight" and side == 0, ancestors
    finally:
        fresh.unpersist()


def test_upsert_dim_key_stability(spark):
    existing = spark.createDataFrame([(1, "college"), (2, "gradschool")], ["sub_id", "name"])
    incoming = spark.createDataFrame([("college",), ("zuniversity",), ("applied",)], ["name"])
    out = upsert_dim(existing, incoming, "name", "sub_id")
    got = {r.name: r.sub_id for r in out.collect()}
    # existing surrogates untouched; new keys appended after max, in name order
    assert got["college"] == 1 and got["gradschool"] == 2
    assert got["applied"] == 3 and got["zuniversity"] == 4
    # re-upserting the same incoming set changes nothing (idempotent)
    again = upsert_dim(out, incoming, "name", "sub_id")
    assert {(r.sub_id, r.name) for r in again.collect()} == {(v, k) for k, v in got.items()}


def test_build_fact_unmatched_keys_null(spark):
    dim = build_dim(
        spark.createDataFrame([("a",), ("b",)], ["k"]), "k", "k_id"
    )
    facts = spark.createDataFrame([(1, "a"), (2, "b"), (3, "MISSING")], ["fact_id", "k"])
    out = build_fact(facts, [(dim, "k", "k", "k_id")], ["fact_id", "k_id"])
    got = {r.fact_id: r.k_id for r in out.collect()}
    # left join: facts with no dim match survive with a null key (visible
    # data-quality signal, not a silent drop)
    assert got[1] is not None and got[2] is not None and got[3] is None


def test_merge_upsert_last_wins(spark, tmp_path):
    from praw_etl_student_dropout_spark.operators.merge import (
        merge_upsert,
        read_merged,
    )

    base = str(tmp_path / "tbl")
    import os

    os.makedirs(base)
    v0 = spark.createDataFrame(
        [(1, "old-a", 2024), (2, "old-b", 2024)], ["k", "text", "yr"]
    )
    assert merge_upsert(spark, base, v0, ["k"]) == 0
    # update k=2, insert k=3
    delta = spark.createDataFrame(
        [(2, "NEW-b", 2025), (3, "new-c", 2025)], ["k", "text", "yr"]
    )
    assert merge_upsert(spark, base, delta, ["k"]) == 1
    got = {r.k: (r.text, r.yr) for r in read_merged(spark, base).collect()}
    assert got == {1: ("old-a", 2024), 2: ("NEW-b", 2025), 3: ("new-c", 2025)}
    # re-merging the same delta bumps the version but changes nothing
    merge_upsert(spark, base, delta, ["k"])
    again = {r.k: (r.text, r.yr) for r in read_merged(spark, base).collect()}
    assert again == got


def test_merge_upsert_old_version_still_readable(spark, tmp_path):
    from praw_etl_student_dropout_spark.operators.merge import merge_upsert

    base = str(tmp_path / "tbl")
    import os

    os.makedirs(base)
    merge_upsert(spark, base, spark.createDataFrame([(1, "a")], ["k", "v"]), ["k"])
    merge_upsert(spark, base, spark.createDataFrame([(1, "b")], ["k", "v"]), ["k"])
    # time travel: v0 is untouched by the v1 commit
    v0 = spark.read.parquet(f"{base}/v0")
    assert v0.first().v == "a"


def test_json_lines_roundtrip_with_asserted_schema(spark, sf_dir, tmp_path):
    from pyspark.sql import types as T

    from praw_etl_student_dropout_spark.sources.readers import load_tables, read_json

    docs = load_tables(spark, sf_dir, ["documents"])["documents"].select(
        "doc_id", "lang", "source"
    )
    path = str(tmp_path / "docs_jsonl")
    docs.write.json(path)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
        ]
    )
    back = read_json(spark, path, schema=schema)
    assert back.schema == schema
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in docs.collect()
    )


def test_dynamic_partition_overwrite_touches_only_written_partitions(
    spark, sf_dir, tmp_path
):
    from praw_etl_student_dropout_spark.sources.readers import load_tables
    from praw_etl_student_dropout_spark.sources.writers import (
        overwrite_partitions_dynamic,
    )
    from pyspark.sql import functions as F

    orders = load_tables(spark, sf_dir, ["orders"])["orders"].withColumn(
        "o_year", F.year("o_orderdate")
    )
    dest = str(tmp_path / "orders_dyn")
    orders.write.partitionBy("o_year").parquet(dest)
    base_counts = {
        r["o_year"]: r["count"]
        for r in spark.read.parquet(dest).groupBy("o_year").count().collect()
    }
    # rewrite ONE year with a halved slice; other years must be untouched
    year = sorted(base_counts)[0]
    slice_df = orders.filter(
        (F.col("o_year") == year) & (F.col("o_orderkey") % 2 == 0)
    )
    overwrite_partitions_dynamic(slice_df, dest, ["o_year"])
    after = {
        r["o_year"]: r["count"]
        for r in spark.read.parquet(dest).groupBy("o_year").count().collect()
    }
    assert after[year] == slice_df.count() and after[year] < base_counts[year]
    for y, n in base_counts.items():
        if y != year:
            assert after[y] == n, (y, n, after[y])


def test_quality_gate_observes_metrics_in_one_pass(spark, sf_dir, tmp_path):
    import pytest

    from praw_etl_student_dropout_spark.operators.quality import (
        assert_gate,
        null_and_range_checks,
        with_quality_metrics,
    )
    from praw_etl_student_dropout_spark.sources.readers import load_tables

    orders = load_tables(spark, sf_dir, ["orders"])["orders"]
    checks = null_and_range_checks(
        required=["o_orderkey", "o_custkey"],
        ranges={"o_totalprice": (0.0, 1e9)},
    )
    gated, obs = with_quality_metrics(orders, checks)
    # The metrics ride along with the real action (here: a write)
    gated.write.mode("overwrite").parquet(str(tmp_path / "out"))
    metrics = assert_gate(obs)
    assert metrics["n_rows"] == orders.count()
    assert metrics["nulls_o_orderkey"] == 0
    assert metrics["oob_o_totalprice"] == 0

    # A violated gate raises and reports the offending metric
    bad = orders.withColumn(
        "o_custkey",
        F.when(F.col("o_orderkey") % 2 == 0, None).otherwise(F.col("o_custkey")),
    )
    gated2, obs2 = with_quality_metrics(
        bad, null_and_range_checks(required=["o_custkey"]), name="quality2"
    )
    gated2.count()
    with pytest.raises(ValueError, match="nulls_o_custkey"):
        assert_gate(obs2)


def test_orc_round_trip(spark, sf_dir, tmp_path):
    from praw_etl_student_dropout_spark.sources.readers import read_orc
    from praw_etl_student_dropout_spark.sources.writers import write_orc
    from praw_etl_student_dropout_spark.sources.readers import load_tables

    nation = load_tables(spark, sf_dir, ["nation"])["nation"]
    path = str(tmp_path / "nation_orc")
    write_orc(nation, path)
    back = read_orc(spark, path, schema=nation.schema)
    assert back.schema == nation.schema
    assert sorted(r.n_nationkey for r in back.collect()) == sorted(
        r.n_nationkey for r in nation.collect()
    )
    # Pushdown works on ORC like parquet: filter reaches the scan
    plan = back.filter(F.col("n_nationkey") == 3)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan or "pushed" in plan.lower()


def test_parquet_merge_schema_unions_evolved_files(spark, sf_dir, tmp_path):
    from praw_etl_student_dropout_spark.sources.readers import (
        load_tables,
        read_parquet_merged,
    )

    orders = load_tables(spark, sf_dir, ["orders"])["orders"]
    path = str(tmp_path / "evolving")
    orders.filter(F.col("o_orderkey") < 100).select(
        "o_orderkey", "o_totalprice"
    ).write.mode("overwrite").parquet(path)
    orders.filter((F.col("o_orderkey") >= 100) & (F.col("o_orderkey") < 200)).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    ).write.mode("append").parquet(path)
    merged = read_parquet_merged(spark, path)
    assert set(merged.columns) == {"o_orderkey", "o_totalprice", "o_orderstatus"}
    assert merged.count() == 200
    # Old files NULL-fill the added column
    assert merged.filter(F.col("o_orderstatus").isNull()).count() == 100


def test_avro_roundtrip_or_documented_gate(spark, tmp_path):
    """Avro is an external module since Spark 2.4; with it on the
    classpath this round-trips, without it both entry points must fail
    with the actionable --packages message (not a raw ClassNotFound)."""
    import pytest

    from praw_etl_student_dropout_spark.sources.readers import (
        avro_available,
        read_avro,
    )
    from praw_etl_student_dropout_spark.sources.writers import write_avro

    df = spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("v"))
    path = str(tmp_path / "avro_out")
    if avro_available(spark):
        write_avro(df, path)
        back = read_avro(spark, path)
        assert sorted((r.id, r.v) for r in back.collect()) == [
            (i, 2 * i) for i in range(10)
        ]
    else:
        with pytest.raises(RuntimeError, match="--packages"):
            write_avro(df, path)
        with pytest.raises(RuntimeError, match="--packages"):
            read_avro(spark, path)


def test_changelog_compact_semantics(spark):
    """Crafted log covering all four net-effect branches; applying the
    compacted log to an empty replica equals replaying the full log."""
    from praw_etl_student_dropout_spark.operators.etl import changelog_compact

    rows = [
        # k=1: I then U → net I with last payload
        (1, 1, "I", "a"), (1, 2, "U", "b"),
        # k=2: I then D → dropped entirely
        (2, 1, "I", "x"), (2, 2, "D", "x"),
        # k=3: U then D → net D (existed before the log window)
        (3, 1, "U", "y"), (3, 2, "D", "y"),
        # k=4: U only → net U with last payload
        (4, 1, "U", "p"), (4, 3, "U", "q"),
    ]
    log = spark.createDataFrame(rows, "k int, seq int, op string, payload string")
    got = {
        r.k: (r.net_op, r.seq)
        for r in changelog_compact(log, "k", ["seq"]).collect()
    }
    assert got == {1: ("I", 2), 3: ("D", 2), 4: ("U", 3)}
    # replay equivalence: naive full replay into a dict
    state = {}
    for k, seq, op, payload in sorted(rows, key=lambda r: (r[0], r[1])):
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = seq
    compact_state = {}
    for k, (op, seq) in got.items():
        if op != "D":
            compact_state[k] = seq
    assert compact_state == state


def test_changelog_compact_carries_payload_columns(spark):
    """Payload columns NOT listed in `order` must still arrive from the
    LAST row per key — a generic CDC caller's value columns survive."""
    from praw_etl_student_dropout_spark.operators.etl import changelog_compact

    rows = [
        (1, 1, "I", "a", 10.0),
        (1, 2, "U", "b", 20.0),
        (4, 1, "U", "p", 1.5),
        (4, 3, "U", None, 2.5),  # NULL payload on the last row stays NULL
    ]
    log = spark.createDataFrame(
        rows, "k int, seq int, op string, name string, val double"
    )
    out = changelog_compact(log, "k", ["seq"])
    assert set(out.columns) == {"k", "net_op", "seq", "name", "val"}
    got = {r.k: (r.net_op, r.seq, r.name, r.val) for r in out.collect()}
    assert got == {1: ("I", 2, "b", 20.0), 4: ("U", 3, None, 2.5)}


def test_changelog_compact_non_orderable_payload(spark):
    """Map-typed payload columns must compact: only the ORDER columns
    participate in comparison (min_by/max_by key), so payloads may be
    any type — a min/max over a struct embedding the map would raise
    INVALID_ORDERING_TYPE at plan time."""
    from praw_etl_student_dropout_spark.operators.etl import changelog_compact

    rows = [
        (1, 1, "I", {"a": "1"}),
        (1, 2, "U", {"b": "2"}),
        (2, 1, "U", {"x": "9"}),
    ]
    log = spark.createDataFrame(
        rows, "k int, seq int, op string, attrs map<string,string>"
    )
    got = {
        r.k: (r.net_op, r.seq, dict(r.attrs))
        for r in changelog_compact(log, "k", ["seq"]).collect()
    }
    assert got == {1: ("I", 2, {"b": "2"}), 2: ("U", 1, {"x": "9"})}


def test_changelog_compact_tied_order_is_deterministic(spark):
    """Duplicate order keys within a key resolve by the explicit op rank
    (I=0 < U=1 < D=2 < other) appended to the min_by/max_by comparison
    struct: ties replay in key-lifecycle order (I before U before D), so
    the first of a tie prefers the insert and the last prefers the
    delete. Deterministic across runs and physical layouts, and a tied
    delete is never silently lost (ADVICE r5: the previous raw-string
    tiebreak made 'D' < 'U' an ASCII accident that dropped deletes)."""
    from praw_etl_student_dropout_spark.operators.etl import changelog_compact

    rows = [
        # k=1: I and U both at seq=1 → first op must be I (rank 0 min),
        # last op must be U (rank 1 max) → net I, deterministically.
        (1, 1, "U"), (1, 1, "I"),
        # k=2: D and U tied at the end → last = D (rank 2 beats U) →
        # net D: the tied delete WINS (tombstone-conservative).
        (2, 1, "U"), (2, 2, "D"), (2, 2, "U"),
        # k=3: I and D tied as the whole history → first=I, last=D →
        # lifecycle says insert-then-delete at one instant: key never
        # existed for the consumer → dropped.
        (3, 1, "D"), (3, 1, "I"),
        # k=4: unknown op 'X' tied with D at the end ranks AFTER D, so
        # the last op is X (not D) and first=I → net I: the delete
        # branch is only ever taken by a literal 'D', never by a
        # malformed op shadowing one.
        (4, 1, "I"), (4, 2, "D"), (4, 2, "X"),
    ]
    expect = {1: "I", 2: "D", 4: "I"}
    log = spark.createDataFrame(rows, "k int, seq int, op string")
    for layout in (log, log.repartition(7, "seq"), log.coalesce(1)):
        got = {
            r.k: r.net_op for r in changelog_compact(layout, "k", ["seq"]).collect()
        }
        assert got == expect


def test_jsonl_round_trip_preserves_hostile_text(spark, tmp_path):
    """JSONL is the LLM corpus interchange format precisely because JSON
    escaping makes embedded newlines/quotes/unicode line-safe — pin the
    lossless round-trip on hostile payloads."""
    from pyspark.sql import types as T

    from praw_etl_student_dropout_spark.sources.readers import read_json
    from praw_etl_student_dropout_spark.sources.writers import write_jsonl

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    rows = [
        (1, "plain ascii", "en"),
        (2, "line\nbreaks\r\nand\ttabs", "en"),
        (3, 'quotes " and \\ backslashes', "de"),
        (4, "unicode: 中文 émojis 🎉 ẞ", "zh"),
        (5, "", "fr"),
        (6, None, "es"),
    ]
    df = spark.createDataFrame(rows, schema)
    path = str(tmp_path / "corpus_jsonl")
    write_jsonl(df, path)
    back = read_json(spark, path, schema=schema)
    assert {tuple(r) for r in back.collect()} == set(rows)
    # round-trip again uncompressed (the splittable layout)
    path2 = str(tmp_path / "corpus_jsonl_plain")
    write_jsonl(df, path2, compression=None)
    back2 = read_json(spark, path2, schema=schema)
    assert {tuple(r) for r in back2.collect()} == set(rows)


def test_merge_upsert_schema_evolution(spark, tmp_path):
    """Additive schema evolution on the versioned table (round-7): a
    delta carrying a NEW column widens the current snapshot (untouched
    rows read NULL), earlier versions stay readable via time travel,
    and a later delta missing the column leaves its rows NULL there."""
    from praw_etl_student_dropout_spark.operators.merge import (
        merge_upsert,
        read_merged,
    )

    base = str(tmp_path / "tbl")
    v0 = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    assert merge_upsert(spark, base, v0, ["k"]) == 0

    widened = spark.createDataFrame([(2, "b2", 99.0)], ["k", "v", "score"])
    assert merge_upsert(spark, base, widened, ["k"]) == 1
    cur = {r.k: (r.v, r.score) for r in read_merged(spark, base).collect()}
    assert cur == {1: ("a", None), 2: ("b2", 99.0)}

    # time travel: version 0 keeps its original two-column schema
    old = read_merged(spark, base, version=0)
    assert set(old.columns) == {"k", "v"}
    assert {tuple(r) for r in old.collect()} == {(1, "a"), (2, "b")}

    # a delta WITHOUT the new column upserts with NULL score
    narrow = spark.createDataFrame([(1, "a3")], ["k", "v"])
    assert merge_upsert(spark, base, narrow, ["k"]) == 2
    cur2 = {r.k: (r.v, r.score) for r in read_merged(spark, base).collect()}
    assert cur2 == {1: ("a3", None), 2: ("b2", 99.0)}
