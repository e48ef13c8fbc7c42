"""Property-based invariants (hypothesis over small random frames).

Few examples per property (Spark round-trips are ~100ms each) but
adversarial shapes: empty partitions, all-duplicate keys, negative and
extreme values — the corners fixture-driven tests never hit."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SET = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

keys = st.integers(min_value=-3, max_value=3)
vals = st.integers(min_value=-(2**31), max_value=2**31)
rows = st.lists(st.tuples(keys, vals), min_size=0, max_size=40)


@given(data=rows)
@SET
def test_dedup_idempotent_and_minimal(spark, data):
    from praw_etl_student_dropout_spark.operators.setops import dedup_by_key

    df = spark.createDataFrame(data, "k int, v long") if data else spark.createDataFrame([], "k int, v long")
    once = dedup_by_key(df, ["k"], tiebreak=["v"])
    got = {(r.k, r.v) for r in once.collect()}
    # survivor per key is the minimum v (ascending tiebreak), nothing else
    expected = {}
    for k, v in data:
        if k not in expected or v < expected[k]:
            expected[k] = v
    assert got == {(k, v) for k, v in expected.items()}
    # idempotent
    again = dedup_by_key(once, ["k"], tiebreak=["v"])
    assert {(r.k, r.v) for r in again.collect()} == got


@given(left=rows, right=rows)
@SET
def test_salted_join_equals_plain_join(spark, left, right):
    from praw_etl_student_dropout_spark.operators.joins import salted_join

    ldf = spark.createDataFrame(left, "k int, lv long") if left else spark.createDataFrame([], "k int, lv long")
    rdf = spark.createDataFrame(right, "k int, rv long") if right else spark.createDataFrame([], "k int, rv long")
    plain = sorted(tuple(r) for r in ldf.join(rdf, "k").collect())
    salted = sorted(tuple(r) for r in salted_join(ldf, rdf, ["k"], salt_buckets=4).collect())
    assert salted == plain


@given(data=st.lists(st.tuples(keys, st.sampled_from(["a", "b", "c"])), max_size=40))
@SET
def test_pivot_count_equals_spark_pivot(spark, data):
    from praw_etl_student_dropout_spark.operators.aggregations import pivot_count

    df = spark.createDataFrame(data, "k int, p string") if data else spark.createDataFrame([], "k int, p string")
    mine = {
        (r.k, r.a, r.b, r.c)
        for r in pivot_count(df, "k", "p", ["a", "b", "c"]).collect()
    }
    ref = {
        (r.k, r.a or 0, r.b or 0, r.c or 0)
        for r in df.groupBy("k").pivot("p", ["a", "b", "c"]).count().collect()
    }
    assert mine == ref


nullable_keys = st.none() | keys


@given(
    batch=st.lists(st.tuples(nullable_keys, vals), max_size=40),
    table=st.lists(nullable_keys, max_size=10),
)
@SET
def test_idempotent_append_converges(spark, batch, table):
    """INSERT IGNORE model: the appended keys are the batch's distinct
    keys minus the table's non-null keys (a null key is never present,
    as under a unique index), and replaying the batch against the grown
    table appends nothing but its null key again."""
    from praw_etl_student_dropout_spark.sources.writers import idempotent_append

    new_rows = spark.createDataFrame(batch, "k int, v long")
    existing = spark.createDataFrame([(k, 0) for k in table], "k int, v long")
    sunk: list = []

    def append(df):
        sunk.extend(df.collect())

    idempotent_append(new_rows, existing, ["k"], append).unpersist()
    batch_keys = [k for k, _ in batch]
    appended = [r.k for r in sunk]
    assert sorted(appended, key=str) == sorted(set(batch_keys) - {k for k in table if k is not None}, key=str)
    # every appended row is one of the batch's rows for its key
    assert {(r.k, r.v) for r in sunk} <= set(batch)

    grown = existing.unionByName(spark.createDataFrame(sunk, "k int, v long"))
    sunk.clear()
    idempotent_append(new_rows, grown, ["k"], append).unpersist()
    assert [r.k for r in sunk] == ([None] if None in batch_keys else [])


def test_sampling_reproducible_and_in_bounds(spark, sf_dir):
    from praw_etl_student_dropout_spark.operators.sampling import (
        sample_fraction,
        stratified_sample,
    )
    from praw_etl_student_dropout_spark.sources.readers import load_tables

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    n = docs.count()
    a = sample_fraction(docs, 0.3, seed=42)
    b = sample_fraction(docs, 0.3, seed=42)
    # same seed + partitioning → identical sample
    assert {r.doc_id for r in a.collect()} == {r.doc_id for r in b.collect()}
    # Bernoulli bound: within generous binomial tolerance
    assert 0.15 * n <= a.count() <= 0.45 * n
    # stratified: absent strata drop, present strata honor their rate
    langs = [r.lang for r in docs.select("lang").distinct().collect()]
    keep, drop = langs[0], langs[1:]
    strat = stratified_sample(docs, "lang", {keep: 1.0}, seed=1)
    assert strat.filter(F.col("lang").isin(drop)).count() == 0
    assert strat.count() == docs.filter(F.col("lang") == keep).count()


def test_hash_coin_sampling_layout_independent(spark, sf_dir):
    """Content-hash coins must produce the IDENTICAL sample under any
    physical layout (repartition(7), coalesce(1), sorted) and for both
    hash methods — the property partition-coin sample()/sampleBy() does
    not have, and the reason the hash variants are the documented
    default for corpus assembly. Also: md5-coin output must match a
    DuckDB evaluation of the same coin (engine portability)."""
    import duckdb

    from praw_etl_student_dropout_spark.operators.sampling import (
        mix_sources_hash,
        sample_fraction_hash,
        stratified_sample_hash,
    )
    from praw_etl_student_dropout_spark.sources.readers import load_tables

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    n = docs.count()
    layouts = [docs, docs.repartition(7, "lang"), docs.coalesce(1), docs.orderBy(F.desc("doc_id"))]
    for method in ("xxhash64", "md5"):
        ids = [
            {r.doc_id for r in sample_fraction_hash(d, "doc_id", 0.3, seed=42, method=method).select("doc_id").collect()}
            for d in layouts
        ]
        assert ids[0] == ids[1] == ids[2] == ids[3]
        assert 0.15 * n <= len(ids[0]) <= 0.45 * n
        # strata absent from fractions drop entirely; identical across layouts
        langs = sorted(r.lang for r in docs.select("lang").distinct().collect())
        s_ids = [
            {r.doc_id for r in stratified_sample_hash(d, "lang", "doc_id", {langs[0]: 1.0, langs[1]: 0.25}, seed=5, method=method).select("doc_id").collect()}
            for d in layouts[:2]
        ]
        assert s_ids[0] == s_ids[1]
        kept_langs = {
            r.lang
            for r in stratified_sample_hash(docs, "lang", "doc_id", {langs[0]: 1.0}, seed=5, method=method).select("lang").distinct().collect()
        }
        assert kept_langs == {langs[0]}
        # mixture: layout-independent too
        m_ids = [
            sorted(r.doc_id for r in mix_sources_hash([(d, 0.4), (d, 0.2)], "doc_id", seed=9, method=method).select("doc_id").collect())
            for d in layouts[:2]
        ]
        assert m_ids[0] == m_ids[1]

    # md5 coin is engine-portable: DuckDB evaluates the same coin bits
    import os

    con = duckdb.connect()
    path = os.path.join(sf_dir, "documents.parquet")
    duck_ids = {
        r[0]
        for r in con.sql(
            f"SELECT doc_id FROM '{path}' WHERE "
            "CAST(concat('0x', substring(md5(concat(CAST(doc_id AS VARCHAR), '#42')), 1, 8)) AS BIGINT)"
            " % 1048576 / 1048576.0 < 0.3"
        ).fetchall()
    }
    spark_ids = {
        r.doc_id
        for r in sample_fraction_hash(docs, "doc_id", 0.3, seed=42, method="md5").select("doc_id").collect()
    }
    assert duck_ids == spark_ids


def test_mix_sources_weights(spark, sf_dir):
    from praw_etl_student_dropout_spark.operators.sampling import mix_sources
    from praw_etl_student_dropout_spark.sources.readers import load_tables

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    n = docs.count()
    mixed = mix_sources([(docs, 1.0), (docs, 1.0), (docs, 0.5)], seed=3)
    cnt = mixed.count()
    # two full passes + ~half of a third
    assert 2 * n + 0.3 * n <= cnt <= 2 * n + 0.7 * n
    # schema preserved through the mix
    assert mixed.columns == docs.columns
    import pytest as _pytest

    with _pytest.raises(ValueError):
        mix_sources([])


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=40,
    )
)
@SET
def test_connected_components_match_union_find(spark, edges):
    from praw_etl_student_dropout_spark.operators.clusters import connected_components

    # reference: driver-side union-find over the same edges
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {v: find(v) for v in parent}

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["comp"] for r in connected_components(df).collect()}
    assert got == expected


@given(
    points=st.lists(
        st.tuples(st.integers(-1000, 1000), st.integers(-1000, 1000)),
        min_size=1,
        max_size=60,
    )
)
@SET
def test_zorder_preserves_multiset(spark, points):
    from praw_etl_student_dropout_spark.operators.maintenance import zorder_by

    df = spark.createDataFrame(points, "x long, y long")
    z = zorder_by(df, ["x", "y"], num_partitions=4, bits=6)
    assert sorted(tuple(r) for r in z.collect()) == sorted(points)


def test_cms_never_underestimates_and_bounds_overcount(spark, sf_dir):
    from praw_etl_student_dropout_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )
    from praw_etl_student_dropout_spark.sources.readers import load_tables

    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    n_total = li.count()
    depth, width = 4, 1024
    sketch = cms_build(li, "l_partkey", depth=depth, width=width)
    # Sketch never exceeds its cell budget however large the input
    assert sketch.count() <= depth * width
    exact = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("exact"))
    est = cms_estimate(
        sketch, exact.select("l_partkey"), "l_partkey", depth=depth, width=width
    )
    joined = exact.join(est, "l_partkey").collect()
    bound = 2.718281828 / width * n_total
    under = [r for r in joined if r.est_count < r.exact]
    assert not under, f"CMS must never underestimate: {under[:3]}"
    # The e/width*N overcount bound holds with prob 1-(1/2)^depth per key;
    # across all keys demand it for 95% and 3x it for every key.
    within = sum(1 for r in joined if r.est_count - r.exact <= bound)
    assert within >= 0.95 * len(joined)
    assert all(r.est_count - r.exact <= 3 * bound for r in joined)


def test_cms_merge_equals_whole_sketch(spark, sf_dir):
    from praw_etl_student_dropout_spark.operators.sketches import (
        cms_build,
        cms_merge,
    )
    from praw_etl_student_dropout_spark.sources.readers import load_tables

    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    half_a = li.filter(F.col("l_orderkey") % 2 == 0)
    half_b = li.filter(F.col("l_orderkey") % 2 == 1)
    whole = cms_build(li, "l_partkey").collect()
    merged = cms_merge(cms_build(half_a, "l_partkey"), cms_build(half_b, "l_partkey")).collect()
    key = lambda r: (r.sketch_row, r.bucket)
    assert sorted((key(r), r.cnt) for r in whole) == sorted(
        (key(r), r.cnt) for r in merged
    )


def test_heavy_hitters_exact_and_cross_checks_cms(spark, sf_dir):
    """heavy_hitters must equal the exact groupBy-HAVING answer (freqItems
    candidates are a superset; the exact pass prunes), and CMS estimates
    for the reported keys must dominate their exact counts — the two
    approximate-frequency surfaces agree wherever both speak."""
    from praw_etl_student_dropout_spark.operators.sketches import (
        cms_build,
        cms_estimate,
        heavy_hitters,
    )
    from praw_etl_student_dropout_spark.sources.readers import load_tables

    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    support = 1 / 128
    hh = heavy_hitters(li, "l_linestatus", support=support).collect()
    total = li.count()
    exact = {
        r.l_linestatus: r.cnt
        for r in li.groupBy("l_linestatus").agg(F.count(F.lit(1)).alias("cnt")).collect()
        if r.cnt >= support * total
    }
    assert {r.l_linestatus: r.cnt for r in hh} == exact
    sketch = cms_build(li, "l_linestatus")
    keys = li.select("l_linestatus").distinct()
    est = {
        r.l_linestatus: r.est_count
        for r in cms_estimate(sketch, keys, "l_linestatus").collect()
    }
    for k, cnt in exact.items():
        assert est[k] >= cnt, f"CMS underestimates heavy hitter {k}"


def test_heavy_hitters_no_qualifying_keys_returns_empty(spark):
    from praw_etl_student_dropout_spark.operators.sketches import heavy_hitters

    # 100 distinct keys, each 1% of rows: support 0.5 qualifies none
    df = spark.range(100).select((F.col("id") % 100).alias("k"))
    out = heavy_hitters(df, "k", support=0.5)
    assert out.count() == 0
    assert out.columns == ["k", "cnt"]


def test_pack_sequences_is_partition_layout_independent(spark, sf_dir):
    from praw_etl_student_dropout_spark.functions.text import token_count
    from praw_etl_student_dropout_spark.operators.packing import pack_sequences
    from praw_etl_student_dropout_spark.sources.readers import load_tables

    docs = load_tables(spark, sf_dir, ["documents"])["documents"].select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    key = lambda df: sorted(
        (r.doc_id, r.cum_tokens, r.seq_first, r.seq_last, r.seq_offset)
        for r in df.collect()
    )
    one = key(pack_sequences(docs, "doc_id", "n_tokens", num_partitions=1))
    many = key(pack_sequences(docs, "doc_id", "n_tokens", num_partitions=7))
    assert one == many
    # Stream-packing invariants: total stream length is the token sum;
    # a doc straddles a cut exactly when its span crosses a 2048 boundary
    total = docs.agg(F.sum("n_tokens")).collect()[0][0]
    assert max(c for _, c, *_ in one) == total
    for _, cum, first, last, off in one:
        assert 0 <= off < 2048
        assert first <= last
        assert (first == last) == (off + (cum - (first * 2048 + off)) <= 2048)


def test_pagerank_matches_power_iteration(spark):
    import numpy as np

    from praw_etl_student_dropout_spark.operators.clusters import pagerank

    # Small digraph with a dangling node (3) and a cycle
    edge_list = [(0, 1), (0, 2), (1, 2), (2, 0), (2, 3), (4, 2)]
    edges = spark.createDataFrame(edge_list, ["src", "dst"])
    got = {
        r.id: r.rank
        for r in pagerank(edges, max_iter=60, tol=1e-10).collect()
    }
    # Reference: dense power iteration with identical semantics
    n, d = 5, 0.85
    out = {0: 2, 1: 1, 2: 2, 4: 1}
    r = np.ones(n)
    for _ in range(200):
        nxt = np.full(n, 1 - d)
        dangling = sum(r[v] for v in range(n) if v not in out)
        nxt += d * dangling / n
        for s, t in edge_list:
            nxt[t] += d * r[s] / out[s]
        r = nxt
    for v in range(n):
        assert abs(got[v] - r[v]) < 1e-6, (v, got[v], r[v])
    # mass conservation: ranks sum to N
    assert abs(sum(got.values()) - n) < 1e-6


def test_asof_join_null_right_value_carries_whole_row(spark):
    """ADVICE regression: a version row with a NULL value column must
    NOT be patched with an older row's value — all carried columns come
    from the single matched as-of row (struct carry), like DuckDB ASOF."""
    from praw_etl_student_dropout_spark.operators.joins import asof_join

    versions = spark.createDataFrame(
        [
            (1, 10, "v1", "typeA"),
            (1, 20, "v2", None),     # latest version has NULL event_type
            (2, 10, "w1", None),
            (2, 30, "w2", "typeB"),
        ],
        ["key", "vts", "version", "event_type"],
    )
    probes = spark.createDataFrame(
        [(1, 25), (2, 20), (2, 35), (1, 5)], ["key", "pts"]
    )
    got = {
        (r.key, r.pts): (r.version, r.event_type)
        for r in asof_join(
            probes, versions, "key", "pts", "vts", ["version", "event_type"]
        ).collect()
    }
    assert got == {
        (1, 25): ("v2", None),      # NOT ("v2", "typeA")
        (2, 20): ("w1", None),
        (2, 35): ("w2", "typeB"),
        (1, 5): (None, None),       # no version yet
    }


def test_aqp_estimate_within_ci_of_exact(spark, sf_dir):
    """The AQP estimate's 95% CI must cover the exact mean on the
    fixture (a deterministic sample, so this is a fixed fact, not a
    flaky probabilistic assertion), and the estimated total must be
    within 3 CI-widths*n of exact."""
    from praw_etl_student_dropout_spark.plans import catalog_all
    from praw_etl_student_dropout_spark.sources.readers import load_tables

    est = catalog_all()["a33_aqp_sample_estimate"].builder(spark, sf_dir).first()
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    exact = li.agg(
        F.avg("l_extendedprice").alias("mean"), F.sum("l_extendedprice").alias("tot")
    ).first()
    assert est.sample_n > 20
    assert abs(est.est_mean - exact.mean) <= 3 * est.mean_ci95_halfwidth
    # total inherits the mean's relative CI (fixed 1% sampling rate)
    rel = abs(est.est_total - exact.tot) / exact.tot
    assert rel <= 3 * est.mean_ci95_halfwidth / est.est_mean, (
        f"1% sample total off by {rel:.1%}"
    )


def test_cms_join_size_never_underestimates_and_is_tight(spark, sf_dir):
    """The CMS inner-product join-size estimate must dominate the true
    join cardinality and stay within the e/width * Na * Nb additive
    bound (with 3x slack for the fixture's single trial)."""
    from praw_etl_student_dropout_spark.operators.sketches import (
        cms_build,
        cms_join_size,
    )
    from praw_etl_student_dropout_spark.sources.readers import load_tables

    t = load_tables(spark, sf_dir, ["lineitem", "orders"])
    li, od = t["lineitem"], t["orders"]
    true_size = li.join(od, li.l_orderkey == od.o_orderkey).count()
    depth, width = 4, 2048
    sa = cms_build(li, "l_orderkey", depth=depth, width=width)
    sb = cms_build(od, "o_orderkey", depth=depth, width=width)
    est = cms_join_size(sa, sb).first().est_join_size
    assert est >= true_size, (est, true_size)
    bound = 2.718281828 / width * li.count() * od.count()
    assert est - true_size <= 3 * bound, (est, true_size, bound)


def test_heavy_hitters_exact_boundary_count(spark):
    """A key whose count is EXACTLY support*N must be returned:
    freqItems only guarantees survival for counts strictly greater than
    support*N, so candidate generation runs at support*0.99."""
    from praw_etl_student_dropout_spark.operators.sketches import heavy_hitters

    # 'edge' appears exactly 20 times out of N=100 → support 0.2 boundary
    rows = [("edge",)] * 20 + [(f"k{i}",) for i in range(80)]
    df = spark.createDataFrame(rows, "k string").repartition(8)
    got = {r.k: r.cnt for r in heavy_hitters(df, "k", support=0.2).collect()}
    assert got == {"edge": 20}


def test_term_counts_equals_explode_groupby(spark, sf_dir):
    """term_counts (row-local sorted-run lengths) must equal the
    explode+groupBy term frequencies on the real corpus, and handle the
    degenerate rows (empty array, single token, all-same tokens)."""
    from pyspark.sql import functions as F

    from praw_etl_student_dropout_spark.functions.text import term_counts, tokens
    from praw_etl_student_dropout_spark.sources.readers import load_tables

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    via_rle = docs.select(
        "doc_id", F.explode(term_counts(tokens(F.col("text")))).alias("p")
    ).select("doc_id", "p.term", F.col("p.tf").cast("long").alias("tf"))
    via_shuffle = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    assert via_rle.exceptAll(via_shuffle).count() == 0
    assert via_shuffle.exceptAll(via_rle).count() == 0

    edge = spark.createDataFrame(
        [
            (1, []),                      # empty → no rows
            (2, ["a"]),                   # single token
            (3, ["x", "x", "x"]),         # one run
            (4, ["b", "a", "b", "a"]),    # interleaved
        ],
        "id int, toks array<string>",
    )
    got = {
        (r.id, r.term): r.tf
        for r in edge.select(
            "id", F.explode(term_counts(F.col("toks"))).alias("p")
        ).select("id", "p.term", "p.tf").collect()
    }
    assert got == {(2, "a"): 1, (3, "x"): 3, (4, "a"): 2, (4, "b"): 2}
    # empty array yields an empty (non-null) pair array
    empties = edge.filter(F.col("id") == 1).select(
        F.size(term_counts(F.col("toks"))).alias("n")
    ).first()
    assert empties.n == 0


def test_degenerate_division_guards_agree_with_duckdb(spark, tmp_path):
    """The w9/a21 guard convention, proven on data that actually TRIPS
    the guards: a zero-variance lineitem (a27 correlations undefined)
    and a zero-token documents source (mixture plan rate undefined).
    Both engines must emit the same guarded 0.0 rather than Spark NULL
    vs DuckDB Inf/NaN."""
    import duckdb

    from praw_etl_student_dropout_spark.plans import catalog_all

    cat = catalog_all()
    sf = str(tmp_path)
    import datetime

    # zero-variance measures: every l_discount/l_tax identical; plus a
    # SINGLE-ROW returnflag group ('R') and a constant-quantity group
    # ('A') so the w9/a21 n>1-and-variance guards actually trip
    ship = datetime.datetime(2024, 1, 1)
    rows = [
        (i, 1, 1, 1, float(i % 3 + 1), 100.0, 0.05, 0.02, "N", "O", ship)
        for i in range(20)
    ]
    rows.append((100, 1, 1, 1, 7.0, 100.0, 0.05, 0.02, "R", "O", ship))
    rows += [
        (200 + i, 1, 1, 1, 4.0, 100.0, 0.05, 0.02, "A", "F", ship)
        for i in range(5)
    ]
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).coalesce(1).write.parquet(f"{sf}/lineitem.parquet")
    # one source entirely blank → n_tokens = 0 for that source; one doc
    # with NULL text → both engines must DROP it from per-doc outputs
    spark.createDataFrame(
        [
            (1, "", "en", "empty_src", 0),
            (2, "real text here", "en", "web", 14),
            (3, None, "en", "web", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{sf}/documents.parquet")

    con = duckdb.connect()
    for t in ("lineitem", "documents"):
        # Spark writes a part-file directory; glob inside it for DuckDB
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet/*.parquet'"
        )

    for name in (
        "a27_corr_matrix",
        "llm_mixture_plan",
        "w9_zscore_normalize",
        "a21_regr_family",
        "u6_token_entropy",
    ):
        spec = cat[name]
        sdf = spec.builder(spark, sf)
        got = {
            tuple(None if v is None else round(v, 6) if isinstance(v, float) else v
                  for v in row)
            for row in (tuple(r) for r in sdf.collect())
        }
        want = {
            tuple(None if v is None else round(v, 6) if isinstance(v, float) else v
                  for v in row)
            for row in con.execute(spec.oracle).fetchall()
        }
        assert got == want, f"{name}: {got} != {want}"
        # guards actually fired: no NULL/NaN/Inf anywhere
        for row in got:
            for v in row:
                assert v is not None
                if isinstance(v, float):
                    assert v == v and abs(v) != float("inf")


@given(
    toks=st.lists(
        st.lists(
            st.sampled_from(["a", "bb", "ccc", "", "a b", "Ω", None]), max_size=12
        ),
        min_size=0,
        max_size=10,
    )
)
@SET
def test_term_counts_matches_python_counter(spark, toks):
    """Generative twin of the fixture equivalence test: term_counts must
    equal collections.Counter on arbitrary token arrays, including empty
    arrays, empty-string tokens, multi-word strings, non-ASCII, and NULL
    elements (dropped — a NULL token is not a term; previously a NULL at
    the sort boundary silently folded the first post-NULL run into its
    neighbour's tf)."""
    from collections import Counter

    from praw_etl_student_dropout_spark.functions.text import term_counts

    rows = [(i, t) for i, t in enumerate(toks)]
    df = (
        spark.createDataFrame(rows, "id int, toks array<string>")
        if rows
        else spark.createDataFrame([], "id int, toks array<string>")
    )
    got = {}
    for r in df.select(
        "id", F.explode(term_counts(F.col("toks"))).alias("p")
    ).collect():
        got.setdefault(r.id, {})[r.p.term] = r.p.tf
    want = {
        i: dict(Counter(x for x in t if x is not None)) for i, t in enumerate(toks)
    }
    want = {i: c for i, c in want.items() if c}
    assert got == want


@given(
    log=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),               # key
            st.sampled_from(["I", "U", "D"]),                    # op
            st.integers(min_value=-100, max_value=100),          # payload
        ),
        min_size=0,
        max_size=30,
    )
)
@SET
def test_changelog_compact_replay_equivalence_generative(spark, log):
    """For ANY op sequence: applying the compacted changelog to an empty
    replica produces the same final state as replaying the full log."""
    from praw_etl_student_dropout_spark.operators.etl import changelog_compact

    rows = [(k, i, op, p) for i, (k, op, p) in enumerate(log)]
    df = (
        spark.createDataFrame(rows, "k int, seq int, op string, p int")
        if rows
        else spark.createDataFrame([], "k int, seq int, op string, p int")
    )
    # naive replay
    state: dict[int, int] = {}
    for k, seq, op, p in rows:
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = p
    # compacted apply: D deletes (no-op on empty), I/U upsert last payload
    compact_state: dict[int, int] = {}
    for r in changelog_compact(df, "k", ["seq"]).collect():
        if r.net_op != "D":
            compact_state[r.k] = r.p
    assert compact_state == state


def test_heavy_hitters_minimum_support_boundary(spark):
    """support=1e-4 (freqItems' hard domain floor) must work: the 0.99
    candidate-widening is clamped to the floor instead of crashing."""
    from praw_etl_student_dropout_spark.operators.sketches import heavy_hitters

    df = spark.createDataFrame([("a",)] * 50 + [("b",)] * 50, "k string")
    got = {r.k: r.cnt for r in heavy_hitters(df, "k", support=1e-4).collect()}
    assert got == {"a": 50, "b": 50}


def test_discover_fractions_and_column_rate(spark):
    """discover_fractions enumerates strata with a default + overrides
    (the documented-fallback scan), and the Column-rate form of
    stratified_sample_hash selects exactly the same rows as the
    equivalent explicit dict — so a caller can switch to the
    collect-free form without changing the sample."""
    from praw_etl_student_dropout_spark.operators.sampling import (
        discover_fractions,
        stratified_sample_hash,
    )

    rows = [(i, ["en", "es", "de"][i % 3]) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id int, lang string")
    fr = discover_fractions(df, "lang", default=0.25, overrides={"en": 1.0})
    assert fr == {"en": 1.0, "es": 0.25, "de": 0.25}
    via_dict = {
        r.doc_id
        for r in stratified_sample_hash(
            df, "lang", "doc_id", fr, seed=9, method="md5"
        ).collect()
    }
    rate = F.when(F.col("lang") == "en", 1.0).otherwise(0.25)
    via_col = {
        r.doc_id
        for r in stratified_sample_hash(
            df, "lang", "doc_id", rate, seed=9, method="md5"
        ).collect()
    }
    assert via_dict == via_col
    # every en row kept; the others subsampled
    en = {i for i, l in rows if l == "en"}
    assert en <= via_col and len(via_col) < len(rows)


def test_dsir_weights_rank_target_language_first(spark, sf_dir):
    """DSIR importance weights must rank target-distribution (en) docs
    above off-target ones: the top-50 selection should be
    overwhelmingly en, and mean(weight | en) > mean(weight | zh)."""
    from praw_etl_student_dropout_spark.plans import catalog_all

    from praw_etl_student_dropout_spark.sources.readers import load_tables

    top = catalog_all()["llm_dsir_select"].builder(spark, sf_dir).collect()
    langs = [r["lang"] for r in top]
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    n_docs = docs.count()
    n_en = docs.filter(F.col("lang") == "en").count()
    # Enrichment is the actual DSIR claim: the fixture's languages share
    # a common vocabulary, so the selection is not pure — but the target
    # language must be (a) the plurality and (b) over-represented vs its
    # corpus share.
    share_sel = langs.count("en") / len(langs)
    assert langs.count("en") == max(langs.count(g) for g in set(langs))
    assert share_sel > 1.2 * (n_en / n_docs), (share_sel, n_en / n_docs)


def test_global_rank_equals_single_window_and_layout_independent(spark, sf_dir):
    from praw_etl_student_dropout_spark.operators.packing import global_rank
    from praw_etl_student_dropout_spark.sources.readers import load_tables

    docs = load_tables(spark, sf_dir, ["documents"])["documents"].select(
        "doc_id", "n_chars"
    )
    got = {
        r.doc_id: r.__getattr__("rk")
        for r in global_rank(docs, ["n_chars", "doc_id"], "rk").collect()
    }
    expected = {
        r.doc_id: i + 1
        for i, r in enumerate(
            sorted(docs.collect(), key=lambda r: (r.n_chars, r.doc_id))
        )
    }
    assert got == expected
    few = global_rank(docs, ["n_chars", "doc_id"], "rk", num_partitions=1).collect()
    assert {r.doc_id: r.rk for r in few} == expected


def test_global_rank_dense_on_join_lineage(spark, sf_dir):
    """Round-10 regression: a JOIN lineage defeats ReuseExchange, and
    RangePartitioner seeds its bound sampling with the RDD id — without
    the track_cache materialization the totals branch and the join
    branch of global_rank see DIFFERENT partition layouts and ranks come
    out with gaps/overlaps (caught on a64_theil_sen: region rank spans
    disagreed with region counts). Dense 1..N per group is the contract."""
    from pyspark.sql import functions as F

    from praw_etl_student_dropout_spark.operators.packing import global_rank
    from praw_etl_student_dropout_spark.sources.readers import load_tables

    docs = load_tables(spark, sf_dir, ["documents"])["documents"].select(
        "doc_id", "lang", "n_chars"
    )
    a, b = docs.alias("a"), docs.alias("b")
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.lang").alias("lang"),
        (F.col("b.n_chars") - F.col("a.n_chars")).alias("delta"),
        F.col("a.doc_id").alias("ia"),
        F.col("b.doc_id").alias("ib"),
    )
    ranked = global_rank(pairs, ["lang", "delta", "ia", "ib"], "rk")
    spans = (
        ranked.groupBy("lang")
        .agg(
            F.min("rk").alias("lo"),
            F.max("rk").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    assert spans, "empty pair frame"
    for r in sorted(spans, key=lambda r: r.lo):
        assert r.hi - r.lo + 1 == r.n, (r.lang, r.lo, r.hi, r.n)
    total = sum(r.n for r in spans)
    assert sorted(x.rk for x in ranked.select("rk").collect()) == list(
        range(1, total + 1)
    )


def test_curriculum_order_stages_and_determinism(spark, sf_dir):
    from praw_etl_student_dropout_spark.operators.packing import curriculum_order
    from praw_etl_student_dropout_spark.sources.readers import load_tables

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    out = curriculum_order(docs, "doc_id", "n_chars", stages=5, seed=17).collect()
    n = len(out)
    # order_idx is a permutation of 1..n
    assert sorted(r.order_idx for r in out) == list(range(1, n + 1))
    # stages are contiguous in the training order and weakly increasing
    by_order = sorted(out, key=lambda r: r.order_idx)
    stages = [r.stage for r in by_order]
    assert stages == sorted(stages)
    # stage sizes differ by at most 1 (equal cuts of the ranked corpus)
    from collections import Counter

    sizes = Counter(stages)
    assert set(sizes) == {1, 2, 3, 4, 5}
    assert max(sizes.values()) - min(sizes.values()) <= 1
    # difficulty is non-decreasing ACROSS stages: every stage-s doc is
    # no longer than every stage-(s+1) doc, up to rank ties
    import itertools

    max_per = {
        s: max(r.n_chars for r in g)
        for s, g in itertools.groupby(by_order, key=lambda r: r.stage)
    }
    min_per = {
        s: min(r.n_chars for r in sorted(out, key=lambda r: r.order_idx) if r.stage == s)
        for s in sizes
    }
    for s in range(1, 5):
        assert max_per[s] <= min_per[s + 1]
    # pure function of corpus + seed: layout never changes the order
    again = curriculum_order(
        docs.repartition(11), "doc_id", "n_chars", stages=5, seed=17
    ).collect()
    assert sorted((r.doc_id, r.order_idx) for r in out) == sorted(
        (r.doc_id, r.order_idx) for r in again
    )


def test_bloom_semi_reduce_lossless_and_reducing(spark, sf_dir):
    """bloom_might_contain can never drop a true key (no false
    negatives), bloom_semi_reduce equals the plain semi join exactly,
    and the bloom pre-filter measurably cuts the probe side before the
    exchange (the whole point of the reduction)."""
    from pyspark.sql import functions as F

    from praw_etl_student_dropout_spark.operators.joins import (
        bloom_filter_build,
        bloom_might_contain,
        bloom_semi_reduce,
    )
    from praw_etl_student_dropout_spark.sources.readers import load_tables

    t = load_tables(spark, sf_dir, ["orders", "lineitem"])
    build = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
    words = bloom_filter_build(build.select("o_orderkey"), "o_orderkey")

    # No false negatives: every build key passes its own filter.
    misses = build.filter(
        ~bloom_might_contain(F.col("o_orderkey"), words)
    ).count()
    assert misses == 0

    # Exactness: reduction == plain left-semi join (false positives are
    # removed by the exact join that follows the bloom).
    reduced = bloom_semi_reduce(t["lineitem"], build, "l_orderkey", "o_orderkey")
    exact = t["lineitem"].join(
        build.select(F.col("o_orderkey").alias("l_orderkey")).distinct(),
        "l_orderkey",
        "left_semi",
    )
    assert reduced.count() == exact.count()
    assert reduced.exceptAll(exact).count() == 0

    # The pre-filter actually reduces: with ~20% of keys in the filter,
    # the bloom must drop a substantial share of probe rows (fp rate for
    # 8 KiB / k=5 at this key count is well under 1%).
    probe_total = t["lineitem"].count()
    passed_bloom = t["lineitem"].filter(
        bloom_might_contain(F.col("l_orderkey"), words)
    ).count()
    assert passed_bloom < probe_total * 0.5
    # False-positive mass is bounded: bloom survivors exceed true
    # matches by less than 5% of the probe side.
    assert passed_bloom - exact.count() < probe_total * 0.05


def test_hashed_linear_classifier_separates_and_is_layout_stable(spark):
    """The hashed linear scorer ranks a prose-like doc above a junk-like
    doc under the lexicon demo model, n=0 docs get the neutral 0.5, and
    scores are a pure function of the text (repartition-invariant)."""
    from pyspark.sql import functions as F

    from praw_etl_student_dropout_spark.operators.classifier import (
        hashed_linear_score,
        lexicon_weights,
    )

    w = lexicon_weights(
        256, ["the", "a", "of", "and"], ["click", "subscribe", "free"]
    )
    docs = spark.createDataFrame(
        [
            (1, "the history of the region and a summary of the findings"),
            (2, "click subscribe free free click subscribe"),
            (3, "   "),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in hashed_linear_score(docs, w).collect()}
    assert out[1]["keep"] and out[1]["margin_prob"] > 0.5
    assert not out[2]["keep"] and out[2]["margin_prob"] < 0.5
    assert out[3]["n_tokens"] == 0 and out[3]["margin_prob"] == 0.5
    assert not out[3]["keep"]

    re_out = {
        r["doc_id"]: r
        for r in hashed_linear_score(docs.repartition(7), w).collect()
    }
    for k in out:
        assert out[k]["margin_prob"] == re_out[k]["margin_prob"]

    # n=0 edge (ADVICE r6): keep follows the BIAS sign, agreeing with
    # margin_prob = sigmoid(bias) — a positive-bias model keeps empty
    # docs, a negative-bias model drops them, and keep never contradicts
    # margin_prob's side of 0.5.
    pos = {r["doc_id"]: r for r in hashed_linear_score(docs, w, bias=2.0).collect()}
    assert pos[3]["keep"] and pos[3]["margin_prob"] > 0.5
    neg = {r["doc_id"]: r for r in hashed_linear_score(docs, w, bias=-2.0).collect()}
    assert not neg[3]["keep"] and neg[3]["margin_prob"] < 0.5


@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),   # user
            st.integers(min_value=0, max_value=50),  # minutes offset
            st.one_of(st.none(), st.integers(min_value=-100, max_value=100)),
        ),
        max_size=30,
    )
)
@SET
def test_rolling_median_matches_python_reference(spark, data):
    """w13's frame semantics vs a pure-Python reference: per user, order
    by (ts, event_id), median of the last <=5 non-NULL values with NULL
    rows occupying frame slots but not the median."""
    import datetime as dt
    import statistics

    from pyspark.sql import Window

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, u, base + dt.timedelta(minutes=m), None if v is None else float(v))
        for i, (u, m, v) in enumerate(data)
    ]
    df = (
        spark.createDataFrame(rows, "event_id long, user_id int, ts timestamp, value double")
        if rows
        else spark.createDataFrame([], "event_id long, user_id int, ts timestamp, value double")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-4, 0)
    got = {
        r.event_id: r.med5
        for r in df.select(
            "event_id",
            F.round(F.expr("percentile(value, 0.5)").over(w), 6).alias("med5"),
        ).collect()
    }
    by_user: dict = {}
    for eid, u, ts, v in sorted(rows, key=lambda r: (r[1], r[2], r[0])):
        hist = by_user.setdefault(u, [])
        hist.append(v)
        frame = [x for x in hist[-5:] if x is not None]
        expect = round(statistics.median(frame), 6) if frame else None
        assert got[eid] == expect, (eid, frame, got[eid], expect)


@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=30), min_size=1, max_size=6
    )
)
@SET
def test_minhash_md5_signature_matches_python_reference(spark, texts):
    """The md5-coin signature is a pure deterministic function any engine
    can reproduce — pinned against a from-scratch Python implementation
    of the same definition (tokens -> distinct 3-gram shingles ->
    min over shingles of int(md5(s)[:15],16) ^ md5('mh:<i>') coins)."""
    import hashlib
    import re

    from praw_etl_student_dropout_spark.operators.dedup import (
        minhash_md5_signatures,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: list(r.sig)
        for r in minhash_md5_signatures(df, "text", "doc_id", num_hashes=4).collect()
    }

    def py_shingles(text: str) -> list[str]:
        toks = re.split(r"\s+", text.strip())
        n = 3
        starts = range(0, max(len(toks) - n, 0) + 1)
        grams = [" ".join(toks[i : i + n]) for i in starts]
        return list(dict.fromkeys(grams))

    for i, t in rows:
        sh = py_shingles(t)
        # round-11 coin: ONE md5 per shingle, per-index values derived by
        # XOR with the fixed md5("mh:<i>") constants
        coins = [
            int(hashlib.md5(f"mh:{h}".encode()).hexdigest()[:15], 16)
            for h in range(4)
        ]
        expect = [
            min(
                int(hashlib.md5(s.encode()).hexdigest()[:15], 16) ^ coins[h]
                for s in sh
            )
            if sh
            else 1 << 62
            for h in range(4)
        ]
        assert got[i] == expect, (t, got[i], expect)


def test_label_propagation_separates_cliques(spark):
    from praw_etl_student_dropout_spark.operators.clusters import (
        label_propagation,
    )

    # Two 4-cliques joined by ONE bridge edge: LPA must keep them as two
    # communities (the bridge vote is always outnumbered 3-to-1), and
    # the deterministic min-label tie-break pins each community's label
    # to its smallest member.
    clique_a = [(a, b) for a in range(4) for b in range(4) if a < b]
    clique_b = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    edges = spark.createDataFrame(
        clique_a + clique_b + [(3, 10)], ["src", "dst"]
    )
    got = {r.id: r.label for r in label_propagation(edges, max_iter=4).collect()}
    assert {got[v] for v in range(4)} == {0}
    assert {got[v] for v in range(10, 14)} == {10}


def test_label_propagation_layout_independent(spark):
    from praw_etl_student_dropout_spark.operators.clusters import (
        label_propagation,
    )

    edge_list = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 0), (2, 7), (7, 8), (8, 9)]
    one = spark.createDataFrame(edge_list, ["src", "dst"]).coalesce(1)
    many = spark.createDataFrame(edge_list, ["src", "dst"]).repartition(13)
    ra = sorted((r.id, r.label) for r in label_propagation(one, max_iter=3).collect())
    rb = sorted((r.id, r.label) for r in label_propagation(many, max_iter=3).collect())
    assert ra == rb


def test_bounded_domain_rounds_match_distributed(spark):
    """bounded_domain=True must be a pure EXECUTION-layout switch: label
    propagation and k-core return value-identical results with and
    without it (round-12 — the flag collapses rounds to exchange-free
    single-task stages; it must never change semantics)."""
    from praw_etl_student_dropout_spark.operators.clusters import (
        kcore_peel,
        label_propagation,
    )

    edge_list = (
        [(a, b) for a in range(5) for b in range(5) if a < b]
        + [(4, 10), (10, 11), (11, 12), (12, 10), (12, 13)]
    )
    edges = spark.createDataFrame(edge_list, ["src", "dst"]).repartition(7)
    lp_d = sorted(map(tuple, label_propagation(edges, max_iter=4).collect()))
    lp_b = sorted(map(tuple, label_propagation(
        edges, max_iter=4, bounded_domain=True).collect()))
    assert lp_d == lp_b
    kc_d = sorted(map(tuple, kcore_peel(edges, k=2, rounds=3).collect()))
    kc_b = sorted(map(tuple, kcore_peel(
        edges, k=2, rounds=3, bounded_domain=True).collect()))
    assert kc_d == kc_b
    # and the bounded final frame really is one partition
    assert label_propagation(
        edges, max_iter=2, bounded_domain=True).rdd.getNumPartitions() == 1


def test_bfs_levels_path_graph(spark):
    """bfs_levels on a known path + disconnected pair: exact levels from
    the MIN-id source, truncation drops beyond-budget vertices, and the
    disconnected component never appears."""
    from praw_etl_student_dropout_spark.operators.clusters import bfs_levels

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], ["src", "dst"]
    )
    got = {r.id: r.lvl for r in bfs_levels(edges, rounds=3).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}
    # bounded path agrees
    got_b = {
        r.id: r.lvl
        for r in bfs_levels(edges, rounds=3, bounded_domain=True).collect()
    }
    assert got_b == got
    # a wider budget reaches the whole source component, never 10/11
    got5 = {r.id: r.lvl for r in bfs_levels(edges, rounds=5).collect()}
    assert got5 == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4, 5: 5}


def test_sample_weighted_k_per_group_law(spark):
    from praw_etl_student_dropout_spark.operators.sampling import (
        sample_weighted_k,
        sample_weighted_k_per_group,
    )

    rows = [(i, f"g{i % 3}", float(1 + i % 7)) for i in range(120)]
    df = spark.createDataFrame(rows, ["id", "grp", "w"])
    out = sample_weighted_k_per_group(df, "grp", "id", "w", k=4, seed=7)
    got = out.collect()
    # exactly k per group, ranks 1..k
    by_g = {}
    for r in got:
        by_g.setdefault(r.grp, []).append(r.rk)
    assert set(by_g) == {"g0", "g1", "g2"}
    assert all(sorted(v) == [1, 2, 3, 4] for v in by_g.values())
    # within one group, the selection equals the GLOBAL weighted top-k
    # restricted to that group (same E-S key, same seed)
    g0 = df.filter(F.col("grp") == "g0")
    want = {r.id for r in sample_weighted_k(g0, "id", "w", k=4, seed=7).collect()}
    assert {r.id for r in got if r.grp == "g0"} == want
    # layout independence
    again = sample_weighted_k_per_group(
        df.repartition(17), "grp", "id", "w", k=4, seed=7
    )
    assert sorted((r.grp, r.id) for r in again.collect()) == sorted(
        (r.grp, r.id) for r in got
    )
    # zero/NULL weights carry no mass
    with_zero = df.union(spark.createDataFrame([(999, "g0", 0.0)], df.schema))
    assert (
        sample_weighted_k_per_group(with_zero, "grp", "id", "w", k=4, seed=7)
        .filter(F.col("id") == 999)
        .count()
        == 0
    )


def test_kcore_peel_matches_fixpoint_on_small_graph(spark):
    from praw_etl_student_dropout_spark.operators.clusters import kcore_peel

    # A 4-clique with a pendant chain: the 2-core is exactly the clique
    # (chain peels in two rounds), and within 3 rounds the truncated
    # peel reaches the fixpoint.
    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    chain = [(3, 8), (8, 9)]
    edges = spark.createDataFrame(clique + chain, ["src", "dst"])
    got = {(r.id, r.deg) for r in kcore_peel(edges, k=2, rounds=3).collect()}
    assert got == {(0, 3), (1, 3), (2, 3), (3, 3)}
    # k above the max degree empties the graph
    assert kcore_peel(edges, k=5, rounds=3).count() == 0
    # layout independence
    again = {
        (r.id, r.deg)
        for r in kcore_peel(
            spark.createDataFrame(clique + chain, ["src", "dst"]).repartition(9),
            k=2,
            rounds=3,
        ).collect()
    }
    assert again == got


def test_kruskal_wallis_hand_computed(spark, tmp_path):
    """a69 on a constructed events fixture matches the textbook formula:
    A=[1,2,3] (click) vs B=[2,3,4] (view) → ranks 1, 2.5, 2.5, 4.5,
    4.5, 6; R_A=8, R_B=13; H = 12/(6·7)·(64+169)/3 − 21 = 1.190476;
    ties 2×(2³−2)=12 → C = 1 − 12/210; H/C = 1.262626. Also pins the
    empty-group guard: three of the five type slots are absent and must
    contribute zero, not NULL."""
    import datetime

    from praw_etl_student_dropout_spark.plans import catalog_all

    rows = [
        (i, datetime.datetime(2000, 1, 1), 1, t, float(v), "{}")
        for i, (t, v) in enumerate(
            [("click", 1), ("click", 2), ("click", 3),
             ("view", 2), ("view", 3), ("view", 4)]
        )
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = catalog_all()["a69_kruskal_wallis"].builder(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0].asDict()
    assert (r["n1"], r["n5"]) == (3, 3)
    assert (r["n2"], r["n3"], r["n4"]) == (0, 0, 0)
    assert (r["r2_1"], r["r2_5"]) == (16, 26)  # doubled rank-sums
    assert r["h"] == 1.190476
    assert r["h_tie_corrected"] == 1.262626


def test_snapshot_asof_semantics(spark):
    """snapshot_asof on a hand-built changelog: last-op-wins state, a
    trailing tombstone hides the key, a key seen only as U exists, and
    a D tied with U at the same order position wins (I<U<D rank)."""
    from praw_etl_student_dropout_spark.operators.etl import snapshot_asof

    log = spark.createDataFrame(
        [
            # key 1: I then U -> present with the U payload
            (1, 10, "I", "a"), (1, 20, "U", "b"),
            # key 2: I then D -> absent
            (2, 10, "I", "x"), (2, 30, "D", "y"),
            # key 3: U only -> present (unlike compaction's replay view)
            (3, 15, "U", "c"),
            # key 4: D and U TIED at the same position -> delete wins
            (4, 10, "I", "p"), (4, 40, "U", "q"), (4, 40, "D", "r"),
        ],
        ["k", "seq", "op", "payload"],
    )
    got = {r.k: r.payload for r in snapshot_asof(log, "k", ["seq"]).collect()}
    assert got == {1: "b", 3: "c"}
    # layout independence
    again = {
        r.k: r.payload
        for r in snapshot_asof(log.repartition(7), "k", ["seq"]).collect()
    }
    assert again == got


def test_weighted_quantiles_hand_computed(spark, tmp_path):
    """a70 on a constructed lineitem: one cheap high-volume line (1.00
    x98) dominates the weighted CDF, so p25-p90 are 100 cents while the
    unweighted median would be 5000; p99 crosses into the 50.00 line."""
    from praw_etl_student_dropout_spark.plans import catalog_all

    import datetime

    ship = datetime.datetime(2000, 1, 1)
    df = spark.createDataFrame(
        [(1.00, 98.0, ship), (50.00, 1.0, ship), (100.00, 1.0, ship)],
        ["l_extendedprice", "l_quantity", "l_shipdate"],
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    out = {
        r.q: r.value_cents
        for r in catalog_all()["a70_weighted_quantiles"]
        .builder(spark, str(tmp_path))
        .collect()
    }
    assert out == {25: 100, 50: 100, 75: 100, 90: 100, 99: 5000}


def test_itemset_triples_hand_computed(spark, tmp_path):
    """q24 on a constructed basket table: 4 baskets, minsup =
    max(3, floor(4/5000)) = 3. Baskets 1-3 share {1,2,3} (support 3 =
    frequent); basket 4's {1,2,4} leaves pairs (1,4),(2,4) at support 1
    so Apriori prunes every triple containing 4. Also pins the
    category roll-up (part 201 ≡ item 1 inside basket 1 collapses
    under distinct) and duplicate-line dedup (basket 3 lists part 1
    twice)."""
    import datetime

    from praw_etl_student_dropout_spark.plans import catalog_all

    ship = datetime.datetime(2000, 1, 1)
    rows = [
        (k, p, ship)
        for k, p in [
            (1, 1), (1, 2), (1, 3), (1, 201),
            (2, 1), (2, 2), (2, 3),
            (3, 1), (3, 2), (3, 3), (3, 1),
            (4, 1), (4, 2), (4, 4),
        ]
    ]
    df = spark.createDataFrame(rows, ["l_orderkey", "l_partkey", "l_shipdate"])
    df.write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    out = [
        tuple(r)
        for r in catalog_all()["q24_itemset_triples"]
        .builder(spark, str(tmp_path))
        .collect()
    ]
    assert out == [(1, 2, 3, 3)]


def test_psi_drift_hand_computed(spark, tmp_path):
    """a71 on a constructed orders table: ref = 3×bin0 + 1×bin1,
    cur = 1×bin0 + 3×bin1 + 1×bin9 (price 600000 pins the least(...,9)
    cap). Textbook PSI terms: bin0 (0.2−0.75)·ln(0.2/0.75)=0.726966,
    bin1 (0.6−0.25)·ln(2.4)=0.306414, bin9 zero by the one-sided-bin
    convention (n_ref=0); total 1.033380 replicated per row."""
    import datetime

    from praw_etl_student_dropout_spark.plans import catalog_all

    ref_d = datetime.date(1997, 6, 1)
    cur_d = datetime.date(1998, 6, 1)
    rows = [
        (10000.0, ref_d), (10000.0, ref_d), (10000.0, ref_d),
        (70000.0, ref_d),
        (10000.0, cur_d),
        (70000.0, cur_d), (70000.0, cur_d), (70000.0, cur_d),
        (600000.0, cur_d),
    ]
    df = spark.createDataFrame(rows, ["o_totalprice", "o_orderdate"])
    df.write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    out = sorted(
        tuple(r)
        for r in catalog_all()["a71_psi_drift"]
        .builder(spark, str(tmp_path))
        .collect()
    )
    assert out == [
        (0, 3, 1, 0.726966, 1.03338),
        (1, 1, 3, 0.306414, 1.03338),
        (9, 0, 1, 0.0, 1.03338),
    ]


def test_snapshot_merge_delta_equals_full_asof(spark):
    """snapshot_merge_delta on a hand-built changelog split at T0=25:
    merge(snapshot_asof(<=T0), delta) == snapshot_asof(full) across
    every transition class — update in delta, delete in delta,
    insert-after-T0, untouched key, and a key tombstoned before T0 then
    re-inserted by the delta."""
    from praw_etl_student_dropout_spark.operators.etl import (
        snapshot_asof,
        snapshot_merge_delta,
    )

    rows = [
        # key 1: I@10 then delta U@30 -> delta payload
        (1, 10, "I", "a0"), (1, 30, "U", "a1"),
        # key 2: I@10 then delta D@40 -> gone
        (2, 10, "I", "b0"), (2, 40, "D", "b1"),
        # key 3: only in delta (I@35) -> inserted
        (3, 35, "I", "c0"),
        # key 4: untouched by delta -> T0 row passes through
        (4, 20, "U", "d0"),
        # key 5: tombstoned before T0 (D@15), re-inserted by delta
        (5, 5, "I", "e0"), (5, 15, "D", "e1"), (5, 45, "I", "e2"),
        # key 6: two delta rows, later one wins
        (6, 12, "I", "f0"), (6, 30, "U", "f1"), (6, 50, "U", "f2"),
    ]
    log = spark.createDataFrame(rows, ["k", "seq", "op", "payload"])
    t0 = 25
    snap0 = snapshot_asof(log.filter(F.col("seq") <= t0), "k", ["seq"])
    delta = log.filter(F.col("seq") > t0)
    merged = {
        r.k: (r.seq, r.payload)
        for r in snapshot_merge_delta(snap0, delta, "k", ["seq"]).collect()
    }
    full = {
        r.k: (r.seq, r.payload)
        for r in snapshot_asof(log, "k", ["seq"]).collect()
    }
    assert merged == full
    assert merged == {
        1: (30, "a1"), 3: (35, "c0"), 4: (20, "d0"),
        5: (45, "e2"), 6: (50, "f2"),
    }
    # empty delta: the snapshot passes through unchanged
    empty = spark.createDataFrame([], log.schema)
    again = {
        r.k: (r.seq, r.payload)
        for r in snapshot_merge_delta(snap0, empty, "k", ["seq"]).collect()
    }
    assert again == {
        r.k: (r.seq, r.payload) for r in snap0.collect()
    }


def test_association_rules_hand_computed(spark, tmp_path):
    """q25 on the q24 fixture: the single frequent triple {1,2,3}
    (n3=3) yields exactly its three rules; supports n2(1,2)=4,
    n2(1,3)=n2(2,3)=3, n1(1)=n1(2)=4, n1(3)=3, N=4 baskets —
    (1,2)->3: conf 3/4, lift (3·4)/(4·3)=1.0; (1,3)->2: conf 1.0,
    lift (3·4)/(3·4)=1.0; (2,3)->1: conf 1.0, lift 1.0."""
    import datetime

    from praw_etl_student_dropout_spark.plans import catalog_all

    ship = datetime.datetime(2000, 1, 1)
    rows = [
        (k, p, ship)
        for k, p in [
            (1, 1), (1, 2), (1, 3), (1, 201),
            (2, 1), (2, 2), (2, 3),
            (3, 1), (3, 2), (3, 3), (3, 1),
            (4, 1), (4, 2), (4, 4),
        ]
    ]
    df = spark.createDataFrame(rows, ["l_orderkey", "l_partkey", "l_shipdate"])
    df.write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    out = sorted(
        tuple(r)
        for r in catalog_all()["q25_association_rules"]
        .builder(spark, str(tmp_path))
        .collect()
    )
    assert out == [
        (1, 2, 3, 3, 4, 3, 0.75, 1.0),
        (1, 3, 2, 3, 3, 4, 1.0, 1.0),
        (2, 3, 1, 3, 3, 4, 1.0, 1.0),
    ]


def test_approx_percentile_contract_hand_computed(spark, tmp_path):
    """a72 on a constructed lineitem: flag 'A' holds prices 0.01..1.00
    (cents 1..100). quantile_cont targets: p50 = 50.5, p90 = 90.1,
    p99 = 99.01 (0-based rank p = q·99 interpolated). With accuracy
    1000 on 100 rows the sketch is exact, so every rank check holds."""
    rows = [("A", i / 100.0) for i in range(1, 101)]
    df = spark.createDataFrame(rows, ["l_returnflag", "l_extendedprice"])
    df.write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    from praw_etl_student_dropout_spark.plans import catalog_all

    [r] = (
        catalog_all()["a72_approx_percentile_contract"]
        .builder(spark, str(tmp_path))
        .collect()
    )
    assert r["l_returnflag"] == "A" and r["n"] == 100
    assert r["exact_p50"] == 50.5
    assert r["exact_p90"] == 90.1
    assert r["exact_p99"] == 99.01
    assert r["rank_ok_p50"] and r["rank_ok_p90"] and r["rank_ok_p99"]
