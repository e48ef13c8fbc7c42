"""Query catalog: every graded operator as (Spark builder, DuckDB oracle).

This is the engine's `__spark_entry__.py` surface (SURVEY.md §5.1): each
entry implements one operator family from the §2 inventory as an
idiomatic-Spark query over the driver fixture tables, paired with the
ANSI-SQL statement DuckDB runs on the same parquet for the differential
correctness gate. Oracle rules (SURVEY §7 watch-list):

- every computed column aliased identically on both sides;
- no order-dependent semantics (driver hash is order-insensitive);
- doubles only where both engines compute bit-identical values —
  aggregates are emitted as sums rounded at the decimal precision where
  the true value is exact (never avg-of-avg), plus exact counts;
- explicit pivot value lists so empty buckets don't change the schema.

Sub-catalogs register themselves on import: relational (this file),
text/LLM (catalog_text), dedup/similarity (catalog_llm), streaming-batch
(catalog_streaming).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.aggregations import (
    approx_distinct,
    distinct_values,
    group_count,
    grouped_cube,
    grouped_rollup,
    insight_summary,
    mode_of,
)
from ..operators.etl import build_dim, build_fact
from ..operators.joins import (
    anti_join_new_keys,
    broadcast_if_dim,
    join_on_keys,
    theta_join,
)
from ..operators.setops import dedup_by_key, except_keys, intersect_keys, union_all
from ..operators.windows import global_top_k, running_agg, top_k_per_group, with_lag
from ..sources.readers import load_tables
from .flagship import document_sentiment_pivot, enrich_documents, flagship_star_pivot


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → driver runs the weaker rows-only check
    family: str  # SURVEY.md §2 operator id(s)
    doc: str


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, family: str, oracle: str | None, doc: str = ""):
    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QuerySpec(name, fn, oracle, family, doc or (fn.__doc__ or ""))
        return fn

    return wrap


def _t(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return load_tables(spark, sf_dir, names)


# =====================================================================
# Flagship (J1 + P7 + A3 — the reference's signature star + pivot)
# =====================================================================

register(
    "flagship_star_pivot",
    "J1+A3",
    """
    SELECT r_name,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS cnt_f,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS cnt_o,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS cnt_p
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    doc="Star join (broadcast dims) + explicit-value pivot; etl_pipeline.py:144-149,183.",
)(flagship_star_pivot)


# --- shared DuckDB SQL fragments for the text pipeline -----------------
# (mirror functions/text.py exactly; used by several oracles)
# NOTE the alpha class here is spelled [a-zA-Z] while the Spark side
# (functions/text.py::CLEAN_PATTERN) uses \p{Alpha}: RE2 lacks \p{Alpha},
# and the JVM is 20x slower on the two-range form — same US-ASCII match
# set, hand-synchronized, pinned byte-equal by
# tests/test_udfs.py::test_clean_pattern_ascii_class_equivalence.
SQL_CLEAN = r"trim(lower(regexp_replace({col}, 'http\S+|www\S+|[^a-zA-Z\s]', '', 'g')))"
SQL_TOKS = r"regexp_split_to_array(trim({col}), '\s+')"
# Twin of functions/text.py::token_count — 0 for blank text, where a bare
# len(SQL_TOKS) counts the [''] split artifact as one token. Use this in
# every oracle whose Spark side counts tokens via token_count().
SQL_TOKEN_COUNT = (
    r"CASE WHEN trim({col}) = '' THEN 0 "
    r"ELSE len(regexp_split_to_array(trim({col}), '\s+')) END"
)


def _sql_hits(toks: str, words: list[str]) -> str:
    arr = "[" + ", ".join(f"'{w}'" for w in words) + "]"
    return f"len(list_filter({toks}, w -> list_contains({arr}, w)))"


def _sentiment_sql(col: str) -> str:
    from ..functions.text import NEG_WORDS, POS_WORDS

    toks = SQL_TOKS.format(col=col)
    pos = _sql_hits(toks, POS_WORDS)
    neg = _sql_hits(toks, NEG_WORDS)
    n = f"greatest(len({toks}), 1)"
    return f"(({pos}) - ({neg})) * 1.0 / ({n})"


# Sentiment/flag oracles score the CLEANED text, mirroring the reference's
# clean→score→flag ordering (etl_pipeline.py:77-80) and flagship.enrich_documents.
_DOC_CLEAN_SQL = SQL_CLEAN.format(col="text")
_DOC_LABEL_SQL = f"""
    CASE WHEN {_sentiment_sql(_DOC_CLEAN_SQL)} > 0.1 THEN 'positive'
         WHEN {_sentiment_sql(_DOC_CLEAN_SQL)} < -0.1 THEN 'negative'
         ELSE 'neutral' END
"""

register(
    "doc_sentiment_pivot",
    "U2+P7+A3",
    f"""
    WITH labeled AS (SELECT source, {_DOC_LABEL_SQL} AS lbl FROM documents)
    SELECT source,
           count(*) FILTER (WHERE lbl = 'positive') AS n_positive,
           count(*) FILTER (WHERE lbl = 'negative') AS n_negative,
           count(*) FILTER (WHERE lbl = 'neutral')  AS n_neutral
    FROM labeled GROUP BY source
    """,
    doc="Deterministic lexicon sentiment + 3-way CASE bucket + pivot; etl_pipeline.py:78-79,183.",
)(document_sentiment_pivot)


# =====================================================================
# P/F — projections, predicates, scalar functions
# =====================================================================


@register(
    "p1_project_clean",
    "P1+F1+F2+U1",
    f"""
    SELECT doc_id,
           {SQL_CLEAN.format(col='text')} AS clean_text,
           CAST(len({SQL_TOKS.format(col='text')}) AS INTEGER) AS n_tokens
    FROM documents
    """,
    doc="Projection + regex clean chain as native expressions (no UDF); etl_pipeline.py:73-77.",
)
def p1_project_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import clean_text, tokens

    docs = _t(spark, sf_dir, "documents")["documents"]
    return docs.select(
        "doc_id",
        clean_text(F.col("text")).alias("clean_text"),
        F.size(tokens(F.col("text"))).alias("n_tokens"),
    )


@register(
    "p3_regex_flag",
    "P3",
    r"""
    SELECT doc_id,
           coalesce(regexp_matches(text, '(?i)drop[\s-]?out|dropped out'), false) AS dropout_mentioned,
           coalesce(regexp_matches(text, '(?i)spark\s+join'), false) AS sparkjoin_mentioned
    FROM documents
    """,
    doc="Regex boolean predicate with na=False semantics; etl_pipeline.py:80.",
)
def p3_regex_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import dropout_mentioned

    docs = _t(spark, sf_dir, "documents")["documents"]
    return docs.select(
        "doc_id",
        dropout_mentioned(F.col("text")).alias("dropout_mentioned"),
        F.coalesce(F.col("text").rlike(r"(?i)spark\s+join"), F.lit(False)).alias(
            "sparkjoin_mentioned"
        ),
    )


@register(
    "p7_case_bucket",
    "P6+P7",
    """
    SELECT CASE WHEN l_discount > 0.06 THEN 'high'
                WHEN l_discount < 0.02 THEN 'low'
                ELSE 'mid' END AS discount_band,
           count(*) AS cnt,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem GROUP BY discount_band
    """,
    doc="3-way CASE WHEN bucketing (the sentiment-label pattern); etl_pipeline.py:79,152-154.",
)
def p7_case_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    band = (
        F.when(F.col("l_discount") > 0.06, "high")
        .when(F.col("l_discount") < 0.02, "low")
        .otherwise("mid")
    )
    return (
        li.groupBy(band.alias("discount_band"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


@register(
    "f5_year_extract",
    "F4+F5+P6",
    """
    SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
           CAST(month(o_orderdate) AS INTEGER) AS o_month,
           count(*) AS cnt, round(sum(o_totalprice), 2) AS sum_price
    FROM orders GROUP BY o_year, o_month
    """,
    doc="Timestamp part extraction + cast; etl_pipeline.py:81,155 (UTC session, SURVEY §7).",
)
def f5_year_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    return (
        o.groupBy(
            F.year("o_orderdate").alias("o_year"), F.month("o_orderdate").alias("o_month")
        ).agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("o_totalprice"), 2).alias("sum_price"))
    )


@register(
    "f9_json_extract",
    "F9",
    """
    SELECT event_type,
           CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
           count(props->>'$.k') AS n_k
    FROM events GROUP BY event_type
    """,
    doc="JSON path extraction from the events.props string column.",
)
def f9_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"), F.count(k).alias("n_k")
    )


@register(
    "f9b_variant_extract",
    "F9",
    """
    SELECT event_id,
           CAST(props->>'$.k' AS BIGINT) AS k_val,
           props->>'$.absent' AS absent_val
    FROM events WHERE event_id < 1500
    """,
    doc="VARIANT-typed semi-structured access: parse_json once into a "
    "binary variant, then try_variant_get typed path extraction — the "
    "open-schema counterpart of from_json's fixed StructType; missing "
    "paths yield NULL instead of failing the row.",
)
def f9b_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    v = F.parse_json("props")
    return ev.filter(F.col("event_id") < 1500).select(
        "event_id",
        F.try_variant_get(v, "$.k", "bigint").alias("k_val"),
        F.try_variant_get(v, "$.absent", "string").alias("absent_val"),
    )


@register(
    "f11_regex_extract_all",
    "F1+F11",
    """
    SELECT doc_id,
           coalesce(array_to_string(regexp_extract_all(text, '[A-Z][a-z]+', 0), '|'), '')
             AS caps,
           CAST(len(regexp_extract_all(text, '[0-9]+', 0)) AS INTEGER) AS n_numbers,
           substr(text, 1, 40) AS head40
    FROM documents WHERE doc_id % 11 = 0
    """,
    doc="Multi-match regex extraction (regexp_extract_all) + substring — "
    "the extraction-side complement of F1's regexp_replace. Match arrays "
    "are emitted pipe-joined: Spark renders an empty match set as '' "
    "while DuckDB's array_to_string yields NULL, so the oracle coalesces "
    "(group index passed explicitly — Spark defaults idx=1, DuckDB 0).",
)
def f11_regex_extract_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    return docs.filter(F.col("doc_id") % 11 == 0).select(
        "doc_id",
        F.array_join(F.regexp_extract_all("text", F.lit("[A-Z][a-z]+"), 0), "|").alias("caps"),
        F.size(F.regexp_extract_all("text", F.lit("[0-9]+"), 0)).alias("n_numbers"),
        F.substring("text", 1, 40).alias("head40"),
    )


@register(
    "f10_array_dot",
    "F10",
    """
    SELECT vec_id,
           round(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]), 6) AS norm_sq,
           CAST(len(embedding) AS INTEGER) AS dim
    FROM embeddings
    """,
    doc="Array math over embedding columns via zip_with/aggregate (codegen, no UDF).",
)
def f10_array_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.arrays import dot_product

    e = _t(spark, sf_dir, "embeddings")["embeddings"]
    return e.select(
        "vec_id",
        F.round(dot_product(F.col("embedding"), F.col("embedding")), 6).alias("norm_sq"),
        F.size("embedding").alias("dim"),
    )


# =====================================================================
# A — aggregations
# =====================================================================


@register(
    "a1_group_count",
    "A1",
    "SELECT l_returnflag, count(*) AS cnt FROM lineitem GROUP BY l_returnflag",
    doc="Single-key GROUP BY count (sentiment distribution); etl_pipeline.py:163.",
)
def a1_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return group_count(_t(spark, sf_dir, "lineitem")["lineitem"], "l_returnflag", name="cnt")


@register(
    "a2_group_count_2key",
    "A2",
    """
    SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, o_orderstatus, count(*) AS cnt
    FROM orders GROUP BY o_year, o_orderstatus
    """,
    doc="Two-key GROUP BY count (year × flag); etl_pipeline.py:173.",
)
def a2_group_count_2key(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    return group_count(
        o.select(F.year("o_orderdate").alias("o_year"), "o_orderstatus"),
        "o_year",
        "o_orderstatus",
        name="cnt",
    )


@register(
    "a4_q1_pricing_summary",
    "A1-A9",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           count(*) AS count_order,
           count(DISTINCT l_orderkey) AS n_orders
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Multi-aggregate single-pass summary (TPC-H Q1 shape): map-side partial agg, "
    "sums emitted at exact decimal precision (SURVEY §7 float watch-list).",
)
def a4_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "sum_disc_price"
            ),
            F.count(F.lit(1)).alias("count_order"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
    )


@register(
    "a6_insight_summary",
    "A4+A5+A6",
    f"""
    WITH labeled AS (
      SELECT {_DOC_LABEL_SQL} AS lbl,
             coalesce(regexp_matches({_DOC_CLEAN_SQL}, '(?i)drop[\\s-]?out|dropped out'), false) AS flagged
      FROM documents
    )
    SELECT count(*) AS total_rows,
           CAST(sum(CAST(flagged AS INT)) AS BIGINT) AS flag_count,
           round(avg(CASE WHEN lbl = 'neutral' THEN 1.0 ELSE 0.0 END) * 100, 2) AS neutral_pct
    FROM labeled
    """,
    doc="The reference's 5-scan insight block as ONE pass; etl_pipeline.py:194-198.",
)
def a6_insight_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = enrich_documents(_t(spark, sf_dir, "documents")["documents"])
    return insight_summary(docs, "sentiment_label", "dropout_mentioned", "year", "source")


@register(
    "a7_mode",
    "A7+T4",
    """
    SELECT o_orderpriority, count(*) AS cnt
    FROM orders GROUP BY o_orderpriority
    ORDER BY cnt DESC, o_orderpriority ASC LIMIT 1
    """,
    doc="Top-1 group (idxmax) with deterministic tiebreak; etl_pipeline.py:197-198.",
)
def a7_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mode_of(_t(spark, sf_dir, "orders")["orders"], "o_orderpriority", count_name="cnt")


@register(
    "a8_distinct",
    "A8",
    "SELECT DISTINCT c_mktsegment FROM customer",
    doc="Distinct values (df['col'].unique()); etl_pipeline.py:96,104.",
)
def a8_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return distinct_values(_t(spark, sf_dir, "customer")["customer"], "c_mktsegment")


@register(
    "a10_rollup",
    "A10",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="ROLLUP subtotal hierarchy.",
)
def a10_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return grouped_rollup(
        li,
        ["l_returnflag", "l_linestatus"],
        [F.count(F.lit(1)).alias("cnt"), F.round(F.sum("l_quantity"), 2).alias("sum_qty")],
    )


@register(
    "a10_cube",
    "A10",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE over all grouping-set combinations.",
)
def a10_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    return grouped_cube(o, ["o_orderstatus", "o_orderpriority"], [F.count(F.lit(1)).alias("cnt")])


@register(
    "a11_approx_distinct",
    "A11",
    """
    SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_distinct,
           TRUE AS within_3rsd
    FROM orders
    """,
    doc="HyperLogLog++ distinct estimate — the 100 TB distinct-count — "
    "contract-graded (the a17/ivfpq pattern, r8 rows-only whittling): "
    "the sketch estimate itself is engine-specific and stays internal; "
    "the grade value-matches the EXACT distinct count both engines "
    "compute and pins the accuracy contract |est−exact|/exact ≤ 3·rsd "
    "(rsd=0.01 ⇒ 3%). The estimate-vs-exact bound also stays pytest-"
    "pinned. Production path unchanged: approx_count_distinct's "
    "fixed-size per-partition sketch state instead of a giant exact "
    "shuffle (operators/aggregations.py::approx_distinct).",
)
def a11_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")["orders"]
    both = orders.agg(
        F.approx_count_distinct("o_custkey", 0.01).alias("est"),
        F.countDistinct("o_custkey").cast("long").alias("exact_distinct"),
    )
    return both.select(
        "exact_distinct",
        (
            F.abs(F.col("est") - F.col("exact_distinct"))
            / F.col("exact_distinct").cast("double")
            <= 0.03
        ).alias("within_3rsd"),
    )


@register(
    "a11b_hll_sketch_union",
    "A11",
    """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_bound
    FROM events GROUP BY 1
    UNION ALL
    SELECT 'ALL', CAST(count(DISTINCT user_id) AS BIGINT), TRUE
    FROM events
    """,
    doc="Mergeable HLL sketches (Datasketches): one sketch of user_id per "
    "event_type, estimates read per group, then hll_union_agg folds the "
    "group sketches into a corpus-wide estimate WITHOUT rescanning "
    "events — the precompute-partials/merge-later pattern that makes "
    "incremental distinct-counts at 100 TB a metadata-sized merge. "
    "Contract-graded (r8): sketch bytes/estimates are engine-specific "
    "and stay internal; the grade value-matches the EXACT per-type and "
    "corpus distinct counts and pins |est−exact|/exact ≤ 5% (3σ at the "
    "default lgK=12) for every row INCLUDING the union row — so a "
    "driver grade proves the merge path's accuracy, not just the "
    "per-group sketches'.",
)
def a11b_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    sketches = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").cast("long").alias("exact_users"),
    )
    per_type = sketches.select(
        "event_type", F.hll_sketch_estimate("sk").alias("est"), "exact_users"
    )
    overall = (
        sketches.agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .crossJoin(
            F.broadcast(
                ev.agg(F.countDistinct("user_id").cast("long").alias("exact_users"))
            )
        )
        .select(F.lit("ALL").alias("event_type"), "est", "exact_users")
    )
    return per_type.unionByName(overall).select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users"))
            / F.col("exact_users").cast("double")
            <= 0.05
        ).alias("within_bound"),
    )


# =====================================================================
# J — joins
# =====================================================================


@register(
    "j1_star_join_agg",
    "J1",
    """
    SELECT r_name, n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
    doc="3-way star equi-join, tiny dims broadcast; etl_pipeline.py:144-149.",
)
def j1_star_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "orders", "customer", "nation", "region")
    joined = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return joined.groupBy("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("revenue")
    )


@register(
    "j2_surrogate_key_swap",
    "J2",
    """
    WITH dim AS (
      SELECT CAST(dense_rank() OVER (ORDER BY c_mktsegment) AS INTEGER) AS segment_id, c_mktsegment
      FROM (SELECT DISTINCT c_mktsegment FROM customer)
    )
    SELECT d.segment_id, count(*) AS n_customers, round(sum(c.c_acctbal), 2) AS sum_bal
    FROM customer c JOIN dim d ON c.c_mktsegment = d.c_mktsegment
    GROUP BY d.segment_id
    """,
    doc="Natural→surrogate key swap via broadcast join (replaces iterrows+dict, "
    "etl_pipeline.py:95-119); deterministic dense_rank surrogate keys.",
)
def j2_surrogate_key_swap(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")["customer"]
    dim = build_dim(c, "c_mktsegment", "segment_id")
    fact = build_fact(
        c,
        [(dim, "c_mktsegment", "c_mktsegment", "segment_id")],
        ["c_custkey", "c_acctbal", "segment_id"],
    )
    return fact.groupBy("segment_id").agg(
        F.count(F.lit(1)).alias("n_customers"), F.round(F.sum("c_acctbal"), 2).alias("sum_bal")
    )


@register(
    "j3_anti_join",
    "J3",
    """
    SELECT c_mktsegment, count(*) AS n_no_orders
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= DATE '2000-01-01')
    GROUP BY c_mktsegment
    """,
    doc="Left-anti join — the distributed INSERT IGNORE; "
    "etl_pipeline.py:97,106,122. Customers with NO orders since "
    "2000-01-01 (lapsed accounts): the unfiltered form graded 0 rows at "
    "every SF because all fixture customers have orders — a 0=0 match "
    "proves agreement on emptiness, not anti-join semantics (r13 "
    "VERDICT #3) — so the probe side is date-pruned to leave survivors "
    "(14 of 150 customers at sf0.001, 135 of 1500 at sf0.01). The "
    "filter also PRUNES the fact side before the anti join's shuffle, "
    "the shape a real lapsed-customer query ships.",
)
def j3_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "orders")
    recent = (
        t["orders"]
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("date"))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    no_orders = anti_join_new_keys(t["customer"], recent, ["c_custkey"])
    return no_orders.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n_no_orders"))


@register(
    "j4_left_join",
    "J4",
    """
    SELECT c_custkey, count(o_orderkey) AS n_orders,
           round(coalesce(sum(o_totalprice), 0), 2) AS revenue
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
    doc="Left outer join preserving order-less customers.",
)
def j4_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "orders")
    j = t["customer"].join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left")
    return j.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("n_orders"),
        F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("revenue"),
    )


@register(
    "j4_semi_join",
    "J4",
    """
    SELECT c_mktsegment, count(*) AS n_big_spenders
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    GROUP BY c_mktsegment
    """,
    doc="Left-semi join (EXISTS).",
)
def j4_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "orders")
    big = t["orders"].filter(F.col("o_totalprice") > 400000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    semi = join_on_keys(t["customer"], big, ["c_custkey"], how="left_semi")
    return semi.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n_big_spenders"))


@register(
    "j4_full_outer",
    "J4",
    """
    WITH c AS (SELECT c_nationkey AS nationkey, count(*) AS n_customers
               FROM customer GROUP BY c_nationkey),
         s AS (SELECT s_nationkey AS nationkey, count(*) AS n_suppliers
               FROM supplier GROUP BY s_nationkey)
    SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
           coalesce(n_customers, 0) AS n_customers,
           coalesce(n_suppliers, 0) AS n_suppliers
    FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
    """,
    doc="Full outer join of two aggregates.",
)
def j4_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "supplier")
    c = t["customer"].groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    s = t["supplier"].groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_suppliers")
    )
    j = c.join(s, on="nationkey", how="full_outer")
    return j.select(
        "nationkey",
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
    )


@register(
    "j4_theta_join",
    "J4",
    """
    SELECT a.n_name AS nation_a, b.n_name AS nation_b, a.n_regionkey AS regionkey
    FROM nation a JOIN nation b
      ON a.n_regionkey = b.n_regionkey AND a.n_name < b.n_name
    """,
    doc="Non-equi (theta) join — same-region nation pairs.",
)
def j4_theta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _t(spark, sf_dir, "nation")["nation"]
    a, b = n.alias("a"), n.alias("b")
    out = theta_join(
        a,
        F.broadcast(b),
        (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
        & (F.col("a.n_name") < F.col("b.n_name")),
    )
    return out.select(
        F.col("a.n_name").alias("nation_a"),
        F.col("b.n_name").alias("nation_b"),
        F.col("a.n_regionkey").alias("regionkey"),
    )


# =====================================================================
# W/T — windows, sorts, top-k
# =====================================================================


@register(
    "w1_topk_per_group",
    "W1+T4",
    """
    SELECT c_custkey, o_orderkey, o_totalprice, rn
    FROM (
      SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
    doc="Per-group top-k via row_number (scalable idxmax); etl_pipeline.py:197-198.",
)
def w1_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    top = top_k_per_group(
        o.select(F.col("o_custkey").alias("c_custkey"), "o_orderkey", "o_totalprice"),
        partition_by=["c_custkey"],
        order_by=[F.desc("o_totalprice"), F.asc("o_orderkey")],
        k=3,
        rank_name="rn",
    )
    return top.select("c_custkey", "o_orderkey", "o_totalprice", "rn")


@register(
    "w2_lag_delta",
    "W2",
    """
    SELECT event_id, user_id, value,
           lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
    FROM events
    """,
    doc="lag() analytic window — per-user previous value in time order.",
)
def w2_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    out = with_lag(
        ev,
        partition_by=["user_id"],
        order_by=[F.asc("ts"), F.asc("event_id")],
        col="value",
        name="prev_value",
    )
    return out.select("event_id", "user_id", "value", "prev_value")


@register(
    "w3_running_sum",
    "W3",
    """
    SELECT event_id, user_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS running_value
    FROM events
    """,
    doc="Frame-spec running aggregate (both engines accumulate left-to-right "
    "in frame order; rounded at the exact 2-decimal precision of the data).",
)
def w3_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    out = running_agg(
        ev,
        partition_by=["user_id"],
        order_by=[F.asc("ts"), F.asc("event_id")],
        agg_col="value",
        name="__rs",
    )
    return out.select("event_id", "user_id", F.round("__rs", 2).alias("running_value"))


@register(
    "t3_global_topk",
    "T3",
    """
    SELECT event_id, ts, event_type FROM events
    ORDER BY ts DESC, event_id DESC LIMIT 100
    """,
    doc="Newest-first capped scan (sort='new' limit; etl_pipeline.py:48) — "
    "physically TakeOrderedAndProject, never a full sort.",
)
def t3_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    return global_top_k(
        ev.select("event_id", "ts", "event_type"),
        order_by=[F.desc("ts"), F.desc("event_id")],
        k=100,
    )


# =====================================================================
# D — set ops & exact dedup
# =====================================================================


@register(
    "d1_union",
    "D1",
    """
    SELECT src, count(*) AS cnt FROM (
      SELECT 'auto' AS src, c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
      UNION ALL
      SELECT 'bld' AS src, c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    ) GROUP BY src
    """,
    doc="Union of per-branch result sets (the extract accumulation loop; "
    "etl_pipeline.py:44-57) — plan-level unionByName, no materialization.",
)
def d1_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")["customer"]
    auto = c.filter(F.col("c_mktsegment") == "AUTOMOBILE").select(
        F.lit("auto").alias("src"), "c_custkey"
    )
    bld = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.lit("bld").alias("src"), "c_custkey"
    )
    return union_all([auto, bld]).groupBy("src").agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "d2_dedup_by_key",
    "D2",
    """
    SELECT l_returnflag, count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty
    FROM (
      SELECT *, row_number() OVER (PARTITION BY l_orderkey
                                   ORDER BY l_linenumber, l_partkey, l_suppkey,
                                            l_quantity, l_extendedprice) AS rn
      FROM lineitem
    ) WHERE rn = 1 GROUP BY l_returnflag
    """,
    doc="Exact dedup by key with deterministic survivor (seen_ids / INSERT "
    "IGNORE with explicit tiebreak; etl_pipeline.py:41,49-50,122).",
)
def d2_dedup_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    # (l_orderkey, l_linenumber) is NOT unique in the fixture — the
    # tiebreak must be a total order for a deterministic survivor
    # (SURVEY §7: INSERT IGNORE winner is explicit here).
    # Project BEFORE dedup: min_by's row struct references every column it
    # is given, so Catalyst cannot prune through it — the query, not the
    # operator, decides what the survivor carries (7 of 16 cols ≈ half
    # the shuffle bytes here; at 100 TB the difference is the shuffle).
    # Round-15 (guide §2.3, narrower types): l_linenumber is 1..7 and
    # l_quantity an integer 1..50 BY THE DATA CONTRACT (TPC-H; the a12
    # integer-valued-quantity precedent), at every scale factor — so both
    # ride the agg-buffer struct as ints (same ordering, same survivor;
    # the sum casts each value back to double, reproducing the original
    # IEEE accumulation exactly). Columns that GROW with SF (orderkey,
    # partkey, suppkey) stay long — narrowing them is not provably safe.
    # Interleaved min-of-5 ×3 rounds: 0.84-0.97 -> 0.77-0.84 s at
    # sf0.1-local[32]; shuffle 30.6 B/record before (4.5 MB total,
    # `git show 443f299:tools/r15_shuffle_bytes.py`), values identical.
    needed = li.select(
        "l_orderkey",
        F.col("l_linenumber").cast("int").alias("l_linenumber"),
        "l_partkey", "l_suppkey",
        F.col("l_quantity").cast("int").alias("l_quantity"),
        "l_extendedprice", "l_returnflag",
    )
    first_lines = dedup_by_key(
        needed,
        ["l_orderkey"],
        tiebreak=["l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"],
    )
    return first_lines.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum(F.col("l_quantity").cast("double")), 2).alias("sum_qty"),
    )


@register(
    "d4_intersect",
    "D4",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
    doc="INTERSECT (distinct semantics).",
)
def d4_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "supplier")
    return intersect_keys(
        t["customer"].select(F.col("c_nationkey").alias("nationkey")),
        t["supplier"].select(F.col("s_nationkey").alias("nationkey")),
    )


@register(
    "d4_except",
    "D4",
    """
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier
    """,
    doc="EXCEPT — nations with customers but no suppliers.",
)
def d4_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "supplier")
    return except_keys(
        t["customer"].select(F.col("c_nationkey").alias("nationkey")),
        t["supplier"].select(F.col("s_nationkey").alias("nationkey")),
    )


# =====================================================================
# Coverage completions: P4/P6/P8, F4/F6/F7/F8, T2, U5
# =====================================================================


@register(
    "p4_keyword_filter",
    "P4",
    """
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE contains(lower(text), 'spark') AND n_chars >= 100
    """,
    doc="Keyword/text row filter (the reference's server-side search, "
    "etl_pipeline.py:48) — both predicates reach the parquet scan "
    "(contains → string pushdown candidate; n_chars → min/max pruning).",
)
def p4_keyword_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    return docs.filter(
        F.lower(F.col("text")).contains("spark") & (F.col("n_chars") >= 100)
    ).select("doc_id", "lang", "n_chars")


@register(
    "p6_p8_cast_fill",
    "P6+P8",
    """
    SELECT o_orderkey,
           CAST(trunc(o_totalprice) AS INT) AS price_int,
           CAST(year(o_orderdate) AS INT) AS order_year,
           coalesce(CAST(NULLIF(o_orderstatus, 'P') AS VARCHAR), 'none') AS status_filled
    FROM orders
    """,
    doc="Cast + null-fill (astype(int) etl_pipeline.py:155; fillna "
    "etl_pipeline.py:183): truncating double→int cast and na.fill on a "
    "nulled-out column.",
)
def p6_p8_cast_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")["orders"]
    out = orders.select(
        "o_orderkey",
        F.col("o_totalprice").cast("int").alias("price_int"),
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.when(F.col("o_orderstatus") == "P", None)
        .otherwise(F.col("o_orderstatus"))
        .alias("status_filled"),
    )
    return out.na.fill({"status_filled": "none"})


@register(
    "f4_f6_epoch_datefmt",
    "F4+F6",
    """
    SELECT event_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS unix_sec,
           strftime(make_timestamp(CAST(floor(epoch(ts)) AS BIGINT) * 1000000),
                    '%Y-%m-%d %H:%M:%S') AS ts_formatted,
           CAST(year(ts) AS INT) AS y
    FROM events
    WHERE event_id < 1000
    """,
    doc="Epoch seconds round-trip + date formatting (datetime.fromtimestamp "
    "etl_pipeline.py:54; strftime backup naming etl_pipeline.py:68). The "
    "oracle builds a NAIVE timestamp from epoch micros (make_timestamp) "
    "rather than to_timestamp, whose TIMESTAMPTZ renders in DuckDB's "
    "session timezone — host-tz-proof, matching Spark's UTC session.",
)
def f4_f6_epoch_datefmt(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    unix_sec = F.unix_timestamp("ts")
    return ev.filter(F.col("event_id") < 1000).select(
        "event_id",
        unix_sec.alias("unix_sec"),
        F.date_format(F.timestamp_seconds(unix_sec), "yyyy-MM-dd HH:mm:ss").alias(
            "ts_formatted"
        ),
        F.year("ts").cast("int").alias("y"),
    )


@register(
    "f7_f8_round_arith",
    "F7+F8",
    """
    SELECT l_returnflag,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           round(100.0 * sum(CAST(l_quantity >= 25 AS INT)) / count(*), 2) AS pct_bulk
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="round(x,2) + percentage arithmetic (insight ratios, "
    "etl_pipeline.py:196,202) as a single-pass grouped aggregate.",
)
def f7_f8_round_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return li.groupBy("l_returnflag").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.round(
            100.0
            * F.sum((F.col("l_quantity") >= 25).cast("int"))
            / F.count(F.lit(1)),
            2,
        ).alias("pct_bulk"),
    )


@register(
    "t2_sorted_distinct",
    "T1+T2+A8",
    """
    SELECT DISTINCT CAST(year(o_orderdate) AS INTEGER) AS order_year FROM orders
    """,
    doc="Sorted distinct (sorted(df['year'].unique()), etl_pipeline.py:159). "
    "The driver hash is order-insensitive, so the graded artifact is the "
    "distinct set; orderBy exercises the sort operator in-plan.",
)
def t2_sorted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")["orders"]
    return (
        orders.select(F.year("o_orderdate").alias("order_year"))
        .distinct()
        .orderBy("order_year")
    )


@register(
    "u5_grouped_udaf",
    "U5",
    """
    SELECT l_returnflag,
           sum(l_quantity * l_linenumber) / sum(l_linenumber) AS wmean_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Grouped-agg pandas UDAF (weighted mean) — the custom-aggregate "
    "surface (SURVEY §2.9 U5). Values and weights are integer-valued, so "
    "sums are exact in double and the single final division is "
    "bit-deterministic, making a Python UDAF oracle-checkable.",
)
def u5_grouped_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.udfs import grouped_weighted_mean

    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return li.groupBy("l_returnflag").agg(
        grouped_weighted_mean(
            F.col("l_quantity"), F.col("l_linenumber").cast("double")
        ).alias("wmean_qty")
    )


@register(
    "a12_percentiles",
    "A12",
    """
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS q25,
           quantile_cont(l_quantity, 0.50) AS q50,
           quantile_cont(l_quantity, 0.75) AS q75,
           count(*) AS cnt
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Exact grouped percentiles (linear interpolation). Quantity values "
    "are integer-valued doubles, so interpolation at quartile fractions is "
    "exact in binary and both engines agree bit-for-bit. The approximate "
    "(sketch) path for 100 TB is approx_percentile — same plan shape, "
    "mergeable state; the exact form is the oracle-checkable twin.",
)
def a12_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.25)").alias("q25"),
        F.expr("percentile(l_quantity, 0.50)").alias("q50"),
        F.expr("percentile(l_quantity, 0.75)").alias("q75"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "q3_shipping_priority",
    "J1+A4+T3",
    """
    SELECT o_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(o_orderdate AS DATE) AS order_date,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY o_orderkey, order_date, o_orderpriority
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
    """,
    doc="TPC-H Q3 shape: selective dim filter -> two-key join chain -> "
    "grouped revenue -> global top-10. Tiebreak on o_orderkey after the "
    "2-dp rounded revenue keeps the LIMIT deterministic across engines. "
    "Physically: filter pushdown on mktsegment, broadcast customer, "
    "TakeOrderedAndProject for the limit.",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import _spread

    t = _t(spark, sf_dir, "customer", "orders", "lineitem")
    # Round-14 (guide §2.5/§3.1): the single-row-group fixture scan made
    # Catalyst broadcast the column-pruned 600k-row lineitem (its 3-col
    # estimate squeaks under 10 MB) and build that hash relation in ONE
    # task. Spreading the fact stream (no-op when the scan has enough
    # splits) both parallelizes the probe work and gives AQE a real
    # post-shuffle size, so it builds on the genuinely smaller
    # customer⋈orders side. 0.910 -> 0.784 s at sf0.1-local[32], values
    # identical (probe in OPTIMIZATION_r14.md).
    li = _spread(
        t["lineitem"].select("l_orderkey", "l_extendedprice", "l_discount"),
        "l_orderkey",
    )
    joined = (
        t["customer"]
        .filter(F.col("c_mktsegment") == "BUILDING")
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
    )
    return (
        joined.groupBy(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_orderpriority",
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "revenue", "order_date", "o_orderpriority")
    )


@register(
    "q5_region_volume",
    "J1+J4+A4",
    """
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_lineitems
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
    doc="TPC-H Q5 shape: six-table join with a two-column join condition "
    "(local supplier: same nation as customer) and a region filter that "
    "prunes through two broadcast dims before the fact tables join. "
    "JOIN ORDER IS HAND-PUSHED (round 8): Catalyst without CBO stats "
    "keeps the written order, and the naive customer→orders→lineitem "
    "chain shuffles BOTH full fact tables before the selective "
    "ASIA-supplier join ever cuts a row — the r8 headline scale probe "
    "caught the ratio RISING with data (9.8→15.9× at 1→32×; DuckDB "
    "reorders, Spark didn't). Here the region filter reaches both fact "
    "scans first: ASIA nations broadcast into supplier and customer, "
    "the filtered supplier broadcasts into lineitem (1/|regions| of "
    "rows survive before any exchange), and the one fact-fact shuffle "
    "moves only the surviving fifth, projected narrow. Same inner-join "
    "semantics, same oracle; 3.34 → 1.84 s at 32× (ratio 15.9 → ~8.6, "
    "falling with scale again) — variant search and the per-core floor "
    "decomposition in BASELINE §round-8-q5.",
)
def q5_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "orders", "lineitem", "supplier", "nation", "region")
    asia = (
        t["nation"]
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .select("n_nationkey", "n_name")
    )
    sup = (
        t["supplier"]
        .join(F.broadcast(asia), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    cust = (
        t["customer"]
        .join(
            F.broadcast(asia.select("n_nationkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "c_nationkey")
    )
    # Round-14 probe (guide §2.5): spreading the two fact streams before
    # their broadcast probes was MEASURED SLOWER (q5 0.55-0.58 s current
    # vs 0.78-0.97 s spread, same-session interleaved min-of-5) — unlike
    # q3, no pathological build side exists here, so the extra exchange
    # is pure cost. Left as-is; evidence in OPTIMIZATION_r14.md.
    li = (
        t["lineitem"]
        .join(broadcast_if_dim(sup, bounded=False, why="supplier slice, SF-proportional"), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("l_orderkey", "l_extendedprice", "l_discount", "s_nationkey", "n_name")
    )
    ords = (
        t["orders"]
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "c_nationkey")
    )
    joined = li.join(
        ords,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("c_nationkey") == F.col("s_nationkey")),
    )
    return joined.groupBy("n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


@register(
    "w2_sessionize",
    "W2+W3",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER w <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END
               AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           CAST(max(session_id) AS BIGINT) AS n_sessions,
           CAST(max(cnt) AS BIGINT) AS max_session_len
    FROM (
      SELECT user_id, session_id, count(*) AS cnt
      FROM sessions GROUP BY user_id, session_id
    ) GROUP BY user_id
    """,
    doc="Classic lag+cumulative-sum sessionization (the analytic-window "
    "composition session_window() replaces): gap>30min starts a session; "
    "ties broken by event_id for a total order. One shuffle on user_id "
    "serves both window passes and the final aggregate.",
)
def w2_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.lag(F.unix_micros(F.col("ts").cast("timestamp"))).over(w)
            <= 1800 * 1_000_000,
            0,
        )
        .otherwise(1)
        .alias("new_session"),
    )
    cum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sessions = flagged.select(
        "user_id", "ts", F.sum("new_session").over(cum).alias("session_id")
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return per_session.groupBy("user_id").agg(
        F.max("session_id").cast("long").alias("n_sessions"),
        F.max("cnt").cast("long").alias("max_session_len"),
    )


@register(
    "u2_sentiment_pandas_udf",
    "U2",
    f"""
    SELECT doc_id,
           round({_sentiment_sql(SQL_CLEAN.format(col='text'))}, 6) AS sentiment
    FROM documents
    """,
    doc="The sentiment UDF boundary itself, graded: Arrow-batched pandas "
    "UDF (lexicon scorer, TextBlob-swappable) over cleaned text, vs the "
    "identical arithmetic in SQL. Integer hit counts divided once keep "
    "the doubles bit-comparable.",
)
def u2_sentiment_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import clean_text
    from ..functions.udfs import lexicon_sentiment_udf

    docs = _t(spark, sf_dir, "documents")["documents"]
    return docs.select(
        "doc_id",
        F.round(lexicon_sentiment_udf(clean_text(F.col("text"))), 6).alias("sentiment"),
    )


@register(
    "sql_interface_star",
    "J1+A2+SQL",
    """
    SELECT n_name, o_orderstatus, count(*) AS cnt
    FROM orders JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name, o_orderstatus
    """,
    doc="The spark.sql() surface: identical SQL text planned by Catalyst "
    "over registered temp views — same physical plan as the DataFrame "
    "form (J1), proving both front-ends share the engine.",
)
def sql_interface_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import register_temp_views

    register_temp_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n_name, o_orderstatus, count(*) AS cnt
        FROM orders JOIN customer ON o_custkey = c_custkey
                    JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name, o_orderstatus
        """
    )


# =====================================================================
# SQ — subqueries: Catalyst decorrelation (no reference lines — the
# reference delegates all SQL planning to MySQL, etl_pipeline.py:144-149;
# these prove the engine's own rewrite rules produce join plans, never
# per-row re-execution of the inner query)
# =====================================================================

_Q17_SQL = """
    SELECT p_brand, count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_quantity < (SELECT 0.5 * avg(l_quantity) FROM lineitem l2
                        WHERE l2.l_partkey = p_partkey)
    GROUP BY p_brand
"""


@register(
    "q17_small_qty_share",
    "SQ1",
    _Q17_SQL,
    doc="TPC-H Q17 shape: correlated scalar aggregate subquery (per-part "
    "average threshold). RewriteCorrelatedScalarSubquery turns the inner "
    "query into ONE per-partkey aggregate joined back — both sides hash-"
    "partitioned on l_partkey, so the rewrite costs one extra exchange, "
    "not a per-row rescan of lineitem.",
)
def q17_small_qty_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import register_temp_views

    register_temp_views(spark, sf_dir)
    return spark.sql(_Q17_SQL)


_Q18_SQL = """
    SELECT o_orderpriority, count(*) AS cnt, round(sum(o_totalprice), 2) AS total
    FROM orders
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
    GROUP BY o_orderpriority
"""


@register(
    "q18_large_orders",
    "SQ2",
    _Q18_SQL,
    doc="TPC-H Q18 shape: IN over a grouped+HAVING subquery. "
    "RewritePredicateSubquery plans the IN as a left-semi join against "
    "the aggregated key set — set membership by join, no materialized "
    "id list on the driver.",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import register_temp_views

    register_temp_views(spark, sf_dir)
    return spark.sql(_Q18_SQL)


_SQ3_SQL = """
    SELECT c_nationkey, count(*) AS cnt
    FROM customer c
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer c2
                       WHERE c2.c_nationkey = c.c_nationkey)
      AND EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
    GROUP BY c_nationkey
"""


@register(
    "sub_above_nation_avg",
    "SQ3",
    _SQ3_SQL,
    doc="Two decorrelations in one predicate: a correlated scalar (above "
    "the customer's nation-average balance — self-join against a "
    "25-row aggregate, broadcastable) AND a correlated EXISTS (left-semi "
    "join on custkey with the priority filter pushed below it).",
)
def sub_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import register_temp_views

    register_temp_views(spark, sf_dir)
    return spark.sql(_SQ3_SQL)


_SQ4_SQL = """
    SELECT n_name, t.top_name, t.top_bal
    FROM nation, LATERAL (
      SELECT c_name AS top_name, c_acctbal AS top_bal
      FROM customer WHERE c_nationkey = n_nationkey
      ORDER BY c_acctbal DESC, c_name LIMIT 2
    ) t
"""


@register(
    "sq4_lateral_topk",
    "SQ4",
    _SQ4_SQL,
    doc="LATERAL correlated subquery with ORDER BY + LIMIT: per-nation "
    "top-2 customers by balance. The correlated limit decorrelates to a "
    "ranked window over one shuffle (W1's shape reached from SQL), not a "
    "per-nation re-sort of customer; c_name tiebreak keeps both engines' "
    "top-2 deterministic.",
)
def sq4_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import register_temp_views

    register_temp_views(spark, sf_dir)
    return spark.sql(_SQ4_SQL)


@register(
    "f9_from_json_struct",
    "F9",
    """
    SELECT event_id,
           CAST(props->>'$.k' AS BIGINT) AS k_val,
           (props->>'$.k') IS NOT NULL AS has_k
    FROM events
    WHERE event_id < 2000
    """,
    doc="Schema-on-read JSON: from_json with an explicit StructType (the "
    "typed counterpart of path extraction) — parse once, then struct "
    "field access prunes like any column.",
)
def f9_from_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    ev = _t(spark, sf_dir, "events")["events"]
    schema = T.StructType([T.StructField("k", T.LongType())])
    parsed = ev.filter(F.col("event_id") < 2000).select(
        "event_id", F.from_json("props", schema).alias("p")
    )
    return parsed.select(
        "event_id",
        F.col("p.k").alias("k_val"),
        F.col("p.k").isNotNull().alias("has_k"),
    )


@register(
    "a12_approx_percentiles",
    "A12",
    """
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS exact_median,
           count(*) AS cnt,
           TRUE AS approx_ok
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="approx_percentile — the 100 TB path for a12_percentiles: "
    "fixed-size mergeable sketch state per partition instead of a full "
    "sort; same plan shape as any aggregate (partial sketches merged "
    "post-shuffle). The raw sketch value is engine-specific (Spark "
    "Greenwald-Khanna vs DuckDB t-digest) and cannot value-match, so "
    "the entry grades the sketch's ACCURACY CONTRACT instead (round-7 "
    "rows-only whittling): approx_ok asserts the approximate median "
    "lands between the exact 0.499 and 0.501 percentiles — 10x the "
    "eps = 1/accuracy = 1e-4 rank guarantee — and the oracle emits the "
    "literal TRUE the invariant must equal, plus the exact median both "
    "engines agree on bit-for-bit (the a12_percentiles precedent). A "
    "driver grade is therefore a per-round proof the sketch honors its "
    "error bound on real data.",
)
def a12_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    agg = li.groupBy("l_returnflag").agg(
        F.expr("approx_percentile(l_quantity, 0.5, 10000)").alias("approx_median"),
        F.expr("percentile(l_quantity, 0.5)").alias("exact_median"),
        F.expr("percentile(l_quantity, 0.499)").alias("__lo"),
        F.expr("percentile(l_quantity, 0.501)").alias("__hi"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return agg.select(
        "l_returnflag",
        "exact_median",
        "cnt",
        (
            (F.col("approx_median") >= F.col("__lo"))
            & (F.col("approx_median") <= F.col("__hi"))
        ).alias("approx_ok"),
    )


@register(
    "f4b_date_arith",
    "F4+F8",
    """
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS due_date,
           CAST(datediff('day', DATE '2024-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since_2024,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end
    FROM orders
    WHERE o_orderkey < 2000
    """,
    doc="Date arithmetic: interval add, day difference, month boundary — "
    "the calendar surface the reference's strftime/year handling implies.",
)
def f4b_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")["orders"]
    d = F.col("o_orderdate").cast("date")
    return orders.filter(F.col("o_orderkey") < 2000).select(
        "o_orderkey",
        F.date_add(d, 30).cast("timestamp").alias("due_date"),
        F.datediff(d, F.lit("2024-01-01").cast("date")).alias("days_since_2024"),
        F.last_day(d).alias("month_end"),
    )


@register(
    "profile_table",
    "A4+A8+A11",
    """
    SELECT count(*) AS n_rows,
           count(o_custkey) AS n_custkey_nonnull,
           count(DISTINCT o_orderstatus) AS n_statuses,
           count(DISTINCT o_custkey) AS n_customers,
           round(min(o_totalprice), 2) AS min_price,
           round(max(o_totalprice), 2) AS max_price,
           round(sum(o_totalprice), 2) AS sum_price,
           CAST(min(o_orderdate) AS DATE) AS first_order,
           CAST(max(o_orderdate) AS DATE) AS last_order
    FROM orders
    """,
    doc="Single-pass table profile (counts, null counts, distincts, "
    "ranges) — the data-quality summary every ingestion run should emit; "
    "one scan, one row, all partial-aggregated. The sketch variant for "
    "100 TB swaps count(DISTINCT) for approx_count_distinct (a11).",
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")["orders"]
    return orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_custkey").alias("n_custkey_nonnull"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.min(F.col("o_orderdate").cast("date")).alias("first_order"),
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
    )


@register(
    "w3b_range_frame",
    "W3",
    """
    SELECT event_id, user_id,
           count(*) OVER (PARTITION BY user_id ORDER BY date_trunc('second', ts)
                          RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
             AS events_trailing_1h
    FROM events
    WHERE user_id < 20
    """,
    doc="RANGE (time-interval) window frame — value-based bounds, unlike "
    "w3's ROWS frame: each event sees the count of same-user events in "
    "its trailing hour. Counts only (exact ints) keep the oracle "
    "bit-stable; trailing float sums would hash-diverge on tie order.",
)
def w3b_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-3600, 0)
    )
    return ev.filter(F.col("user_id") < 20).select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("events_trailing_1h"),
    )


@register(
    "a10b_grouping_sets",
    "A10",
    """
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS cnt,
           CAST(grouping(o_orderstatus) + 2 * grouping(o_orderpriority) AS INTEGER) AS gid
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
    doc="Explicit GROUPING SETS (beyond cube/rollup): chosen subtotal "
    "combinations in one pass, with grouping() flags disambiguating real "
    "NULLs from subtotal rows.",
)
def a10b_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")["orders"]
    orders.createOrReplaceTempView("__orders_gs")
    return spark.sql(
        """
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               count(*) AS cnt,
               CAST(grouping(o_orderstatus) + 2 * grouping(o_orderpriority) AS INT) AS gid
        FROM __orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        """
    )


@register(
    "t5_unpivot",
    "T5-unpivot",
    """
    SELECT l_orderkey, l_linenumber, metric, round(val, 2) AS val
    FROM (
      UNPIVOT (SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount, l_tax
               FROM lineitem WHERE l_orderkey < 200)
      ON l_extendedprice, l_discount, l_tax
      INTO NAME metric VALUE val
    )
    """,
    doc="Unpivot / melt (wide -> long): the three price columns become "
    "(metric, value) rows — the inverse of A3's pivot, zero shuffle "
    "(pure row-local expansion).",
)
def t5_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    narrow = li.filter(F.col("l_orderkey") < 200).select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_tax"
    )
    return narrow.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="metric",
        valueColumnName="val",
    ).select("l_orderkey", "l_linenumber", "metric", F.round("val", 2).alias("val"))


@register(
    "d3b_fuzzy_name_pairs",
    "D3+F-string",
    """
    SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
           CAST(levenshtein(a.s_name, b.s_name) AS INTEGER) AS edit_dist
    FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
    WHERE a.s_suppkey < 300 AND b.s_suppkey < 300
      AND levenshtein(a.s_name, b.s_name) <= 2
    """,
    doc="Fuzzy near-dup matching by edit distance (typo'd names / IDs): "
    "theta self-join filtered on levenshtein <= 2. At scale the "
    "quadratic pair space is cut first by a blocking key (prefix or "
    "fingerprint bucket) exactly like the LSH band join in d3_minhash.",
)
def d3b_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = _t(spark, sf_dir, "supplier")["supplier"].filter(F.col("s_suppkey") < 300)
    a = sup.select(F.col("s_suppkey").alias("id_a"), F.col("s_name").alias("name_a"))
    b = sup.select(F.col("s_suppkey").alias("id_b"), F.col("s_name").alias("name_b"))
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(dist <= 2)
        .select("id_a", "id_b", dist.alias("edit_dist"))
    )


@register(
    "d3b_fuzzy_blocked",
    "D3+F-string ⊕ (lossless edit-distance blocking, PassJoin)",
    """
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist
    FROM part a JOIN part b ON a.p_partkey < b.p_partkey
    WHERE a.p_partkey < 800 AND b.p_partkey < 800
      AND levenshtein(a.p_name, b.p_name) <= 1
    """,
    doc="PassJoin (Li, Deng, Feng — VLDB 2011): edit-distance self-join "
    "whose candidates come from an EQUI-join on verbatim segments "
    "(pigeonhole: <=k edits leave >=1 of k+1 segments intact), then "
    "exact levenshtein verify — the edit-distance sibling of the "
    "prefix-filtered Jaccard join, vs d3b_fuzzy_name_pairs' bounded "
    "theta join. The oracle is the BRUTE-FORCE join, so value equality "
    "is a per-driver-run proof of zero false negatives. At scale the "
    "segment hash is the shuffle key (the LSH-band shape); probe-side "
    "expansion is O(len) per row.",
)
def d3b_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import passjoin_pairs

    part = _t(spark, sf_dir, "part")["part"].filter(F.col("p_partkey") < 800)
    return passjoin_pairs(part, "p_partkey", "p_name", max_dist=1)


def _linkage_sql() -> str:
    from ..operators.linkage import fs_weights

    wna, wnd = fs_weights(0.95, 0.05)
    wsa, wsd = fs_weights(0.90, 0.20)
    wba, wbd = fs_weights(0.80, 0.10)
    return f"""
    WITH pairs AS (
      SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
             CASE WHEN levenshtein(a.c_name, b.c_name) <= 3
                  THEN CAST({wna!r} AS DOUBLE) ELSE CAST({wnd!r} AS DOUBLE) END AS w_name,
             CASE WHEN a.c_mktsegment = b.c_mktsegment
                  THEN CAST({wsa!r} AS DOUBLE) ELSE CAST({wsd!r} AS DOUBLE) END AS w_segment,
             CASE WHEN abs(a.c_acctbal - b.c_acctbal) < 500
                  THEN CAST({wba!r} AS DOUBLE) ELSE CAST({wbd!r} AS DOUBLE) END AS w_balance
      FROM customer a JOIN customer b
        ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
    ),
    scored AS (
      SELECT id_a, id_b, w_name, w_segment, w_balance,
             round(w_name + w_segment + w_balance, 6) AS fs_score
      FROM pairs
    )
    SELECT id_a, id_b, w_name, w_segment, w_balance, fs_score,
           CASE WHEN fs_score >= 6.0 THEN 'match'
                WHEN fs_score >= 0.0 THEN 'possible'
                ELSE 'non_match' END AS match_class
    FROM scored
    """


@register(
    "d3c_record_linkage",
    "D3 ⊕ (probabilistic record linkage, Fellegi–Sunter)",
    None,  # assigned post-def (weights are computed literals)
    doc="Fellegi–Sunter probabilistic record linkage (JASA 1969 — the "
    "model under Splink/dedupe.io): candidate pairs from an equi-key "
    "BLOCKING join (same nation — swap in passjoin_pairs or LSH bands "
    "for fuzzier blocking), each field-agreement pattern scored with "
    "log2(m/u) / log2((1-m)/(1-u)) likelihood weights, classified "
    "against (0, 6) thresholds. The weights are computed driver-side "
    "and inlined as full-precision literals so both engines sum "
    "IDENTICAL doubles — log2 in two engines can differ in the last "
    "ulp; a pair score must not. Scoring is per-row arithmetic over "
    "the blocked pairs: zero shuffles beyond the blocking join itself.",
)
def d3c_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.linkage import fellegi_sunter_score

    cust = _t(spark, sf_dir, "customer")["customer"]
    a = cust.select(
        F.col("c_custkey").alias("id_a"),
        F.col("c_name").alias("name_a"),
        F.col("c_mktsegment").alias("seg_a"),
        F.col("c_acctbal").alias("bal_a"),
        F.col("c_nationkey").alias("nk"),
    )
    b = cust.select(
        F.col("c_custkey").alias("id_b"),
        F.col("c_name").alias("name_b"),
        F.col("c_mktsegment").alias("seg_b"),
        F.col("c_acctbal").alias("bal_b"),
        F.col("c_nationkey").alias("nk"),
    )
    pairs = a.join(b, "nk").filter(F.col("id_a") < F.col("id_b"))
    scored = fellegi_sunter_score(
        pairs,
        {
            "name": (F.levenshtein("name_a", "name_b") <= 3, 0.95, 0.05),
            "segment": (F.col("seg_a") == F.col("seg_b"), 0.90, 0.20),
            "balance": (F.abs(F.col("bal_a") - F.col("bal_b")) < 500, 0.80, 0.10),
        },
        lower=0.0,
        upper=6.0,
    )
    return scored.select(
        "id_a", "id_b", "w_name", "w_segment", "w_balance", "fs_score", "match_class"
    )


REGISTRY["d3c_record_linkage"] = __import__("dataclasses").replace(
    REGISTRY["d3c_record_linkage"], oracle=_linkage_sql()
)


@register(
    "d3c_entity_resolution",
    "D3+iterative ⊕ (ER capstone: block → score → cluster → survive)",
    None,  # assigned post-def (builds on the linkage SQL)
    doc="The full entity-resolution pipeline as one checked query: "
    "nation-blocked candidates → Fellegi–Sunter scoring → 'match'-class "
    "edges → connected components (min-label propagation with pointer "
    "jumping, O(log diameter) shuffle rounds) → survivorship: the "
    "GOLDEN record per entity is the member with the highest account "
    "balance (tie: lowest key) — the most-complete-record rule. Output "
    "lists MERGED entities only (singletons are the identity mapping). "
    "The oracle restates the closure with a recursive CTE and the "
    "survivor with a window — the d3_dup_clusters pattern extended "
    "through scoring and survivorship.",
)
def d3c_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.clusters import connected_components

    scored = REGISTRY["d3c_record_linkage"].builder(spark, sf_dir)
    matches = scored.filter(F.col("match_class") == "match").select("id_a", "id_b")
    comps = connected_components(matches)
    cust = _t(spark, sf_dir, "customer")["customer"]
    members = comps.join(
        cust, comps["id"] == cust["c_custkey"]
    ).select(
        F.col("comp").alias("entity_id"),
        F.col("c_custkey"),
        F.col("c_acctbal"),
    )
    w = Window.partitionBy("entity_id").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    ranked = members.withColumn("__rn", F.row_number().over(w))
    return (
        ranked.groupBy("entity_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min(F.when(F.col("__rn") == 1, F.col("c_custkey"))).alias("golden_id"),
            F.round(F.max("c_acctbal"), 2).alias("golden_balance"),
        )
    )


def _entity_resolution_sql() -> str:
    return f"""
    WITH RECURSIVE scored AS MATERIALIZED ({_linkage_sql()}),
    m AS MATERIALIZED (SELECT id_a, id_b FROM scored WHERE match_class = 'match'),
    edges AS MATERIALIZED (
      SELECT id_a AS a, id_b AS b FROM m
      UNION
      SELECT id_b, id_a FROM m
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS MATERIALIZED (SELECT a AS id, least(a, min(b)) AS entity_id FROM reach GROUP BY a),
    members AS MATERIALIZED (
      SELECT comp.entity_id, c.c_custkey, c.c_acctbal,
             row_number() OVER (PARTITION BY comp.entity_id
                                ORDER BY c.c_acctbal DESC, c.c_custkey ASC)
               AS rn
      FROM comp JOIN customer c ON comp.id = c.c_custkey
    )
    SELECT entity_id,
           CAST(count(*) AS BIGINT) AS n_members,
           min(CASE WHEN rn = 1 THEN c_custkey END) AS golden_id,
           round(max(c_acctbal), 2) AS golden_balance
    FROM members GROUP BY entity_id
    """


REGISTRY["d3c_entity_resolution"] = __import__("dataclasses").replace(
    REGISTRY["d3c_entity_resolution"], oracle=_entity_resolution_sql()
)


@register(
    "w1b_rank_variants",
    "W1",
    """
    SELECT o_orderkey,
           o_orderstatus,
           CAST(ntile(4) OVER w AS INTEGER) AS price_quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cdist
    FROM orders
    WHERE o_orderkey < 3000
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
    """,
    doc="Ranking-family completion: ntile buckets, percent_rank, "
    "cume_dist. The (price, orderkey) order is total, and both rank "
    "fractions are single divisions of exact integers, so the doubles "
    "hash bit-stable across engines.",
)
def w1b_rank_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")["orders"]
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return orders.filter(F.col("o_orderkey") < 3000).select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).alias("price_quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cdist"),
    )


@register(
    "j7_dpp_busiest_year",
    "J1+S6-partitioned",
    """
    WITH per_year AS (
      SELECT CAST(year(o_orderdate) AS INTEGER) AS y, count(*) AS p_cnt
      FROM orders WHERE o_orderstatus = 'P'
      GROUP BY y
    ),
    busiest AS (
      SELECT y FROM per_year
      WHERE p_cnt = (SELECT max(p_cnt) FROM per_year)
    )
    SELECT o_orderstatus,
           count(*) AS cnt,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    JOIN busiest ON CAST(year(o_orderdate) AS INTEGER) = busiest.y
    GROUP BY o_orderstatus
    """,
    doc="Dynamic partition pruning: the fact side scans a Hive-partitioned "
    "copy of orders (o_year=... directories, sources/partitioned.py) and "
    "the dim side — the year with the most pending orders — is only known "
    "at runtime (agg + max, nothing Catalyst can propagate statically). "
    "The DPP rule injects a dynamicpruning#N subquery into the fact scan's "
    "PartitionFilters, so 6 of 7 year directories are never opened — the "
    "layout/plan pair a 100 TB date-partitioned warehouse relies on "
    "(asserted in tests/test_plans.py). The oracle states the same query "
    "over the raw single-file fixture.",
)
def j7_dpp_busiest_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.partitioned import read_orders_by_year

    fact = read_orders_by_year(spark, sf_dir)
    per_year = (
        fact.filter(F.col("o_orderstatus") == "P")
        .groupBy("o_year")
        .agg(F.count(F.lit(1)).alias("p_cnt"))
    )
    # broadcast the 1-row global max back instead of an unpartitioned
    # window: same result, and the plan stays window-free (the per_year
    # frame is tiny, but the agg+broadcast shape is the one that holds
    # for arbitrarily many groups)
    mx = per_year.agg(F.max("p_cnt").alias("mx"))
    busiest = (
        per_year.join(F.broadcast(mx))
        .filter(F.col("p_cnt") == F.col("mx"))
        .select(F.col("o_year").alias("y"))
    )
    return (
        fact.join(F.broadcast(busiest), fact["o_year"] == F.col("y"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )


@register(
    "a13_array_agg",
    "A13",
    """
    SELECT o_orderpriority,
           count(*) AS cnt,
           array_to_string(list_sort(list(o_orderkey)), ',') AS orderkeys_csv
    FROM orders
    WHERE o_orderkey < 800
    GROUP BY o_orderpriority
    """,
    doc="Grouped list aggregation (collect_list + sort_array): the "
    "rows-to-array collector that feeds chunking/embedding stages. The "
    "list is emitted sorted and joined so the graded value is "
    "order-deterministic regardless of shuffle arrival order (arrays "
    "stay unordered inside the engine; only the surface is canonical).",
)
def a13_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")["orders"]
    return (
        orders.filter(F.col("o_orderkey") < 800)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.concat_ws(",", F.sort_array(F.collect_list("o_orderkey"))).alias(
                "orderkeys_csv"
            ),
        )
    )


@register(
    "w2b_value_window",
    "W2",
    """
    SELECT o_orderkey,
           o_orderstatus,
           first_value(o_totalprice) OVER w AS min_price_in_status,
           last_value(o_totalprice) OVER w AS max_price_in_status,
           nth_value(o_totalprice, 3) OVER w AS third_price_in_status
    FROM orders
    WHERE o_orderkey < 2000
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    doc="Window value functions (first/last/nth over an explicit full "
    "frame): the analytic family W2 beyond lag/lead. The (price, key) "
    "order is total so every engine picks identical rows; the frame is "
    "spelled out because last_value over the default frame is the "
    "current row — a classic cross-engine trap.",
)
def w2b_value_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")["orders"]
    w = (
        Window.partitionBy("o_orderstatus")
        .orderBy("o_totalprice", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.filter(F.col("o_orderkey") < 2000).select(
        "o_orderkey",
        "o_orderstatus",
        F.first("o_totalprice").over(w).alias("min_price_in_status"),
        F.last("o_totalprice").over(w).alias("max_price_in_status"),
        F.nth_value("o_totalprice", 3).over(w).alias("third_price_in_status"),
    )


@register(
    "f10b_hof_filter",
    "F10",
    """
    SELECT vec_id,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos,
           len(list_filter(embedding, x -> x > 2.0)) > 0 AS any_big,
           CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS max_abs
    FROM embeddings
    WHERE vec_id < 300
    """,
    doc="Array higher-order functions (filter / exists / transform+max) "
    "entirely JVM-side — the lambda family that keeps per-element vector "
    "work out of Python. Comparisons stay in float32 and only the final "
    "scalar casts to double, so both engines surface the identical bits.",
)
def f10b_hof_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")["embeddings"]
    e = F.col("embedding")
    return emb.filter(F.col("vec_id") < 300).select(
        "vec_id",
        F.size(F.filter(e, lambda x: x > F.lit(0))).alias("n_pos"),
        F.exists(e, lambda x: x > F.lit(2.0)).alias("any_big"),
        F.array_max(F.transform(e, lambda x: F.abs(x))).cast("double").alias("max_abs"),
    )


@register(
    "f12_map_functions",
    "F12-map",
    """
    WITH per_type AS (
      SELECT user_id % 10 AS bucket, event_type, count(*) AS cnt
      FROM events GROUP BY bucket, event_type
    ),
    m AS (
      SELECT bucket,
             map(list(event_type ORDER BY event_type),
                 list(cnt ORDER BY event_type)) AS type_counts
      FROM per_type GROUP BY bucket
    )
    SELECT bucket,
           array_to_string(map_keys(type_counts), ',') AS types_csv,
           array_to_string(map_values(type_counts), ',') AS counts_csv,
           CAST(cardinality(type_counts) AS INTEGER) AS n_types
    FROM m
    """,
    doc="MapType construction and access (map_from_entries / map_keys / "
    "map_values / cardinality): per-user-bucket event-type count maps, "
    "surfaced as sorted csv so the graded value is order-canonical. The "
    "reference's props column is single-key JSON; this is the general "
    "keyed-collection shape it becomes at scale.",
)
def f12_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    per_type = (
        ev.withColumn("bucket", F.col("user_id") % 10)
        .groupBy("bucket", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    m = per_type.groupBy("bucket").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "cnt")))
        ).alias("type_counts")
    )
    return m.select(
        "bucket",
        F.concat_ws(",", F.map_keys("type_counts")).alias("types_csv"),
        F.concat_ws(",", F.map_values("type_counts")).alias("counts_csv"),
        F.size("type_counts").alias("n_types"),
    )


@register(
    "q7_nation_volume",
    "J1+J4+A2 (TPC-H Q7 shape)",
    """
    SELECT supp_nation, cust_nation, l_year,
           round(sum(volume), 4) AS revenue,
           count(*) AS n_lines
    FROM (
      SELECT n1.n_name AS supp_nation,
             n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INTEGER) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_9' AND n2.n_name = 'NATION_11')
         OR (n1.n_name = 'NATION_11' AND n2.n_name = 'NATION_9')
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7 shape: bidirectional nation-pair trade volume by year. "
    "The two nation dims broadcast with the disjunctive pair filter "
    "applied post-join (it spans both sides, so neither scan can prune "
    "it alone); lineitem⋈orders is the one large-large join. Sum at "
    "exact decimal precision.",
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "lineitem", "supplier", "orders", "customer", "nation")
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_9") & (F.col("cust_nation") == "NATION_11")
    ) | ((F.col("supp_nation") == "NATION_11") & (F.col("cust_nation") == "NATION_9"))
    joined = (
        t["lineitem"]
        .join(broadcast_if_dim(t["supplier"], bounded=False, why="SF-proportional dim; AQE decides"), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
    )
    return (
        joined.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.round(F.sum("volume"), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q10_returned_revenue",
    "J1+A2+T3 (TPC-H Q10 shape)",
    """
    SELECT c_custkey, c_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_lines
    FROM customer
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON n_nationkey = c_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY round(sum(l_extendedprice * (1 - l_discount)), 2) DESC, c_custkey ASC
    LIMIT 20
    """,
    doc="TPC-H Q10 shape: top-20 customers by returned-item revenue. "
    "Order by the ROUNDED measure with a key tiebreak so near-ties pick "
    "identical rows in both engines; physically TakeOrderedAndProject "
    "after one grouped shuffle, returnflag filter pushed to the scan.",
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "orders", "lineitem", "nation")
    joined = (
        t["customer"]
        .join(t["orders"], F.col("o_custkey") == F.col("c_custkey"))
        .join(
            t["lineitem"].filter(F.col("l_returnflag") == "R"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(t["nation"]), F.col("n_nationkey") == F.col("c_nationkey"))
    )
    return (
        joined.groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@register(
    "q14_promo_share",
    "J1+A6 (TPC-H Q14 shape)",
    """
    WITH sums AS (
      SELECT round(sum(CASE WHEN p_type LIKE 'PROMO%'
                            THEN l_extendedprice * (1 - l_discount) ELSE 0 END), 2)
               AS promo_rev,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_rev
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1997-04-01'
    )
    SELECT promo_rev, total_rev,
           round(100.0 * promo_rev / total_rev, 6) AS promo_share_pct
    FROM sums
    """,
    doc="TPC-H Q14 shape: promo revenue share over a date window. Both "
    "sums round to the cent where the true value is exact BEFORE the "
    "division, so the ratio is a single operation on bit-identical "
    "operands (the only safe way to grade a cross-engine division).",
)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "lineitem", "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    sums = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .join(broadcast_if_dim(t["part"], bounded=False, why="SF-proportional dim; AQE decides"), F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0.0))
                ),
                2,
            ).alias("promo_rev"),
            F.round(F.sum(rev), 2).alias("total_rev"),
        )
    )
    return sums.select(
        "promo_rev",
        "total_rev",
        F.round(100.0 * F.col("promo_rev") / F.col("total_rev"), 6).alias(
            "promo_share_pct"
        ),
    )


@register(
    "q19_disjunctive_filter",
    "P4+A5 (TPC-H Q19 shape)",
    """
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#11' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
       OR (p_brand = 'Brand#22' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
       OR (p_brand = 'Brand#33' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)
    """,
    doc="TPC-H Q19 shape: three-branch disjunctive predicate spanning "
    "both join sides. The part-only conjuncts (brand, size) distribute "
    "into a scan-level OR filter so the broadcast build side stays "
    "small; the mixed conjuncts evaluate post-join.",
)
def q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "lineitem", "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#11")
            & F.col("l_quantity").between(1, 11)
            & F.col("p_size").between(1, 5)
        )
        | (
            (F.col("p_brand") == "Brand#22")
            & F.col("l_quantity").between(10, 20)
            & F.col("p_size").between(1, 10)
        )
        | (
            (F.col("p_brand") == "Brand#33")
            & F.col("l_quantity").between(20, 30)
            & F.col("p_size").between(1, 15)
        )
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        t["lineitem"]
        .join(broadcast_if_dim(t["part"], bounded=False, why="SF-proportional dim; AQE decides"), F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(
            F.round(F.sum(rev), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q6_forecast_revenue",
    "P4+A5 (TPC-H Q6 shape)",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape: pure scan-side conjunctive filter + global agg — "
    "the query whose entire cost is how many row groups the pushed "
    "predicates skip. Every conjunct reaches PushedFilters; no shuffle "
    "except the single partial/final count merge.",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "a14_event_funnel",
    "A2+W2 (behavioral funnel)",
    """
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS step_view,
           CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                         THEN 1 ELSE 0 END) AS BIGINT) AS step_click,
           CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                          AND t_purchase > t_click
                         THEN 1 ELSE 0 END) AS BIGINT) AS step_purchase
    FROM firsts
    """,
    doc="Behavioral conversion funnel (view -> click -> purchase in strict "
    "event-time order per user): one grouped pass builds each user's "
    "first-touch timestamps via conditional min — no self-joins, no "
    "window re-sorts; NULL comparisons fail closed on both engines so "
    "missing steps drop out identically.",
)
def a14_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & (F.col("t_click") > F.col("t_view"))
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    return firsts.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(viewed.cast("int")).cast("long").alias("step_view"),
        F.sum(clicked.cast("int")).cast("long").alias("step_click"),
        F.sum(purchased.cast("int")).cast("long").alias("step_purchase"),
    )


@register(
    "a15_cohort_retention",
    "A2+F4 (cohort retention)",
    """
    WITH weekly AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week_no
      FROM events
    ),
    cohorts AS (
      SELECT user_id, min(week_no) AS cohort_week FROM weekly GROUP BY user_id
    )
    SELECT c.cohort_week,
           CAST(w.week_no - c.cohort_week AS BIGINT) AS weeks_since,
           count(*) AS n_active
    FROM weekly w JOIN cohorts c ON w.user_id = c.user_id
    WHERE w.week_no - c.cohort_week <= 8
    GROUP BY c.cohort_week, weeks_since
    """,
    doc="Cohort retention matrix: users bucketed by first-active epoch "
    "week, counted per (cohort, weeks-since) cell. distinct-then-join "
    "keeps each user's weekly activity a set (no per-event inflation); "
    "epoch-week arithmetic is integer-exact on both engines (floor, not "
    "round — the DuckDB epoch() sharp edge).",
)
def a15_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    weekly = ev.select(
        "user_id", F.floor(F.unix_timestamp("ts") / 604800).cast("long").alias("week_no")
    ).distinct()
    cohorts = weekly.groupBy("user_id").agg(F.min("week_no").alias("cohort_week"))
    return (
        weekly.join(cohorts, "user_id")
        .withColumn("weeks_since", (F.col("week_no") - F.col("cohort_week")).cast("long"))
        .filter(F.col("weeks_since") <= 8)
        .groupBy("cohort_week", "weeks_since")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@register(
    "f13_string_functions",
    "F-string",
    """
    SELECT s_suppkey,
           upper(s_name) AS name_upper,
           reverse(s_name) AS name_rev,
           lpad(CAST(s_suppkey AS VARCHAR), 8, '0') AS key_padded,
           replace(s_name, '#', '-') AS name_dashed,
           substr(s_name, 1, 8) AS name_head,
           CAST(strpos(s_name, '#') AS INTEGER) AS hash_pos,
           repeat('ab', 3) AS const_repeat,
           CAST(length(s_name) AS INTEGER) AS name_len
    FROM supplier
    WHERE s_suppkey < 400
    """,
    doc="String-function family sweep (upper/reverse/lpad/replace/substr/"
    "position/repeat/length) — every function 1-based and "
    "whole-string on both engines, so the surface is bit-identical. "
    "Pure narrow projection: no shuffle, scan prunes to two columns.",
)
def f13_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = _t(spark, sf_dir, "supplier")["supplier"]
    return sup.filter(F.col("s_suppkey") < 400).select(
        "s_suppkey",
        F.upper("s_name").alias("name_upper"),
        F.reverse(F.col("s_name")).alias("name_rev"),
        F.lpad(F.col("s_suppkey").cast("string"), 8, "0").alias("key_padded"),
        F.replace(F.col("s_name"), F.lit("#"), F.lit("-")).alias("name_dashed"),
        F.substring("s_name", 1, 8).alias("name_head"),
        F.instr("s_name", "#").alias("hash_pos"),
        F.repeat(F.lit("ab"), 3).alias("const_repeat"),
        F.length("s_name").alias("name_len"),
    )


@register(
    "j4b_nullsafe_join",
    "J4 (null-safe equality)",
    """
    WITH c AS (
      SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg
      FROM customer WHERE c_custkey < 200
    )
    SELECT a.seg, count(*) AS n_pairs
    FROM c a JOIN c b
      ON a.seg IS NOT DISTINCT FROM b.seg AND a.c_custkey < b.c_custkey
    GROUP BY a.seg
    """,
    doc="Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys "
    "match each other instead of silently dropping — the semantics an "
    "idempotent load needs when natural keys can be absent. Still a hash "
    "join: null-safe equality remains an equi-condition, not a theta "
    "fallback.",
)
def j4b_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        _t(spark, sf_dir, "customer")["customer"]
        .filter(F.col("c_custkey") < 200)
        .select(
            "c_custkey",
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg"),
        )
    )
    a = cust.select(F.col("c_custkey").alias("k_a"), F.col("seg").alias("seg"))
    b = cust.select(F.col("c_custkey").alias("k_b"), F.col("seg").alias("seg_b"))
    return (
        a.join(b, a["seg"].eqNullSafe(b["seg_b"]) & (F.col("k_a") < F.col("k_b")))
        .groupBy("seg")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "f14_safe_casts",
    "F-safe (try_cast / null-safe arithmetic)",
    """
    SELECT o_orderkey,
           TRY_CAST(o_orderstatus AS INTEGER) AS status_as_int,
           TRY_CAST(CAST(o_orderkey AS VARCHAR) AS INTEGER) AS key_roundtrip,
           round(o_totalprice / NULLIF(o_orderkey % 3, 0), 4) AS price_per_mod,
           coalesce(TRY_CAST(o_orderpriority AS DOUBLE), -1.0) AS priority_num
    FROM orders WHERE o_orderkey < 1000
    """,
    doc="Failure-safe scalar semantics: TRY_CAST yields NULL (never an "
    "error) on malformed input, and division guards its zero divisor "
    "with NULLIF so both engines produce NULL rather than diverging on "
    "error behavior — the ingestion-edge discipline for dirty data at "
    "scale (a bad record must become a NULL cell, not a failed stage).",
)
def f14_safe_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")["orders"]
    return orders.filter(F.col("o_orderkey") < 1000).select(
        "o_orderkey",
        F.col("o_orderstatus").try_cast("int").alias("status_as_int"),
        F.col("o_orderkey").cast("string").try_cast("int").alias("key_roundtrip"),
        F.round(
            F.col("o_totalprice") / F.nullif(F.col("o_orderkey") % 3, F.lit(0)), 4
        ).alias("price_per_mod"),
        F.coalesce(
            F.col("o_orderpriority").try_cast("double"), F.lit(-1.0)
        ).alias("priority_num"),
    )


@register(
    "q4_priority_exists",
    "SQ+A1 (TPC-H Q4 shape)",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 shape (adapted: the fixture has no commit/receipt dates, "
    "so 'late' means shipped >60 days after order date). The correlated "
    "EXISTS decorrelates to a LEFT SEMI hash join on l_orderkey with the "
    "date comparison as a residual condition; orders' quarter filter is "
    "pushed to its scan so the semi-join probe side is already pruned.",
)
def q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "orders", "lineitem")
    quarter = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    late = quarter.join(
        t["lineitem"],
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@register(
    "q12_late_priority_buckets",
    "P7+A5 (TPC-H Q12 shape)",
    """
    SELECT CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                THEN 'late' ELSE 'ontime' END AS ship_bucket,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY ship_bucket
    """,
    doc="TPC-H Q12 shape (adapted: ship-lateness bucket stands in for "
    "l_shipmode): conditional sums pivot order priority into two "
    "counters per bucket in one grouped pass. The year filter prunes "
    "lineitem at the scan before the large-large join; the CASE key is "
    "computed post-join, grouping a 2-value key (map-side combine "
    "collapses everything before the shuffle).",
)
def q12_late_priority_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "lineitem", "orders")
    year = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    joined = year.join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        joined.select(
            F.when(
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
                "late",
            )
            .otherwise("ontime")
            .alias("ship_bucket"),
            high.cast("int").alias("is_high"),
        )
        .groupBy("ship_bucket")
        .agg(
            F.sum("is_high").cast("long").alias("high_line_count"),
            F.sum(1 - F.col("is_high")).cast("long").alias("low_line_count"),
        )
    )


@register(
    "q13_order_distribution",
    "J4+A1 (TPC-H Q13 shape)",
    """
    WITH c_orders AS (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON o_custkey = c_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey
    )
    SELECT c_count, count(*) AS custdist
    FROM c_orders GROUP BY c_count
    """,
    doc="TPC-H Q13 shape: customer order-count distribution. The priority "
    "exclusion lives in the LEFT JOIN's ON clause (not WHERE — filtering "
    "after the join would silently drop zero-order customers), "
    "count(o_orderkey) counts matches only, and a second tiny "
    "aggregation histograms the counts. Two shuffles total; the second "
    "input is one row per customer.",
)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "orders")
    per_cust = (
        t["customer"]
        .join(
            t["orders"].filter(F.col("o_orderpriority") != "5-LOW"),
            F.col("o_custkey") == F.col("c_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q8_market_share",
    "J1+A6 (TPC-H Q8 shape)",
    """
    WITH volumes AS (
      SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
    )
    SELECT o_year,
           round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume
                          ELSE CAST(0 AS DOUBLE) END), 2) AS nation_rev,
           round(sum(volume), 2) AS total_rev,
           round(round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume
                                ELSE CAST(0 AS DOUBLE) END), 2)
                 / round(sum(volume), 2), 6) AS mkt_share
    FROM volumes GROUP BY o_year
    """,
    doc="TPC-H Q8 shape: one nation's market share of a region's ECONOMY "
    "trade per year. Seven-table join where every dim (part, supplier, "
    "customer, both nations, region) broadcasts and lineitem never "
    "re-shuffles except into orders; share = single division of "
    "cent-rounded sums (the cross-engine-safe ratio discipline).",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(
        spark, sf_dir, "lineitem", "part", "supplier", "orders", "customer",
        "nation", "region",
    )
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    asia = t["region"].filter(F.col("r_name") == "ASIA")
    # Round-14 probe (guide §2.5): spreading the lineitem stream before
    # the broadcast-probe chain was MEASURED SLOWER (0.36-0.45 s current
    # vs 0.51-0.62 s spread, same-session interleaved min-of-5) — the
    # stream side is already the right side here and the extra exchange
    # is pure cost. Left as-is; evidence in OPTIMIZATION_r14.md.
    joined = (
        t["lineitem"]
        .join(
            broadcast_if_dim(t["part"].filter(F.col("p_type") == "ECONOMY"), bounded=False, why="constant-share filter, still SF-proportional"),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(broadcast_if_dim(t["supplier"], bounded=False, why="SF-proportional dim; AQE decides"), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(asia), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nation_vol = F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0.0))
    return (
        joined.select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            vol.alias("volume"),
            nation_vol.alias("nation_volume"),
        )
        .groupBy("o_year")
        .agg(
            F.round(F.sum("nation_volume"), 2).alias("nation_rev"),
            F.round(F.sum("volume"), 2).alias("total_rev"),
        )
        .select(
            "o_year",
            "nation_rev",
            "total_rev",
            F.round(F.col("nation_rev") / F.col("total_rev"), 6).alias("mkt_share"),
        )
    )


@register(
    "q9_product_profit",
    "J1+A2 (TPC-H Q9 shape)",
    """
    WITH profits AS (
      SELECT n_name AS nation,
             CAST(year(o_orderdate) AS INTEGER) AS o_year,
             l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity
               AS amount
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%red%'
    )
    SELECT nation, o_year, round(sum(amount), 2) AS sum_profit,
           count(*) AS n_lines
    FROM profits GROUP BY nation, o_year
    """,
    doc="TPC-H Q9 shape (adapted: the fixture has no partsupp, so "
    "p_retailprice*l_quantity stands in for ps_supplycost as the cost "
    "term). Substring part filter prunes the broadcast build side before "
    "the probe; profit terms carry <=4 decimal digits so double sums "
    "stay exact and cent-rounding is bit-identical across engines.",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "lineitem", "part", "supplier", "orders", "nation")
    joined = (
        t["lineitem"]
        .join(
            broadcast_if_dim(t["part"].filter(F.col("p_name").like("%red%")), bounded=False, why="constant-share filter, still SF-proportional"),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(broadcast_if_dim(t["supplier"], bounded=False, why="SF-proportional dim; AQE decides"), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        joined.select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(
            F.round(F.sum("amount"), 2).alias("sum_profit"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q15_top_supplier",
    "SQ+A1 (TPC-H Q15 shape)",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
    doc="TPC-H Q15 shape: supplier(s) achieving the max quarterly "
    "revenue. The scalar max decorrelates to a broadcast of a 1-row "
    "aggregate joined back against the per-supplier revenue (no global "
    "sort, no window over an unpartitioned frame); ties surface as "
    "multiple rows identically on both engines because the comparison "
    "is on the cent-rounded sum.",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "lineitem", "supplier")
    revenue = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    top = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        t["supplier"]
        .join(revenue, F.col("s_suppkey") == F.col("supplier_no"))
        .join(F.broadcast(top), F.col("total_revenue") == F.col("max_revenue"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q11_important_parts",
    "SQ+A1 (TPC-H Q11 shape)",
    """
    WITH vals AS (
      SELECT l_partkey, l_extendedprice * (1 - l_discount) AS val
      FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_5'
    )
    SELECT l_partkey, round(sum(val), 2) AS part_value
    FROM vals GROUP BY l_partkey
    HAVING round(sum(val), 2) >
           (SELECT round(sum(val), 2) * CAST(0.002 AS DOUBLE) FROM vals)
    """,
    doc="TPC-H Q11 shape (adapted: lineitem value per part stands in for "
    "partsupp stock value). HAVING against a global scalar subquery "
    "decorrelates to a 1-row broadcast joined with a residual "
    "comparison — the grouped side shuffles once and the total is a "
    "second lightweight agg over the same filtered scan; both sides of "
    "the comparison are cent-rounded before the one double multiply.",
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "lineitem", "supplier", "nation")
    nation_suppliers = (
        t["supplier"]
        .join(
            F.broadcast(t["nation"].filter(F.col("n_name") == "NATION_5")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    vals = t["lineitem"].join(
        broadcast_if_dim(nation_suppliers, bounded=False, why="supplier slice, SF-proportional"), F.col("s_suppkey") == F.col("l_suppkey")
    ).select(
        "l_partkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("val"),
    )
    per_part = vals.groupBy("l_partkey").agg(
        F.round(F.sum("val"), 2).alias("part_value")
    )
    threshold = vals.agg(
        (F.round(F.sum("val"), 2) * F.lit(0.002)).alias("threshold")
    )
    return (
        per_part.join(
            F.broadcast(threshold), F.col("part_value") > F.col("threshold")
        )
        .select("l_partkey", "part_value")
    )


@register(
    "q16_supplier_count",
    "SQ+A8 (TPC-H Q16 shape)",
    """
    SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_type NOT LIKE 'PROMO%'
      AND p_size IN (1, 5, 10, 15, 20, 25)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_size
    """,
    doc="TPC-H Q16 shape (adapted: lineitem bridges part->supplier in "
    "place of partsupp; negative account balance stands in for the "
    "complaints exclusion). The NOT IN over a non-nullable key compiles "
    "to a broadcast LEFT ANTI join; negated brand/type predicates and "
    "the size IN-list all push into the part scan; count(DISTINCT) "
    "expands to a two-phase exact distinct aggregation.",
)
def q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "lineitem", "part", "supplier")
    parts = t["part"].filter(
        (F.col("p_brand") != "Brand#1")
        & ~F.col("p_type").like("PROMO%")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25)
    )
    complaints = t["supplier"].filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        t["lineitem"]
        .join(broadcast_if_dim(parts, bounded=False, why="part slice, SF-proportional"), F.col("p_partkey") == F.col("l_partkey"))
        .join(
            broadcast_if_dim(complaints, bounded=False, why="supplier slice, SF-proportional"),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q21_plan(li: DataFrame, ord_f: DataFrame, nation_sup: DataFrame) -> DataFrame:
    """The q21 one-pass plan over prepared frames, shared by the fixture
    catalog entry and the bucketed-layout variant (`git show
    443f299:tools/q21_bucketed_probe.py`): when ``li``/``ord_f`` scan
    tables bucketed by orderkey, the SAME plan runs with ZERO
    data-proportional exchanges — the orders join, the (order,supplier)
    collapse, and the per-order windows all reuse the bucket
    distribution.

    Round-11 lean rewrite (VERDICT #3): supplier NAMES never enter the
    fact pipeline. The old shape left-broadcast nation_sup onto every
    lineitem row, dragging an s_name string through the SMJ, the
    (order,supplier) SortAggregate, and the window; the filter only
    consumed it at the very end. Now the big pipeline carries integer
    keys only, and the (tiny, post-sole-filter) survivor set
    broadcast-joins nation_sup — the inner join applies the nation
    restriction AND attaches names in one step. Measured on the 32×
    sorted-bucket layout: 1.23 s → 1.12 s."""
    from pyspark.sql.window import Window

    joined = li.join(ord_f, F.col("o_orderkey") == F.col("l_orderkey"))
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    # One row per (order, supplier); exchange-free on the join's
    # orderkey partitioning.
    os_agg = joined.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.when(late, 1).otherwise(0)).alias("supp_late"),
        F.sum(F.when(late, 1).otherwise(0)).alias("late_rows"),
    )
    w = Window.partitionBy("l_orderkey")
    per = os_agg.select(
        "*",
        F.count(F.lit(1)).over(w).alias("n_supp"),
        F.sum("supp_late").over(w).alias("n_late_supp"),
    )
    sole = per.filter(
        (F.col("supp_late") == 1)
        & (F.col("n_supp") > 1)
        & (F.col("n_late_supp") == 1)
    )
    named = sole.join(
        broadcast_if_dim(nation_sup, bounded=False, why="supplier slice, SF-proportional"), F.col("s_suppkey") == F.col("l_suppkey")
    )
    return named.groupBy("s_name").agg(F.sum("late_rows").alias("numwait"))



@register(
    "q21_waiting_supplier",
    "SQ+J4 (TPC-H Q21 shape)",
    """
    SELECT s_name, count(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND n_name = 'NATION_7'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
    GROUP BY s_name
    """,
    doc="TPC-H Q21 shape (adapted: shipped >90 days after order date "
    "stands in for receipt-after-commit): suppliers who were the SOLE "
    "late shipper on a finished multi-supplier order. Round-6 ONE-PASS "
    "rewrite, driven by the paired scale probe (the only perf-watch "
    "query whose DuckDB ratio did not fall through 32x): the semi+anti "
    "decorrelation executed the fact x orders join once per quantifier; "
    "profiling showed that join IS the query's floor (~70% of wall "
    "clock), so the winning plan pays it exactly once. The nation "
    "supplier dim is LEFT-broadcast onto the fact BEFORE the orders "
    "join (s_name rides along, null for other nations), one shuffle "
    "joins orders, and everything downstream is exchange-free on that "
    "orderkey partitioning: the per-(order,supplier) collapse "
    "(HashPartitioning(ok) satisfies ClusteredDistribution(ok,sk)), "
    "then per-order supplier/late-supplier counts as window aggregates "
    "over the order. EXISTS(other supplier) == n_supp > 1; NOT "
    "EXISTS(other late supplier) == n_late_supp == 1, since the "
    "candidate supplier is itself late; numwait sums the candidate's "
    "late ROW count so row-level semantics survive the collapse. "
    "Measured 32x replicas: 3.66 -> 1.95 s (broadcast-orders variant "
    "measured WORSE, 2.9 s — the downstream aggs then repay the full "
    "shuffle the join skipped).",
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "supplier", "lineitem", "orders", "nation")
    nation_sup = (
        t["supplier"]
        .join(
            F.broadcast(t["nation"].filter(F.col("n_name") == "NATION_7")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    # Round-14 (guide §2.4/§2.5): at fixture SF the filtered orders side
    # broadcasts, so the join no longer establishes the orderkey
    # partitioning the docstring's downstream relies on — the collapse
    # paid hash(ok,sk) and the window hash(ok), two exchanges of a
    # single-task stream. Spreading lineitem BY l_orderkey (gated no-op
    # on multi-split inputs, where the SMJ provides hash(ok) anyway)
    # restores the one-exchange chain: the broadcast join preserves the
    # partitioning, and HashPartitioning(ok) satisfies the collapse's
    # ClusteredDistribution(ok, sk) and the window. 0.86-0.95 s ->
    # 0.63-0.80 s at sf0.1-local[32], values identical.
    from ..operators.dedup import _spread

    li = _spread(
        t["lineitem"].select("l_orderkey", "l_suppkey", "l_shipdate"), "l_orderkey"
    )
    ord_f = t["orders"].filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    return q21_plan(li, ord_f, nation_sup)


@register(
    "q22_idle_customers",
    "SQ+J3 (TPC-H Q22 shape)",
    """
    WITH idle AS (
      SELECT CAST(c_custkey % 10 AS BIGINT) AS code, c_acctbal
      FROM customer
      WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                         WHERE c_acctbal > CAST(0 AS DOUBLE))
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_orderdate >= TIMESTAMP '2001-01-01')
    )
    SELECT code, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
    FROM idle GROUP BY code
    """,
    doc="TPC-H Q22 shape (adapted: custkey mod-10 stands in for the phone "
    "country code; 'no orders since 2001' for 'no orders ever', since "
    "every fixture customer has orders). Above-average balance is a "
    "1-row broadcast with a residual >; the NOT EXISTS is a LEFT ANTI "
    "against the date-pruned orders scan. The avg threshold is one "
    "IEEE division of an exact sum by an exact count, so the strict "
    "inequality cuts identically on both engines.",
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "orders")
    threshold = (
        t["customer"]
        .filter(F.col("c_acctbal") > F.lit(0.0))
        .agg(F.avg("c_acctbal").alias("avg_bal"))
    )
    recent = t["orders"].filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    idle = (
        t["customer"]
        .join(F.broadcast(threshold), F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
    )
    return (
        idle.select(
            (F.col("c_custkey") % 10).cast("long").alias("code"), "c_acctbal"
        )
        .groupBy("code")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@register(
    "q2_min_cost_supplier",
    "SQ+J1 (TPC-H Q2 shape)",
    """
    SELECT p_partkey, p_name, s_name, l_extendedprice AS best_price,
           count(*) AS n_offers
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE p_size = 10 AND p_type = 'ECONOMY'
      AND l_extendedprice = (SELECT min(l2.l_extendedprice) FROM lineitem l2
                             WHERE l2.l_partkey = p_partkey)
    GROUP BY p_partkey, p_name, s_name, l_extendedprice
    """,
    doc="TPC-H Q2 shape (adapted: cheapest lineitem offer per part stands "
    "in for min partsupp supply cost). The correlated scalar min "
    "decorrelates to a per-part aggregate joined back on (partkey, "
    "price=min) — one extra shuffle over the fact instead of a "
    "per-row subquery; the size/type slice prunes the broadcast part "
    "side only, so the min is computed over ALL offers for the part "
    "exactly as the correlation demands.",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "lineitem", "part", "supplier")
    mins = t["lineitem"].groupBy(F.col("l_partkey").alias("m_partkey")).agg(
        F.min("l_extendedprice").alias("min_price")
    )
    sliced = t["part"].filter(
        (F.col("p_size") == 10) & (F.col("p_type") == "ECONOMY")
    )
    return (
        t["lineitem"]
        .join(broadcast_if_dim(sliced, bounded=False, why="part slice, SF-proportional"), F.col("p_partkey") == F.col("l_partkey"))
        .join(broadcast_if_dim(t["supplier"], bounded=False, why="SF-proportional dim; AQE decides"), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(
            mins,
            (F.col("m_partkey") == F.col("l_partkey"))
            & (F.col("l_extendedprice") == F.col("min_price")),
        )
        .groupBy(
            "p_partkey",
            "p_name",
            "s_name",
            F.col("l_extendedprice").alias("best_price"),
        )
        .agg(F.count(F.lit(1)).alias("n_offers"))
    )


@register(
    "q20_part_promotion",
    "SQ+J4 (TPC-H Q20 shape)",
    """
    SELECT s_suppkey, s_name, n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE '%red%'
        AND l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
      GROUP BY l_suppkey
      HAVING sum(l_quantity) > 300
    )
    """,
    doc="TPC-H Q20 shape (adapted: total shipped quantity of matching "
    "parts in the year stands in for the half-of-stock correlation). IN "
    "over a grouped-HAVING subquery decorrelates to a LEFT SEMI join "
    "against the aggregated qualifier set; the quantity sum is exact "
    "(integer-valued doubles), the substring filter prunes the "
    "broadcast part side, and the year bound prunes lineitem at scan.",
)
def q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "supplier", "nation", "lineitem", "part")
    qualifying = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(
            broadcast_if_dim(t["part"].filter(F.col("p_name").like("%red%")), bounded=False, why="constant-share filter, still SF-proportional"),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 300)
    )
    return (
        t["supplier"]
        .join(qualifying, F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .join(F.broadcast(t["nation"]), F.col("n_nationkey") == F.col("s_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
    )


@register(
    "a16_stats_moments",
    "A ⊕ (variance / stddev / covariance / correlation)",
    """
    WITH s AS (
      SELECT l_returnflag,
             count(*) AS n,
             round(sum(l_quantity), 2) AS sum_q,
             round(sum(l_quantity * l_quantity), 2) AS sumsq_q,
             round(sum(l_discount), 2) AS sum_d,
             round(sum(l_discount * l_discount), 4) AS sumsq_d,
             round(sum(l_quantity * l_discount), 2) AS sum_qd
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n, sum_q,
           round((sumsq_q - sum_q * sum_q / n) / (n - 1), 6) AS var_q,
           round(sqrt((sumsq_q - sum_q * sum_q / n) / (n - 1)), 6) AS stddev_q,
           round((sum_qd - sum_q * sum_d / n) / (n - 1), 6) AS covar_qd,
           round((sum_qd - sum_q * sum_d / n)
                 / (sqrt(sumsq_q - sum_q * sum_q / n)
                    * sqrt(sumsq_d - sum_d * sum_d / n)), 6) AS corr_qd
    FROM s
    """,
    doc="Second-moment statistics (sample variance/stddev, covariance, "
    "Pearson correlation) computed from EXPLICIT exact power sums rather "
    "than the engines' native var_samp/corr aggregates — the natives use "
    "engine-specific streaming update orders (Welford-style) whose last "
    "ulps differ across engines, while power sums of <=4-decimal values "
    "round to bit-identical operands and the downstream algebra is then "
    "one deterministic IEEE expression tree on both sides. One grouped "
    "pass, fully partial-aggregatable (each power sum map-side combines; "
    "no catastrophic cancellation at these magnitudes).",
)
def a16_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    q, d = F.col("l_quantity"), F.col("l_discount")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(q), 2).alias("sum_q"),
        F.round(F.sum(q * q), 2).alias("sumsq_q"),
        F.round(F.sum(d), 2).alias("sum_d"),
        F.round(F.sum(d * d), 4).alias("sumsq_d"),
        F.round(F.sum(q * d), 2).alias("sum_qd"),
    )
    css_q = F.col("sumsq_q") - F.col("sum_q") * F.col("sum_q") / F.col("n")
    css_d = F.col("sumsq_d") - F.col("sum_d") * F.col("sum_d") / F.col("n")
    cs_qd = F.col("sum_qd") - F.col("sum_q") * F.col("sum_d") / F.col("n")
    return s.select(
        "l_returnflag",
        "n",
        "sum_q",
        F.round(css_q / (F.col("n") - 1), 6).alias("var_q"),
        F.round(F.sqrt(css_q / (F.col("n") - 1)), 6).alias("stddev_q"),
        F.round(cs_qd / (F.col("n") - 1), 6).alias("covar_qd"),
        F.round(cs_qd / (F.sqrt(css_q) * F.sqrt(css_d)), 6).alias("corr_qd"),
    )


@register(
    "w4_time_range_frame",
    "W3 (time-range frame)",
    """
    SELECT event_id, user_id, value,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW), 2)
             AS hour_sum,
           CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS BIGINT)
             AS hour_cnt
    FROM events
    """,
    doc="Time-based RANGE frame (sliding 1-hour trailing sum per user) — "
    "the value-based frame kind W1-W3's ROWS frames don't cover. Spark "
    "orders by unix_micros(ts) with rangeBetween(-3.6e9, 0), exactly "
    "DuckDB's inclusive INTERVAL bound at microsecond precision; frames "
    "are value-determined so tied timestamps contribute identically on "
    "both engines (no ordering ambiguity). Partitioned by user_id: "
    "state per window is bounded by the hour span, never the partition.",
)
def w4_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.round(F.sum("value").over(w), 2).alias("hour_sum"),
        F.count(F.lit(1)).over(w).alias("hour_cnt"),
    )


@register(
    "w5_rank_family",
    "W1 (relative-rank family)",
    """
    SELECT o_orderkey,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cdist,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile
    FROM orders WHERE o_orderkey < 500
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
    doc="Relative-rank window family (percent_rank / cume_dist / ntile) "
    "completing W1's ranking trio. The order key is made total with the "
    "o_orderkey tiebreak so ntile bucket boundaries are deterministic; "
    "percent_rank and cume_dist are exact small rationals, identical "
    "after one division on both engines.",
)
def w5_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")["orders"].filter(F.col("o_orderkey") < 500)
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


@register(
    "w13_rolling_median",
    "W3 ⊕ (holistic aggregate over a sliding frame)",
    """
    SELECT event_id, user_id,
           round(median(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS med5,
           CAST(count(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_in_frame
    FROM events WHERE user_id < 200
    """,
    doc="Rolling exact median over a 5-row sliding frame per user — the "
    "HOLISTIC window aggregate (not partial-able like w3's running sum: "
    "the whole frame must be held, which is why the frame is row-bounded "
    "— an unbounded-preceding exact median would grow per-row state). "
    "Both engines use the same linear-interpolation percentile "
    "definition over the frame's non-NULL values (the a12_percentiles "
    "precedent), NULLs occupy frame slots but not the median, and the "
    "(ts, event_id) order is total — bit-stable cross-engine after the "
    "6-decimal round. Frame state is 5 values per row: scales as one "
    "user-partitioned sort, no matter the corpus.",
)
def w13_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")["events"].filter(F.col("user_id") < 200)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-4, 0)
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.expr("percentile(value, 0.5)").over(w), 6).alias("med5"),
        F.count("value").over(w).alias("n_in_frame"),
    )


@register(
    "a41_spearman_corr",
    "A16 ⊕ (rank correlation from exact integer sums)",
    """
    WITH ranked AS (
      SELECT l_returnflag,
             2 * rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
               + count(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1
               AS rx,
             2 * rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
               + count(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1
               AS ry
      FROM lineitem
    ),
    sums AS (
      SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(rx AS HUGEINT)) AS DOUBLE) AS sx,
             CAST(sum(CAST(ry AS HUGEINT)) AS DOUBLE) AS sy,
             CAST(sum(CAST(rx AS HUGEINT)*rx) AS DOUBLE) AS sxx,
             CAST(sum(CAST(ry AS HUGEINT)*ry) AS DOUBLE) AS syy,
             CAST(sum(CAST(rx AS HUGEINT)*ry) AS DOUBLE) AS sxy
      FROM ranked GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           round((CAST(n AS DOUBLE)*sxy - sx*sy) /
                 sqrt((CAST(n AS DOUBLE)*sxx - sx*sx)
                      * (CAST(n AS DOUBLE)*syy - sy*sy)),
                 6) AS spearman
    FROM sums
    """,
    doc="Spearman rank correlation (quantity vs price per return flag) "
    "computed the cross-engine-stable way: average-tie ranks DOUBLED to "
    "stay integer (2*rank + ties - 1 = twice the conventional average "
    "rank; the constant factor cancels in the correlation), power sums "
    "accumulated as exact BIGINTs (order-independent — the a16 lesson: "
    "float Welford streams never bit-match across engines), one double "
    "division + sqrt at the end, rounded to 6. Two rank windows + one "
    "grouped agg; the windows partition by the group key so no global "
    "sort. DuckDB sums BIGINT into HUGEINT — cast back (sharp-edges "
    "list).",
)
def a41_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    wq = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    wp = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    tq = Window.partitionBy("l_returnflag", "l_quantity")
    tp = Window.partitionBy("l_returnflag", "l_extendedprice")
    ranked = li.select(
        "l_returnflag",
        (2 * F.rank().over(wq) + F.count(F.lit(1)).over(tq) - 1)
        .cast("long")
        .alias("rx"),
        (2 * F.rank().over(wp) + F.count(F.lit(1)).over(tp) - 1)
        .cast("long")
        .alias("ry"),
    )
    # Sums accumulate in DECIMAL(38,0) (exact to 1e38; DuckDB's HUGEINT
    # twin is int128): sum(rx*rx) ~ (4/3)n^3 overflows BIGINT once a
    # group passes ~1.9M rows — i.e. exactly at the 8x/32x replica
    # scales the probe runs (review r7 finding #1). The row-level
    # product is computed wide too (rx^2 <= 4n^2 would outgrow a long
    # past n ~ 1.5e9). Downstream algebra converts the exact sums to
    # DOUBLE once; same conversions + same IEEE tree on both engines.
    rx_w = F.col("rx").cast("decimal(38,0)")
    ry_w = F.col("ry").cast("decimal(38,0)")
    sums = ranked.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(rx_w).cast("double").alias("sx"),
        F.sum(ry_w).cast("double").alias("sy"),
        F.sum(rx_w * F.col("rx")).cast("double").alias("sxx"),
        F.sum(ry_w * F.col("ry")).cast("double").alias("syy"),
        F.sum(rx_w * F.col("ry")).cast("double").alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx"), F.col("sy")
    num = n * F.col("sxy") - sx * sy
    den = F.sqrt(
        (n * F.col("sxx") - sx * sx)
        * (n * F.col("syy") - sy * sy)
    )
    return sums.select(
        "l_returnflag", "n", F.round(num / den, 6).alias("spearman")
    )


@register(
    "w14_rolling_zscore",
    "W3 ⊕ (rolling z-score anomaly flag from exact frame sums)",
    """
    WITH c AS (
      SELECT event_id, event_type, ts,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL
    ),
    f AS (
      SELECT event_id, event_type, cents,
             CAST(count(*) OVER w AS BIGINT) AS n,
             CAST(sum(cents) OVER w AS BIGINT) AS s1,
             CAST(sum(cents * cents) OVER w AS BIGINT) AS s2
      FROM c
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id,
           CASE WHEN n < 2 OR n * s2 - s1 * s1 = 0 THEN CAST(0.0 AS DOUBLE)
                ELSE round((CAST(cents AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
                           / sqrt((CAST(s2 AS DOUBLE)
                                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                                  / (n - 1)), 6)
           END AS zscore,
           (n >= 2 AND n * s2 - s1 * s1 != 0
            AND abs((CAST(cents AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
                    / sqrt((CAST(s2 AS DOUBLE)
                            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                           / (n - 1))) > 3.0) AS is_anomaly
    FROM f
    """,
    doc="Rolling z-score anomaly flag: each event scored against the "
    "trailing 20 observations of its type — the metrics-monitoring "
    "shape (a spike detector that needs no model). Cross-engine float "
    "discipline (the a16 pattern applied to a moving FRAME): values are "
    "integerized to exact cents first (round(value*100) recovers the "
    "true integer from 2-decimal data's double noise), the frame's "
    "power sums are exact BIGINTs, and the z algebra is one "
    "deterministic IEEE tree per row — frame-windowed variance via "
    "float natives would never bit-match. Zero-variance and n<2 frames "
    "short-circuit to 0 before the division. One sort per event_type; "
    "frame state is 20 longs.",
)
def w14_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")["events"].filter(F.col("value").isNotNull())
    c = ev.select(
        "event_id",
        "event_type",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, 0)
    )
    f = c.select(
        "event_id",
        "cents",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("cents").over(w).alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).over(w).alias("s2"),
    )
    n = F.col("n")
    x = F.col("cents").cast("double")
    s1d, s2d = F.col("s1").cast("double"), F.col("s2").cast("double")
    degenerate = (n < 2) | (n * F.col("s2") - F.col("s1") * F.col("s1") == 0)
    z = (x - s1d / n) / F.sqrt((s2d - s1d * s1d / n) / (n - 1))
    return f.select(
        "event_id",
        F.when(degenerate, F.lit(0.0)).otherwise(F.round(z, 6)).alias("zscore"),
        (~degenerate & (F.abs(z) > 3.0)).alias("is_anomaly"),
    )


@register(
    "a18_yoy_growth",
    "W2+A2 (analytic over aggregate)",
    """
    WITH rev AS (
      SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM lineitem
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation   ON n_nationkey = c_nationkey
      GROUP BY n_name, o_year
    )
    SELECT n_name, o_year, revenue,
           round(revenue - lag(revenue)
                 OVER (PARTITION BY n_name ORDER BY o_year), 2) AS yoy_delta
    FROM rev
    """,
    doc="Year-over-year growth: analytic (lag) composed OVER an "
    "aggregate. The window runs on the post-aggregation frame — 25 "
    "nations x 7 years, thousands of times smaller than the fact — so "
    "the sort inside each nation partition is trivial however large the "
    "input; o_year is unique per nation, making the lag order total "
    "without a tiebreak. Deltas subtract already-cent-rounded sums, so "
    "the derived column is bit-identical across engines.",
)
def a18_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = _t(spark, sf_dir, "lineitem", "orders", "customer", "nation")
    rev = (
        t["lineitem"]
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(t["nation"]), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("n_name", F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    w = Window.partitionBy("n_name").orderBy("o_year")
    return rev.select(
        "n_name",
        "o_year",
        "revenue",
        F.round(F.col("revenue") - F.lag("revenue").over(w), 2).alias("yoy_delta"),
    )


@register(
    "f15_datetime_family",
    "F4-F6 (calendar function sweep)",
    """
    SELECT o_orderkey,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end,
           CAST(dayofmonth(o_orderdate) AS INTEGER) AS dom,
           CAST(dayofweek(o_orderdate) AS INTEGER) AS dow0,
           CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
           o_orderdate + INTERVAL 30 DAY AS plus_30d,
           CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS INTEGER)
             AS days_since
    FROM orders WHERE o_orderkey < 2000
    """,
    doc="Calendar-function sweep (trunc-to-month, last_day, day-of-month, "
    "day-of-week, quarter, interval add, day diff). Cross-engine trap "
    "handled: DuckDB's dayofweek is 0=Sunday while Spark's is 1=Sunday, "
    "so the surface is normalized to the 0-based convention; DATE-typed "
    "results surface differently through the two engines' pandas "
    "bridges (date32 object vs datetime64), so calendar outputs are "
    "cast to TIMESTAMP on both sides. Pure projection over a pruned "
    "scan.",
)
def f15_datetime_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    return o.filter(F.col("o_orderkey") < 2000).select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.last_day("o_orderdate").cast("timestamp").alias("month_end"),
        F.dayofmonth("o_orderdate").cast("int").alias("dom"),
        (F.dayofweek("o_orderdate") - 1).cast("int").alias("dow0"),
        F.quarter("o_orderdate").cast("int").alias("qtr"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("plus_30d"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")
        )
        .cast("int")
        .alias("days_since"),
    )


@register(
    "a19_bitwise_agg",
    "A ⊕ (bitwise aggregates)",
    """
    SELECT l_returnflag,
           CAST(bit_and(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS band,
           CAST(bit_or(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS bor,
           CAST(bit_xor(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS bxor,
           CAST(min(l_linenumber) AS INTEGER) AS mn,
           CAST(max(l_linenumber) AS INTEGER) AS mx
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Bitwise aggregate family (bit_and/bit_or/bit_xor) — order- and "
    "grouping-insensitive by algebra (commutative, associative), so "
    "partial/final aggregation across any partitioning is exact; the "
    "flag-mask rollup pattern for permission/feature-bit columns.",
)
def a19_bitwise_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    ln = F.col("l_linenumber").cast("long")
    return li.groupBy("l_returnflag").agg(
        F.bit_and(ln).alias("band"),
        F.bit_or(ln).alias("bor"),
        F.bit_xor(ln).alias("bxor"),
        F.min("l_linenumber").cast("int").alias("mn"),
        F.max("l_linenumber").cast("int").alias("mx"),
    )


@register(
    "a20_multi_distinct",
    "A8+A11 (multi-distinct single pass)",
    """
    SELECT count(DISTINCT o_custkey) AS n_cust,
           count(DISTINCT CASE WHEN o_orderstatus = 'F' THEN o_custkey END)
             AS n_cust_f,
           count(DISTINCT CAST(year(o_orderdate) AS INTEGER)) AS n_years,
           count(*) AS n_orders
    FROM orders
    """,
    doc="Several exact distinct counts (plus a plain count) in ONE "
    "statement: Catalyst plans this with Expand — each input row is "
    "replicated once per distinct group with a grouping id, then a "
    "single two-phase aggregate dedups all of them together. Scale "
    "note: Expand multiplies shuffled rows by the number of distinct "
    "specs, so beyond a handful of columns (or at truly large "
    "cardinality) the HLL sketch path (a11) is the right trade; the "
    "conditional distinct (CASE inside COUNT DISTINCT) costs nothing "
    "extra — NULLs are excluded from distinct counts on both engines.",
)
def a20_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    return o.agg(
        F.countDistinct("o_custkey").alias("n_cust"),
        F.countDistinct(
            F.when(F.col("o_orderstatus") == "F", F.col("o_custkey"))
        ).alias("n_cust_f"),
        F.countDistinct(F.year("o_orderdate").cast("int")).alias("n_years"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "f16_posexplode",
    "F10 (lateral array expansion with ordinality)",
    """
    SELECT vec_id,
           CAST(generate_subscripts(embedding, 1) AS INTEGER) AS pos,
           CAST(unnest(embedding) AS DOUBLE) AS val
    FROM embeddings WHERE vec_id < 20
    """,
    doc="Array→rows expansion with ordinality (posexplode): the lateral "
    "fan-out used to pivot a 64-wide embedding into (id, position, "
    "value) triples for component-level analytics. Executor-side "
    "generate, zero Python, zero shuffle; Spark's 0-based pos is "
    "normalized to the oracle's 1-based subscripts, and float "
    "components widen to DOUBLE exactly on both engines.",
)
def f16_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")["embeddings"]
    return (
        emb.filter(F.col("vec_id") < 20)
        .select("vec_id", F.posexplode("embedding").alias("pos0", "val_f"))
        .select(
            "vec_id",
            (F.col("pos0") + 1).cast("int").alias("pos"),
            F.col("val_f").cast("double").alias("val"),
        )
    )


@register(
    "d5_union_by_name",
    "D1 (schema-evolution union)",
    """
    WITH v1 AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey < 100
    ),
    v2 AS (
      SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
      WHERE o_orderkey >= 100 AND o_orderkey < 200
    )
    SELECT o_orderkey, o_totalprice, coalesce(o_orderstatus, 'unknown') AS status
    FROM (SELECT * FROM v1 UNION ALL BY NAME SELECT * FROM v2)
    """,
    doc="Union across an evolved schema (a column added between snapshot "
    "versions): columns align BY NAME, the missing one NULL-fills and is "
    "then defaulted. This is D1's real production shape — the reference "
    "unions per-run extracts whose field set drifts over time "
    "(.MISSING_LARGE_BLOBS snapshots); positional UNION would silently "
    "misalign. Pure narrow op: no shuffle, both branch filters push to "
    "the shared scan.",
)
def d5_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    v1 = o.filter(F.col("o_orderkey") < 100).select("o_orderkey", "o_totalprice")
    v2 = o.filter(
        (F.col("o_orderkey") >= 100) & (F.col("o_orderkey") < 200)
    ).select("o_orderkey", "o_totalprice", "o_orderstatus")
    return v1.unionByName(v2, allowMissingColumns=True).select(
        "o_orderkey",
        "o_totalprice",
        F.coalesce(F.col("o_orderstatus"), F.lit("unknown")).alias("status"),
    )


@register(
    "j12_interval_overlap",
    "J4 ⊕ (interval × interval overlap join, bin-decomposed)",
    """
    WITH a AS (
      SELECT o_orderkey AS a_key, o_custkey,
             o_orderdate AS a_start,
             o_orderdate + INTERVAL (o_orderkey % 14 + 1) DAY AS a_end
      FROM orders WHERE o_orderstatus = 'F'
    ),
    b AS (
      SELECT o_orderkey AS b_key, o_custkey,
             o_orderdate AS b_start,
             o_orderdate + INTERVAL (o_orderkey % 21 + 1) DAY AS b_end
      FROM orders WHERE o_orderstatus = 'O'
    )
    SELECT a_key, b_key, o_custkey,
           CAST((CAST(floor(epoch(least(a_end, b_end))) AS BIGINT)
                 - CAST(floor(epoch(greatest(a_start, b_start))) AS BIGINT))
                / 86400 + 1 AS BIGINT) AS overlap_days
    FROM a JOIN b USING (o_custkey)
    WHERE a_start <= b_end AND b_start <= a_end
    """,
    doc="Interval-overlap join (two interval sets, same customer, closed "
    "intervals touching = overlapping) — the reservation/session-collision "
    "shape. The oracle is the plain theta join; the engine decomposes "
    "each interval into the DAY bins it touches and equi-joins on "
    "(custkey, bin) before the exact overlap verify "
    "(operators/joins.py::interval_overlap_join) — lossless (overlapping "
    "intervals share a touched bin by construction) and shuffle-join-"
    "shaped instead of the O(n·m) nested loop a raw range predicate "
    "plans as. Synthetic-but-deterministic interval lengths "
    "(orderkey-derived, 1-21 days) keep bin fan-out bounded; "
    "overlap_days divides exact epoch integers.",
)
def j12_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import interval_overlap_join

    o = _t(spark, sf_dir, "orders")["orders"]
    a = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_orderkey").alias("a_key"),
        "o_custkey",
        F.col("o_orderdate").alias("a_start"),
        (
            F.col("o_orderdate")
            + F.make_interval(days=(F.col("o_orderkey") % 14 + 1).cast("int"))
        ).alias("a_end"),
    )
    b = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_orderkey").alias("b_key"),
        "o_custkey",
        F.col("o_orderdate").alias("b_start"),
        (
            F.col("o_orderdate")
            + F.make_interval(days=(F.col("o_orderkey") % 21 + 1).cast("int"))
        ).alias("b_end"),
    )
    pairs = interval_overlap_join(
        a, b, ["o_custkey"], "a_start", "a_end", "b_start", "b_end"
    )
    overlap_days = (
        (
            F.unix_timestamp(F.least("a_end", "b_end"))
            - F.unix_timestamp(F.greatest("a_start", "b_start"))
        )
        / 86400
        + 1
    ).cast("long")
    return pairs.select(
        "a_key", "b_key", "o_custkey", overlap_days.alias("overlap_days")
    )


@register(
    "t8_resample_interp",
    "T+W2 ⊕ (time-series resample with linear interpolation)",
    """
    WITH ev AS (
      SELECT event_type, ts, value, event_id
      FROM events WHERE value IS NOT NULL
    ),
    b AS (
      SELECT event_type,
             date_trunc('hour', min(ts)) + INTERVAL 1 HOUR AS gstart,
             date_trunc('hour', max(ts)) AS gstop
      FROM ev GROUP BY event_type
    ),
    grid AS (
      SELECT event_type, unnest(generate_series(gstart, gstop,
                                                INTERVAL 1 HOUR)) AS ts
      FROM b WHERE gstart <= gstop
    ),
    u AS (
      SELECT event_type, ts, value, FALSE AS is_grid, event_id FROM ev
      UNION ALL
      SELECT event_type, ts, NULL, TRUE, NULL FROM grid
    ),
    w AS (
      SELECT *,
        last_value(value IGNORE NULLS) OVER wb AS v_prev,
        last_value(CASE WHEN NOT is_grid THEN ts END IGNORE NULLS)
          OVER wb AS t_prev,
        first_value(value IGNORE NULLS) OVER wf AS v_next,
        first_value(CASE WHEN NOT is_grid THEN ts END IGNORE NULLS)
          OVER wf AS t_next
      FROM u
      WINDOW
        wb AS (PARTITION BY event_type
               ORDER BY ts, is_grid DESC,
                        coalesce(event_id, 9223372036854775807)
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wf AS (PARTITION BY event_type
               ORDER BY ts, is_grid DESC,
                        coalesce(event_id, 9223372036854775807)
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, ts AS grid_ts,
           round(v_prev + (v_next - v_prev) *
                 (CASE WHEN epoch_us(t_next) = epoch_us(t_prev) THEN 0.0
                       ELSE CAST(epoch_us(ts) - epoch_us(t_prev) AS DOUBLE)
                            / (epoch_us(t_next) - epoch_us(t_prev)) END),
                 6) AS interp_value
    FROM w
    WHERE is_grid AND v_prev IS NOT NULL AND v_next IS NOT NULL
    """,
    doc="Time-series regularization: resample each event_type's irregular "
    "value stream onto an hourly grid with time-weighted LINEAR "
    "interpolation between the bracketing observations — the sensor/"
    "metrics shape (t7's OHLC summarizes per bucket; this reconstructs a "
    "value AT each grid instant). One union of events with the generated "
    "grid, then two frame windows per partition (backward last-non-null, "
    "forward first-non-null) — no self-join, no per-grid-point probe; "
    "scales as one sort per event_type. Determinism: the window order is "
    "made total with (ts, is_grid, coalesce(event_id, MAX)) — the "
    "coalesce avoids the Spark-nulls-first / DuckDB-nulls-last default "
    "divergence (sharp-edges list) — ties at the same ts resolve "
    "GRID-before-events, so a grid point coinciding with an observation "
    "finds that observation in its FORWARD window and interpolates to "
    "exactly its value (frac 1) — ordering it the other way silently "
    "drops such grid points for lack of a next bracket (caught by the "
    "hand-series pytest). The interpolation fraction is a ratio of "
    "exact epoch-microsecond integers; the t_prev == t_next guard stays "
    "as defensive dead code.",
)
def t8_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = (
        _t(spark, sf_dir, "events")["events"]
        .filter(F.col("value").isNotNull())
        .select("event_type", "ts", "value", "event_id")
    )
    b = ev.groupBy("event_type").agg(
        (F.date_trunc("hour", F.min("ts")) + F.expr("INTERVAL 1 HOUR")).alias(
            "gstart"
        ),
        F.date_trunc("hour", F.max("ts")).alias("gstop"),
    )
    grid = b.select(
        "event_type",
        F.explode(
            F.when(
                F.col("gstart") <= F.col("gstop"),
                F.sequence("gstart", "gstop", F.expr("INTERVAL 1 HOUR")),
            ).otherwise(F.array())
        ).alias("ts"),
    )
    u = ev.withColumn("is_grid", F.lit(False)).unionByName(
        grid.select(
            "event_type",
            "ts",
            F.lit(None).cast("double").alias("value"),
            F.lit(None).cast("long").alias("event_id"),
            F.lit(True).alias("is_grid"),
        )
    )
    order = [
        F.asc("ts"),
        F.desc("is_grid"),
        F.asc(F.coalesce(F.col("event_id"), F.lit(9223372036854775807))),
    ]
    wb = (
        Window.partitionBy("event_type")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Forward pass as a RUNNING frame over the REVERSED total order:
    # first_value over [currentRow, unboundedFollowing] ASC is the same
    # value as last_value over [unboundedPreceding, currentRow] DESC,
    # but Spark evaluates unbounded-FOLLOWING frames by rescanning to
    # the partition end per row — O(n²) per event_type, measured 38.6 s
    # at sf0.1 and 809 s on the 8x replicas (ratio 20.9) before this
    # rewrite; running unbounded-PRECEDING frames stream in O(n)
    # (0.83 s / 1.12 s = ratio 1.34 after). Reversing
    # (ts asc, is_grid desc, id asc) exactly is
    # (ts desc, is_grid asc, id desc).
    order_rev = [
        F.desc("ts"),
        F.asc("is_grid"),
        F.desc(F.coalesce(F.col("event_id"), F.lit(9223372036854775807))),
    ]
    wf = (
        Window.partitionBy("event_type")
        .orderBy(*order_rev)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ev_ts = F.when(~F.col("is_grid"), F.col("ts"))
    w = u.select(
        "*",
        F.last("value", ignorenulls=True).over(wb).alias("v_prev"),
        F.last(ev_ts, ignorenulls=True).over(wb).alias("t_prev"),
        F.last("value", ignorenulls=True).over(wf).alias("v_next"),
        F.last(ev_ts, ignorenulls=True).over(wf).alias("t_next"),
    )
    frac = F.when(
        F.unix_micros("t_next") == F.unix_micros("t_prev"), F.lit(0.0)
    ).otherwise(
        (F.unix_micros("ts") - F.unix_micros("t_prev")).cast("double")
        / (F.unix_micros("t_next") - F.unix_micros("t_prev"))
    )
    return (
        w.filter(
            F.col("is_grid")
            & F.col("v_prev").isNotNull()
            & F.col("v_next").isNotNull()
        )
        .select(
            "event_type",
            F.col("ts").alias("grid_ts"),
            F.round(
                F.col("v_prev") + (F.col("v_next") - F.col("v_prev")) * frac, 6
            ).alias("interp_value"),
        )
    )


@register(
    "t6_gapfill_monthly",
    "T+J4 (calendar densification)",
    """
    WITH monthly AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
             count(*) AS n_orders,
             round(sum(o_totalprice), 2) AS revenue
      FROM orders WHERE o_totalprice > 450000 AND o_orderpriority = '1-URGENT'
      GROUP BY month
    ),
    bounds AS (
      SELECT CAST(min(date_trunc('month', o_orderdate)) AS TIMESTAMP) AS lo,
             CAST(max(date_trunc('month', o_orderdate)) AS TIMESTAMP) AS hi
      FROM orders
    ),
    calendar AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS month
      FROM bounds
    )
    SELECT c.month,
           coalesce(n_orders, 0) AS n_orders,
           coalesce(revenue, CAST(0 AS DOUBLE)) AS revenue
    FROM calendar c LEFT JOIN monthly m ON c.month = m.month
    """,
    doc="Time-series densification: a generated month calendar LEFT JOINs "
    "the sparse aggregate so empty periods surface as explicit zero rows "
    "(a chart or window function over the series needs every tick). The "
    "calendar derives from a 1-row bounds aggregate via sequence+explode "
    "— executor-side generation, and at ~one row per month it broadcasts "
    "into the join however big the fact was; the aggregate itself is the "
    "only shuffle.",
)
def t6_gapfill_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    monthly = (
        o.filter(
            (F.col("o_totalprice") > 450000)
            & (F.col("o_orderpriority") == "1-URGENT")
        )
        .groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )
    bounds = o.agg(
        F.min(F.date_trunc("month", "o_orderdate")).alias("lo"),
        F.max(F.date_trunc("month", "o_orderdate")).alias("hi"),
    )
    calendar = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 MONTH"))
        ).alias("month")
    )
    return F.broadcast(calendar).join(monthly, "month", "left").select(
        "month",
        F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
        F.coalesce(F.col("revenue"), F.lit(0.0)).alias("revenue"),
    )


@register(
    "w6_locf_imputation",
    "W2 (IGNORE NULLS carry-forward)",
    """
    WITH sparse AS (
      SELECT event_id, user_id, ts,
             CASE WHEN event_id % 3 = 0 THEN value END AS reading
      FROM events
    )
    SELECT event_id, user_id, reading,
           last_value(reading IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS reading_locf
    FROM sparse
    """,
    doc="Last-observation-carried-forward imputation: the IGNORE NULLS "
    "window variant (plain lag/last treat NULL as a value and would "
    "propagate gaps). The sensor-reading fill pattern for sparse "
    "time-series; per-user partitions keep the running frame bounded, "
    "and the (ts, event_id) tiebreak makes the carried value total-order "
    "deterministic on both engines. Rows before any observation stay "
    "NULL — imputation must not invent data.",
)
def w6_locf_imputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")["events"]
    sparse = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_id") % 3 == 0, F.col("value")).alias("reading"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return sparse.select(
        "event_id",
        "user_id",
        "reading",
        F.last("reading", ignorenulls=True).over(w).alias("reading_locf"),
    )


@register(
    "j9_cross_join",
    "J4 (explicit cartesian)",
    """
    SELECT r_name, n_name,
           CAST(r_regionkey = n_regionkey AS INTEGER) AS is_home
    FROM region CROSS JOIN nation
    """,
    doc="Explicit cartesian product completing the join-type matrix "
    "(inner/left/right/full/semi/anti/theta/as-of/range/null-safe/"
    "cross). Legitimate ONLY because both sides are dims: 5 x 25 rows. "
    "Spark requires the explicit crossJoin call — an accidental "
    "cartesian through a missing join key raises instead of silently "
    "exploding, which is the correct default at fact scale.",
)
def j9_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "region", "nation")
    return t["region"].crossJoin(t["nation"]).select(
        "r_name",
        "n_name",
        (F.col("r_regionkey") == F.col("n_regionkey")).cast("int").alias("is_home"),
    )


@register(
    "a21_regr_family",
    "A ⊕ (linear-regression aggregates)",
    """
    WITH s AS (
      SELECT l_returnflag,
             count(*) AS n,
             round(sum(l_discount), 2) AS sx,
             round(sum(l_discount * l_discount), 4) AS sxx,
             round(sum(l_tax), 2) AS sy,
             round(sum(l_tax * l_tax), 4) AS syy,
             round(sum(l_discount * l_tax), 4) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           round(CASE WHEN n > 1 AND n * sxx > sx * sx
                 THEN (n * sxy - sx * sy) / (n * sxx - sx * sx)
                 ELSE 0.0 END, 6) AS slope,
           round(CASE WHEN n > 1 AND n * sxx > sx * sx
                 THEN (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
                 ELSE 0.0 END, 6) AS intercept,
           round(CASE WHEN n > 1 AND n * sxx > sx * sx AND n * syy > sy * sy
                 THEN (n * sxy - sx * sy) * (n * sxy - sx * sy)
                      / ((n * sxx - sx * sx) * (n * syy - sy * sy))
                 ELSE 0.0 END, 6) AS r2
    FROM s
    """,
    doc="Linear-regression aggregate family (regr_slope / regr_intercept / "
    "regr_r2 equivalents) of l_tax on l_discount per returnflag, computed "
    "from EXPLICIT exact power sums like a16 — the native regr_* "
    "aggregates stream in engine-specific orders whose last ulps differ, "
    "while 2-4-decimal power sums round to bit-identical operands and the "
    "closed-form algebra is one deterministic IEEE tree on both sides. "
    "One grouped pass, fully map-side combinable: at 100 TB this is six "
    "partial sums per group, no second pass over the data.",
)
def a21_regr_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    x, y = F.col("l_discount"), F.col("l_tax")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(x), 2).alias("sx"),
        F.round(F.sum(x * x), 4).alias("sxx"),
        F.round(F.sum(y), 2).alias("sy"),
        F.round(F.sum(y * y), 4).alias("syy"),
        F.round(F.sum(x * y), 4).alias("sxy"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    sy, syy, sxy = F.col("sy"), F.col("syy"), F.col("sxy")
    # Degenerate-group guard (n<=1 or zero x/y variance): emit 0.0 on
    # BOTH engines — Spark's division by zero ERRORS under ANSI (the
    # Spark 4 default) or yields NULL non-ANSI, where
    # DuckDB's IEEE float path yields ±Inf (same guard as w10).
    ok_x = (n > 1) & (n * sxx > sx * sx)
    ok_xy = ok_x & (n * syy > sy * sy)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        "l_returnflag",
        "n",
        F.round(F.when(ok_x, slope).otherwise(F.lit(0.0)), 6).alias("slope"),
        F.round(
            F.when(ok_x, (sy - slope * sx) / n).otherwise(F.lit(0.0)), 6
        ).alias("intercept"),
        F.round(
            F.when(
                ok_xy,
                (n * sxy - sx * sy) * (n * sxy - sx * sy)
                / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("r2"),
    )


@register(
    "a22_listagg",
    "A ⊕ (ordered string aggregation)",
    """
    SELECT o_orderpriority,
           array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',')
             AS segments,
           CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_segments
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY o_orderpriority
    """,
    doc="Ordered string aggregation (LISTAGG / string_agg): the sorted "
    "distinct market segments buying at each priority. Cross-engine "
    "determinism comes from sorting INSIDE the aggregate result "
    "(array_sort before concat) — never from input order, which no "
    "distributed engine preserves through a shuffle. Spark side is "
    "collect_set -> array_sort -> concat_ws over a broadcast customer "
    "join; collect_set state is bounded by segment cardinality (5), not "
    "row count, so the aggregation stays map-side cheap at any scale.",
)
def a22_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "orders", "customer")
    joined = t["orders"].join(
        broadcast_if_dim(t["customer"], bounded=False, why="SF-proportional dim; AQE decides"),
        t["orders"]["o_custkey"] == t["customer"]["c_custkey"],
    )
    return joined.groupBy("o_orderpriority").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("c_mktsegment"))).alias(
            "segments"
        ),
        F.count_distinct(F.col("c_mktsegment")).alias("n_segments"),
    )


@register(
    "a23_price_histogram",
    "A ⊕ (histogram / binning)",
    """
    SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
           round(floor(o_totalprice / 50000) * 50000, 1) AS lo,
           round((floor(o_totalprice / 50000) + 1) * 50000, 1) AS hi,
           CAST(count(*) AS BIGINT) AS cnt
    FROM orders
    GROUP BY 1, 2, 3
    """,
    doc="Equi-width histogram of order totals (width_bucket semantics "
    "via floor-divide, which both engines evaluate identically; DuckDB "
    "lacks width_bucket). Exact integer bucket ids + exact counts — no "
    "float comparisons cross the hash gate. The single groupBy on a "
    "derived low-cardinality key is the canonical scale shape: partial "
    "counts combine map-side, the shuffle carries one row per bucket "
    "per task regardless of table size.",
)
def a23_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    bucket = F.floor(F.col("o_totalprice") / 50000)
    return o.groupBy(
        bucket.cast("long").alias("bucket"),
        F.round(bucket.cast("double") * 50000, 1).alias("lo"),
        F.round((bucket.cast("double") + 1) * 50000, 1).alias("hi"),
    ).agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "f17_array_setops",
    "F ⊕ (array set operations)",
    """
    SELECT p_partkey,
           coalesce(array_to_string(list_sort(list_distinct(
             list_intersect(regexp_split_to_array(lower(p_type), ' '),
                            ['promo', 'economy', 'standard', 'brushed',
                             'anodized', 'polished']))), ','), '')
             AS style_words,
           coalesce(array_to_string(list_sort(list_distinct(
             list_concat(regexp_split_to_array(lower(p_type), ' '),
                         regexp_split_to_array(lower(p_name), ' ')))), ','), '')
             AS all_words,
           coalesce(array_to_string(list_sort(list_filter(
             list_distinct(regexp_split_to_array(lower(p_type), ' ')),
             w -> NOT list_contains(['promo', 'economy', 'standard',
                                     'brushed', 'anodized', 'polished'],
                                    w))), ','), '') AS other_words
    FROM part WHERE p_partkey <= 500
    """,
    doc="Array set algebra (intersect / union / except) over tokenized "
    "part descriptors against a fixed vocabulary. Results canonicalize "
    "as sorted-distinct-joined strings because set ops guarantee "
    "membership, not order, and the driver hash needs one "
    "representation. All JVM-side higher-order functions "
    "(array_intersect / array_union / array_except + array_sort): no "
    "UDF, codegen keeps it in one projection over the scan.",
)
def f17_array_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")["part"]
    vocab = F.array(
        *[F.lit(w) for w in ["promo", "economy", "standard", "brushed", "anodized", "polished"]]
    )
    type_toks = F.split(F.lower(F.col("p_type")), " ")
    cont_toks = F.split(F.lower(F.col("p_name")), " ")
    return p.filter(F.col("p_partkey") <= 500).select(
        "p_partkey",
        F.concat_ws(
            ",", F.array_sort(F.array_distinct(F.array_intersect(type_toks, vocab)))
        ).alias("style_words"),
        F.concat_ws(
            ",", F.array_sort(F.array_distinct(F.array_union(type_toks, cont_toks)))
        ).alias("all_words"),
        F.concat_ws(
            ",", F.array_sort(F.array_distinct(F.array_except(type_toks, vocab)))
        ).alias("other_words"),
    )


@register(
    "w7_ewma",
    "W ⊕ (exponential smoothing)",
    """
    WITH ordered AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE user_id < 50 AND value IS NOT NULL
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(list_reduce(list(round(value, 2) ORDER BY rn),
                             (acc, x) -> acc * 0.5 + x * 0.5), 6) AS ewma
    FROM ordered GROUP BY user_id
    """,
    doc="Exponentially-weighted moving average per user (alpha=0.5), the "
    "classic smoothing op reference-class dashboards derive from event "
    "values. Computed as a SEQUENTIAL left fold over the time-ordered "
    "value list (collect_list -> array_sort -> aggregate) rather than a "
    "window sum: running-window aggregation is segment-tree-combined in "
    "some engines, so float addition order — and hence last-ulp results "
    "— would differ; a fold fixes the association order on both sides, "
    "and alpha=0.5 makes every weight an exact power of two. State per "
    "user is its event list: bounded by per-key history, the same "
    "contract as any sessionization; keys distribute across executors.",
)
def w7_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("ts"), F.col("event_id"), F.round(F.col("value"), 2).alias("v")
            )
        )
    )
    vals = F.transform(arr, lambda s: s["v"])
    ewma = F.aggregate(
        F.slice(vals, 2, F.size(vals) - 1),
        F.element_at(vals, 1),
        lambda acc, x: acc * F.lit(0.5) + x * F.lit(0.5),
    )
    return (
        ev.filter((F.col("user_id") < 50) & F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(ewma, 6).alias("ewma"),
        )
    )


@register(
    "a24_salted_hot_key_agg",
    "A ⊕ (skew-mitigated two-phase aggregation)",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS cnt,
           round(sum(value), 2) AS total_value
    FROM events WHERE value IS NOT NULL
    GROUP BY event_type
    """,
    doc="Two-phase SALTED aggregation over a hot low-cardinality key "
    "(event_type has a handful of values — at 100 TB one reducer per "
    "value would serialize the shuffle). Phase 1 groups by (key, salt) "
    "with a 32-way hash salt so every core gets work; phase 2 re-groups "
    "the 32 partials per key. The oracle is the PLAIN group-by: salting "
    "is an execution strategy, not a semantics change, and the exact "
    "counts + 2-decimal-rounded sums are identical. (Spark's own "
    "partial aggregation does this implicitly for algebraic aggs; the "
    "explicit form is the template for aggs that are NOT partial-able, "
    "e.g. exact distinct lists per hot key.)",
)
def a24_salted_hot_key_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"].filter(F.col("value").isNotNull())
    salted = ev.groupBy(
        "event_type", F.pmod(F.hash("event_id"), F.lit(32)).alias("_salt")
    ).agg(F.count(F.lit(1)).alias("_cnt"), F.sum("value").alias("_sum"))
    return salted.groupBy("event_type").agg(
        F.sum("_cnt").alias("cnt"),
        F.round(F.sum("_sum"), 2).alias("total_value"),
    )


@register(
    "j11_salted_skew_join",
    "J4 ⊕ (skew-busting salted join)",
    """
    WITH skewed AS (
      SELECT CASE WHEN l_orderkey % 3 != 0 THEN 1 ELSE l_suppkey END
               AS hot_suppkey,
             l_extendedprice, l_discount
      FROM lineitem
    )
    SELECT s_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM skewed JOIN supplier ON s_suppkey = hot_suppkey
    GROUP BY s_name
    """,
    doc="Salted equi-join under deliberate key skew (round-7 VERDICT #7): "
    "two thirds of lineitem is remapped onto ONE hot supplier key — the "
    "Zipfian-fact shape where a plain shuffle join serializes the hot "
    "key's rows through a single reducer. The salted plan fans the hot "
    "key over 16 reducers (deterministic xxhash64(l_orderkey) salt — "
    "layout-independent) and replicates the supplier side once per salt. "
    "The oracle is the PLAIN join: salting is an execution strategy, not "
    "a semantics change (the salt column never escapes), so every driver "
    "grade proves result-equality of the salted plan. Broadcast is "
    "disabled via hint-free sizing at real scale; the paired skew probe "
    "(`git show 443f299:tools/skew_probe.py`, BASELINE §round-7-skew) "
    "measures the salted vs unsalted wall-clock on a 32x hot-key replica.",
)
def j11_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import salted_join

    t = _t(spark, sf_dir, "lineitem", "supplier")
    skewed = t["lineitem"].select(
        F.when(F.col("l_orderkey") % 3 != 0, F.lit(1))
        .otherwise(F.col("l_suppkey"))
        .alias("hot_suppkey"),
        "l_orderkey",
        "l_extendedprice",
        "l_discount",
    )
    sup = t["supplier"].select(F.col("s_suppkey").alias("hot_suppkey"), "s_name")
    joined = salted_join(
        skewed, sup, ["hot_suppkey"], salt_buckets=16, salt_on="l_orderkey"
    )
    return joined.groupBy("s_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


@register(
    "a25_incremental_agg",
    "A ⊕ (incremental aggregate maintenance)",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders GROUP BY o_orderpriority
    """,
    doc="Incremental materialized-aggregate maintenance: the table "
    "arrives as a BASE batch (simulating yesterday's materialized "
    "state) plus a DELTA batch (today's arrivals); the engine refreshes "
    "by aggregating ONLY the delta and merging partials — "
    "sum-of-counts and sum-of-sums — never rescanning base rows. The "
    "oracle recomputes from scratch; counts are exact and sums agree "
    "at the 2-decimal rounding the data carries. This is the O(delta) "
    "refresh pattern that keeps a 100 TB warehouse's dashboards "
    "current without 100 TB nightly scans (requires algebraic aggs; "
    "holistic ones like exact median need the full re-pass).",
)
def a25_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    base = o.filter(F.pmod(F.col("o_orderkey"), F.lit(10)) < 8)
    delta = o.filter(F.pmod(F.col("o_orderkey"), F.lit(10)) >= 8)

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("_n"), F.sum("o_totalprice").alias("_s")
        )

    merged = partial(base).unionByName(partial(delta))
    return merged.groupBy("o_orderpriority").agg(
        F.sum("_n").alias("n_orders"),
        F.round(F.sum("_s"), 2).alias("revenue"),
    )


@register(
    "etl_scd2_dim",
    "ETL ⊕ (slowly-changing dimension type 2)",
    """
    WITH marked AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN event_type IS DISTINCT FROM
                    lag(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                  THEN 1 ELSE 0 END AS chg
      FROM events
    ), versioned AS (
      SELECT user_id, event_type, ts, event_id,
             sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS version
      FROM marked
    ), collapsed AS (
      SELECT user_id, version, event_type,
             min(ts) AS valid_from, CAST(count(*) AS BIGINT) AS n_rows
      FROM versioned GROUP BY user_id, version, event_type
    )
    SELECT user_id, CAST(version AS BIGINT) AS version, event_type,
           valid_from,
           lead(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY version) AS valid_to,
           n_rows
    FROM collapsed
    """,
    doc="Slowly-changing-dimension type 2 build: each user's event_type "
    "history collapses into [valid_from, valid_to) version intervals — "
    "the warehouse pattern the reference's INSERT IGNORE dims "
    "(etl_pipeline.py:97-109) silently lack (they keep only the first "
    "version forever). Change points via lag() null-safe comparison, "
    "version ids via running sum, interval close via lead(); the open "
    "current version keeps valid_to NULL. Everything partitions by "
    "user_id — one shuffle serves all three window passes and the "
    "group-by, and per-key state is the user's history, never the table.",
)
def etl_scd2_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.etl import scd2_history

    ev = _t(spark, sf_dir, "events")["events"]
    return scd2_history(ev, "user_id", "event_type", ["ts", "event_id"])


@register(
    "j8_pit_scd2_lookup",
    "J4+ETL ⊕ (point-in-time temporal join)",
    """
    WITH marked AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN event_type IS DISTINCT FROM
                    lag(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                  THEN 1 ELSE 0 END AS chg
      FROM events
    ), versioned AS (
      SELECT user_id, event_type, ts,
             sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS version
      FROM marked
    ), collapsed AS (
      SELECT user_id, version, event_type, min(ts) AS valid_from
      FROM versioned GROUP BY user_id, version, event_type
    ), vd AS (
      -- two changes at an identical timestamp create a zero-duration
      -- version; only the superseding (max-version) one is ever current
      SELECT user_id, valid_from, version, event_type FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id, valid_from
                                     ORDER BY version DESC) AS rn
        FROM collapsed
      ) WHERE rn = 1
    ), probes AS (
      SELECT event_id, user_id, ts + INTERVAL 30 MINUTE AS pts
      FROM events WHERE user_id < 50
    )
    SELECT p.event_id, p.user_id,
           CAST(v.version AS BIGINT) AS version, v.event_type
    FROM probes p
    ASOF LEFT JOIN vd v
      ON p.user_id = v.user_id AND p.pts >= v.valid_from
    """,
    doc="Point-in-time lookup against the SCD2 dimension (etl_scd2_dim's "
    "read side): for each probe timestamp, the version current at that "
    "instant. Spark expresses the temporal join as the as-of "
    "composition (tag/union/carry-forward window, operators/joins.py::"
    "asof_join) — ONE shuffle on user_id, no nested-loop interval scan; "
    "DuckDB states the same semantics with its native ASOF JOIN. "
    "Zero-duration versions (two changes at one timestamp) are deduped "
    "to the superseding version on both sides, keeping tie order "
    "engine-independent.",
)
def j8_pit_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import asof_join

    versions = etl_scd2_dim(spark, sf_dir).select(
        "user_id", "valid_from", "version", "event_type"
    )
    vd = (
        versions.groupBy("user_id", "valid_from")
        .agg(F.max(F.struct("version", "event_type")).alias("_v"))
        .select(
            "user_id",
            "valid_from",
            F.col("_v.version").alias("version"),
            F.col("_v.event_type").alias("event_type"),
        )
    )
    ev = _t(spark, sf_dir, "events")["events"]
    probes = ev.filter(F.col("user_id") < 50).select(
        "event_id",
        "user_id",
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("pts"),
    )
    joined = asof_join(
        probes, vd, on="user_id", left_ts="pts", right_ts="valid_from",
        right_values=["version", "event_type"],
    )
    return joined.select("event_id", "user_id", "version", "event_type")


@register(
    "w8_event_transitions",
    "W2+A2 ⊕ (markov transition counts)",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS next_type,
           CAST(count(*) AS BIGINT) AS transitions
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    """,
    doc="User-journey transition matrix: per-user event bigrams via "
    "lag(), counted over all users — the Markov-chain input for "
    "session-flow and next-action analytics. One shuffle for the "
    "per-user ordering, then a map-side-combinable count over the "
    "tiny (type x type) key space; the window's per-key state is one "
    "previous row, so the operator streams at any history length.",
)
def w8_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("transitions"))
    )


@register(
    "w9_zscore_normalize",
    "W3+A16 ⊕ (group-wise feature normalization)",
    """
    WITH s AS (
      SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
             sum(l_quantity) OVER (PARTITION BY l_returnflag) AS sx,
             sum(l_quantity * l_quantity) OVER (PARTITION BY l_returnflag) AS sxx,
             count(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem WHERE l_orderkey < 2000
    )
    SELECT l_orderkey, l_linenumber, l_returnflag,
           round(CASE WHEN n > 1 AND sxx * n > sx * sx
                 THEN (l_quantity - sx / n)
                      / sqrt((sxx - sx * sx / n) / (n - 1))
                 ELSE 0.0 END, 6) AS qty_z
    FROM s
    """,
    doc="Group-wise z-score normalization — the per-feature scaling step "
    "of an ML pipeline, computed with UNBOUNDED-partition window sums of "
    "integer-valued quantities: the power sums are exact in double at "
    "any accumulation order (segment-tree or sequential), so the "
    "normalization algebra is one deterministic IEEE tree on both "
    "engines. Degenerate groups (single row or zero variance) emit z=0 "
    "on BOTH engines — without the guard Spark's division errors "
    "under ANSI (Spark 4 default) or "
    "yields NULL where DuckDB's IEEE path yields ±Inf (same guard as "
    "w10). Per-group constants ride the same single shuffle as the "
    "row output — no separate aggregate+join round trip; at corpus "
    "scale this is groupBy-free standardization of a 100 TB feature "
    "column in one pass.",
)
def w9_zscore_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")["lineitem"].filter(F.col("l_orderkey") < 2000)
    w = Window.partitionBy("l_returnflag")
    q = F.col("l_quantity")
    sx = F.sum(q).over(w)
    sxx = F.sum(q * q).over(w)
    n = F.count(F.lit(1)).over(w)
    z = F.when(
        (n > 1) & (sxx * n > sx * sx),
        (q - sx / n) / F.sqrt((sxx - sx * sx / n) / (n - 1)),
    ).otherwise(F.lit(0.0))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.round(z, 6).alias("qty_z"),
    )


_RCTE_SQL = """
    WITH RECURSIVE edges AS (
      SELECT n_nationkey AS node, n_name, n_regionkey,
             lag(n_nationkey) OVER (PARTITION BY n_regionkey
                                    ORDER BY n_nationkey) AS parent
      FROM nation
    ), walk AS (
      SELECT node, n_name, n_regionkey,
             0 AS depth, CAST(n_name AS STRING) AS path
      FROM edges WHERE parent IS NULL
      UNION ALL
      SELECT e.node, e.n_name, e.n_regionkey,
             w.depth + 1, w.path || '>' || e.n_name
      FROM edges e JOIN walk w ON e.parent = w.node
    )
    SELECT node, n_name, CAST(depth AS INTEGER) AS depth, path FROM walk
"""


@register(
    "sql_recursive_hierarchy",
    "SQL ⊕ (recursive CTE traversal)",
    _RCTE_SQL.replace("AS STRING", "AS VARCHAR"),
    doc="Hierarchy traversal via WITH RECURSIVE (Spark 4): nations chain "
    "into per-region parent paths (lag() builds the edge list), and the "
    "recursive walk emits depth + root-to-node path. The SAME SQL text "
    "runs on both engines (modulo the STRING/VARCHAR type keyword) — "
    "the strongest form of the sql_interface parity claim. Each "
    "recursive step is one join of the frontier against the edge set, "
    "so the iteration count is the hierarchy DEPTH, not its size — the "
    "org-chart/BOM shape a warehouse needs; unbounded-depth graphs "
    "belong to the dedicated fixpoint operators (u9_pagerank, "
    "d3_dup_clusters' connected components).",
)
def sql_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import register_temp_views

    register_temp_views(spark, sf_dir)
    return spark.sql(_RCTE_SQL)


@register(
    "w10_trailing_anomaly",
    "W4+A16 ⊕ (trailing-window anomaly flag)",
    """
    WITH c AS (
      SELECT event_id, user_id, ts,
             CAST(round(value * 100) AS BIGINT) AS v100
      FROM events WHERE value IS NOT NULL AND user_id < 30
    ), s AS (
      SELECT event_id, user_id, v100,
             sum(v100) OVER w AS sx,
             sum(v100 * v100) OVER w AS sxx,
             count(*) OVER w AS n
      FROM c
      WINDOW w AS (PARTITION BY user_id ORDER BY ts
                   RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id,
           CAST(n AS BIGINT) AS n_window,
           round(CASE WHEN n > 1 AND sxx * n > sx * sx
                 THEN (v100 - sx * 1.0 / n)
                      / sqrt((sxx - sx * 1.0 * sx / n) / (n - 1))
                 ELSE 0.0 END, 6) AS z_trailing,
           CAST(n > 1 AND sxx * n > sx * sx
                AND abs((v100 - sx * 1.0 / n)
                        / sqrt((sxx - sx * 1.0 * sx / n) / (n - 1))) > 2.0
                AS BOOLEAN) AS is_anomaly
    FROM s
    """,
    doc="Per-event anomaly flag: z-score of each value against the same "
    "user's trailing 1-hour window. Values convert to EXACT integer "
    "cents first, so the window power sums are accumulation-order "
    "independent (segment-tree vs sequential engines agree bitwise) and "
    "the z algebra is one deterministic IEEE tree; degenerate windows "
    "(n<=1 or zero variance) emit z=0 unflagged. Same time-range frame "
    "as w4, so per-window state is bounded by the hour span — the "
    "monitoring shape that flags metric spikes in event streams "
    "without a second aggregation pass.",
)
def w10_trailing_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")["events"]
    c = ev.filter(F.col("value").isNotNull() & (F.col("user_id") < 30)).select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("v100"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-3_600_000_000, 0)
    )
    v = F.col("v100")
    sx = F.sum(v).over(w)
    sxx = F.sum(v * v).over(w)
    n = F.count(F.lit(1)).over(w)
    ok = (n > 1) & (sxx * n > sx * sx)
    z = (v - sx * F.lit(1.0) / n) / F.sqrt(
        (sxx - sx * F.lit(1.0) * sx / n) / (n - 1)
    )
    return c.select(
        "event_id",
        "user_id",
        n.alias("n_window"),
        F.round(F.when(ok, z).otherwise(0.0), 6).alias("z_trailing"),
        (ok & (F.abs(z) > 2.0)).alias("is_anomaly"),
    )


@register(
    "w11_activity_streaks",
    "W1+W2 ⊕ (gaps-and-islands streaks)",
    """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events
    ), grouped AS (
      SELECT user_id, d,
             d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                      AS INTEGER) AS grp
      FROM days
    ), streaks AS (
      SELECT user_id, min(d) AS streak_start,
             CAST(count(*) AS BIGINT) AS streak_days
      FROM grouped GROUP BY user_id, grp
    )
    SELECT user_id, streak_start, streak_days FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY streak_days DESC,
                                            streak_start ASC) AS rk
      FROM streaks
    ) WHERE rk = 1
    """,
    doc="Longest consecutive-day activity streak per user — the "
    "gaps-and-islands pattern (calendar-day islands, distinct from "
    "w2_sessionize's gap-threshold sessions): distinct active days, "
    "day MINUS row_number constant within each unbroken run, group on "
    "that constant, keep the longest (earliest tiebreak). All exact "
    "dates and ints; both window passes and the aggregate share the "
    "user_id shuffle. The retention primitive behind 'day streak' "
    "features and engagement cohorts.",
)
def w11_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")["events"]
    days = ev.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    grouped = days.select(
        "user_id",
        "d",
        F.date_sub(F.col("d"), F.row_number().over(w)).alias("grp"),
    )
    streaks = grouped.groupBy("user_id", "grp").agg(
        F.min("d").alias("streak_start"), F.count(F.lit(1)).alias("streak_days")
    )
    wr = Window.partitionBy("user_id").orderBy(
        F.desc("streak_days"), F.asc("streak_start")
    )
    return (
        streaks.select("*", F.row_number().over(wr).alias("rk"))
        .filter(F.col("rk") == 1)
        .select("user_id", "streak_start", "streak_days")
    )


@register(
    "etl_snapshot_diff",
    "ETL+J4 ⊕ (CDC snapshot diff)",
    """
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 10 < 9
    ), new AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 10 IN (5, 6)
                  THEN round(o_totalprice + 1.0, 2) ELSE o_totalprice END
               AS o_totalprice
      FROM orders WHERE o_orderkey % 10 > 0
    )
    SELECT change_type, CAST(count(*) AS BIGINT) AS n_rows FROM (
      SELECT CASE
               WHEN o.o_orderkey IS NULL THEN 'insert'
               WHEN n.o_orderkey IS NULL THEN 'delete'
               WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                 OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
                 THEN 'update'
               ELSE 'unchanged' END AS change_type
      FROM old o FULL JOIN new n ON o.o_orderkey = n.o_orderkey
    ) GROUP BY change_type
    """,
    doc="Change-data-capture diff between two table snapshots: full "
    "outer join on the key classifies every row insert / delete / "
    "update / unchanged (null-safe column compares so NULL-to-value "
    "transitions count as updates). The deterministic %10 carve-out "
    "simulates a day's churn: keys ending 9 arrive, keys ending 0 "
    "leave, 5-6 reprice. This diff is the input side of the "
    "merge-upsert sink (operators/merge.py) and the audit that "
    "validates any incremental load — one key-partitioned join, "
    "columns compared in place, no driver collection.",
)
def etl_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    k = F.col("o_orderkey")
    old = o.filter(k % 10 < 9).select(
        k.alias("old_key"),
        F.col("o_orderstatus").alias("old_status"),
        F.col("o_totalprice").alias("old_price"),
    )
    new = o.filter(k % 10 > 0).select(
        k.alias("new_key"),
        F.col("o_orderstatus").alias("new_status"),
        F.when((k % 10).isin(5, 6), F.round(F.col("o_totalprice") + 1.0, 2))
        .otherwise(F.col("o_totalprice"))
        .alias("new_price"),
    )
    joined = old.join(new, old["old_key"] == new["new_key"], "full_outer")
    change = (
        F.when(F.col("old_key").isNull(), "insert")
        .when(F.col("new_key").isNull(), "delete")
        .when(
            ~F.col("old_status").eqNullSafe(F.col("new_status"))
            | ~F.col("old_price").eqNullSafe(F.col("new_price")),
            "update",
        )
        .otherwise("unchanged")
    )
    return joined.select(change.alias("change_type")).groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


@register(
    "t4_pagination",
    "T3 ⊕ (deterministic pagination)",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10 OFFSET 10
    """,
    doc="Page 2 of a deterministically-ordered result (LIMIT+OFFSET "
    "with a unique tiebreak — without one, pagination across engines "
    "or re-executions returns overlapping pages, the classic API "
    "pagination bug). Spark executes offset+limit as a single "
    "take-ordered boundary: each partition keeps its local top-20, "
    "the driver merges and drops the first 10 — no global sort. Deep "
    "OFFSET still costs O(offset+page) per partition; keyset "
    "pagination (WHERE price < last_seen) is the documented 100 TB "
    "alternative, expressible with the same ordering.",
)
def t4_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .offset(10)
        .limit(10)
    )


@register(
    "a26_mad_robust",
    "A12 ⊕ (median absolute deviation)",
    """
    WITH med AS (
      SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med_q
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           round(max(m.med_q), 6) AS median_qty,
           round(quantile_cont(abs(l.l_quantity - m.med_q), 0.5), 6) AS mad_qty,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag
    GROUP BY l.l_returnflag
    """,
    doc="Median absolute deviation per group — the robust dispersion "
    "statistic outliers can't inflate (unlike a16's variance). Two "
    "exact-percentile passes: the per-group median computes first and "
    "BROADCASTS back onto the rows (3-row build side), then the median "
    "of absolute deviations. Quantities are integer-valued doubles, so "
    "both interpolated medians are exact in binary on both engines. At "
    "100 TB each pass is one grouped percentile over the same "
    "partitioning; the approx path swaps in approx_percentile with "
    "identical plan shape.",
)
def a26_mad_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    med = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.5)").alias("med_q")
    )
    joined = li.join(F.broadcast(med), "l_returnflag")
    return joined.groupBy("l_returnflag").agg(
        F.round(F.max("med_q"), 6).alias("median_qty"),
        F.round(
            F.expr("percentile(abs(l_quantity - med_q), 0.5)"), 6
        ).alias("mad_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "a37_winsorize",
    "A12+A26 ⊕ (winsorized robust aggregation)",
    """
    WITH q AS (
      SELECT l_returnflag,
             quantile_cont(l_quantity, 0.05) AS lo,
             quantile_cont(l_quantity, 0.95) AS hi
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           round(avg(least(greatest(l.l_quantity, q.lo), q.hi)), 2)
             AS mean_winsorized,
           round(avg(l.l_quantity), 2) AS mean_raw,
           round(min(q.lo), 2) AS p05,
           round(max(q.hi), 2) AS p95,
           CAST(count(*) AS BIGINT) AS cnt
    FROM lineitem l JOIN q USING (l_returnflag)
    GROUP BY l.l_returnflag
    """,
    doc="Winsorized mean per group: clip values to the group's "
    "[p05, p95] band, then aggregate — the outlier-robust transform "
    "(vs a26's MAD, which detects; winsorize REPAIRS). Two grouped "
    "passes over the fact table: exact percentiles per group (the "
    "oracle-checkable twin of an approx_percentile sketch at 100 TB), "
    "broadcast the per-group band back (group-domain-sized — AQE "
    "broadcasts it), clip with least/greatest in codegen, re-aggregate. "
    "l_quantity is integer-valued so interpolation is exact (a12 "
    "precedent).",
)
def a37_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    q = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.05)").alias("lo"),
        F.expr("percentile(l_quantity, 0.95)").alias("hi"),
    )
    clipped = li.join(F.broadcast(q), "l_returnflag").withColumn(
        "__clip", F.least(F.greatest(F.col("l_quantity"), F.col("lo")), F.col("hi"))
    )
    return clipped.groupBy("l_returnflag").agg(
        F.round(F.avg("__clip"), 2).alias("mean_winsorized"),
        F.round(F.avg("l_quantity"), 2).alias("mean_raw"),
        F.round(F.min("lo"), 2).alias("p05"),
        F.round(F.max("hi"), 2).alias("p95"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "a39_equidepth_histogram",
    "A12+A23 ⊕ (equi-depth histogram)",
    """
    WITH q AS (
      SELECT quantile_cont(o_totalprice, 0.25) AS q1,
             quantile_cont(o_totalprice, 0.50) AS q2,
             quantile_cont(o_totalprice, 0.75) AS q3,
             min(o_totalprice) AS lo, max(o_totalprice) AS hi
      FROM orders
    )
    SELECT bucket,
           round(min(o_totalprice), 2) AS bucket_lo,
           round(max(o_totalprice), 2) AS bucket_hi,
           CAST(count(*) AS BIGINT) AS cnt
    FROM (
      SELECT o_totalprice,
             CASE WHEN o_totalprice <= q1 THEN 1
                  WHEN o_totalprice <= q2 THEN 2
                  WHEN o_totalprice <= q3 THEN 3
                  ELSE 4 END AS bucket
      FROM orders CROSS JOIN q
    ) GROUP BY bucket
    """,
    doc="Equi-DEPTH histogram (quartile boundaries, ~equal mass per "
    "bucket) vs a23's equi-width bins — the histogram an optimizer or "
    "drift monitor actually wants, because equal-width bins collapse "
    "under skew. Two grouped passes: exact quantile boundaries (the "
    "oracle-checkable twin of approx_percentile at 100 TB), broadcast "
    "the 1-row boundary set back, CASE-bucket in codegen, re-aggregate "
    "with observed per-bucket [lo, hi]. Boundary assignment uses <= on "
    "both engines, so ties at a quantile land identically.",
)
def a39_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    q = o.agg(
        F.expr("percentile(o_totalprice, 0.25)").alias("q1"),
        F.expr("percentile(o_totalprice, 0.50)").alias("q2"),
        F.expr("percentile(o_totalprice, 0.75)").alias("q3"),
    )
    bucket = (
        F.when(F.col("o_totalprice") <= F.col("q1"), 1)
        .when(F.col("o_totalprice") <= F.col("q2"), 2)
        .when(F.col("o_totalprice") <= F.col("q3"), 3)
        .otherwise(4)
    )
    return (
        o.crossJoin(F.broadcast(q))
        .select("o_totalprice", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.round(F.min("o_totalprice"), 2).alias("bucket_lo"),
            F.round(F.max("o_totalprice"), 2).alias("bucket_hi"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


@register(
    "a38_welch_ttest",
    "A16 ⊕ (two-sample Welch t-test)",
    """
    WITH s AS (
      SELECT CAST(count(*) FILTER (l_returnflag = 'R') AS BIGINT) AS n_a,
             round(sum(l_quantity) FILTER (l_returnflag = 'R'), 2) AS s1_a,
             round(sum(l_quantity * l_quantity)
                   FILTER (l_returnflag = 'R'), 2) AS s2_a,
             CAST(count(*) FILTER (l_returnflag = 'N') AS BIGINT) AS n_b,
             round(sum(l_quantity) FILTER (l_returnflag = 'N'), 2) AS s1_b,
             round(sum(l_quantity * l_quantity)
                   FILTER (l_returnflag = 'N'), 2) AS s2_b
      FROM lineitem
    ),
    m AS (
      SELECT n_a, n_b,
             s1_a / n_a AS mean_a, s1_b / n_b AS mean_b,
             ((s2_a - s1_a * s1_a / n_a) / (n_a - 1)) / n_a AS se2_a,
             ((s2_b - s1_b * s1_b / n_b) / (n_b - 1)) / n_b AS se2_b
      FROM s
    )
    SELECT n_a, n_b, round(mean_a, 6) AS mean_a, round(mean_b, 6) AS mean_b,
           round((mean_a - mean_b) / sqrt(se2_a + se2_b), 6) AS t_stat,
           round((se2_a + se2_b) * (se2_a + se2_b)
                 / (se2_a * se2_a / (n_a - 1) + se2_b * se2_b / (n_b - 1)),
                 2) AS dof
    FROM m
    """,
    doc="Two-sample Welch t-test (unequal variances) between the "
    "returned and non-returned quantity populations, computed from "
    "EXACT rounded power sums in ONE conditional-aggregation pass over "
    "the fact table (the a16 pattern: natives are Welford-streamed and "
    "not cross-engine stable; rounded power sums make the downstream "
    "algebra one deterministic IEEE expression tree on both engines). "
    "Fully partial-aggregatable — the A/B-test shape run at any scale.",
)
def a38_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    q = F.col("l_quantity")
    is_a = F.col("l_returnflag") == "R"
    is_b = F.col("l_returnflag") == "N"
    s = li.agg(
        F.count_if(is_a).alias("n_a"),
        F.round(F.sum(F.when(is_a, q)), 2).alias("s1_a"),
        F.round(F.sum(F.when(is_a, q * q)), 2).alias("s2_a"),
        F.count_if(is_b).alias("n_b"),
        F.round(F.sum(F.when(is_b, q)), 2).alias("s1_b"),
        F.round(F.sum(F.when(is_b, q * q)), 2).alias("s2_b"),
    )
    mean_a = F.col("s1_a") / F.col("n_a")
    mean_b = F.col("s1_b") / F.col("n_b")
    se2_a = (
        (F.col("s2_a") - F.col("s1_a") * F.col("s1_a") / F.col("n_a"))
        / (F.col("n_a") - 1)
    ) / F.col("n_a")
    se2_b = (
        (F.col("s2_b") - F.col("s1_b") * F.col("s1_b") / F.col("n_b"))
        / (F.col("n_b") - 1)
    ) / F.col("n_b")
    m = s.select(
        "n_a",
        "n_b",
        mean_a.alias("__ma"),
        mean_b.alias("__mb"),
        se2_a.alias("__sa"),
        se2_b.alias("__sb"),
    )
    return m.select(
        "n_a",
        "n_b",
        F.round(F.col("__ma"), 6).alias("mean_a"),
        F.round(F.col("__mb"), 6).alias("mean_b"),
        F.round(
            (F.col("__ma") - F.col("__mb")) / F.sqrt(F.col("__sa") + F.col("__sb")),
            6,
        ).alias("t_stat"),
        F.round(
            (F.col("__sa") + F.col("__sb"))
            * (F.col("__sa") + F.col("__sb"))
            / (
                F.col("__sa") * F.col("__sa") / (F.col("n_a") - 1)
                + F.col("__sb") * F.col("__sb") / (F.col("n_b") - 1)
            ),
            2,
        ).alias("dof"),
    )


@register(
    "a43_grouped_mad",
    "A16 ⊕ (median absolute deviation — robust dispersion)",
    """
    WITH med AS (
      SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           round(min(m.med), 6) AS median_qty,
           round(quantile_cont(abs(l.l_quantity - m.med), 0.5), 6) AS mad,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag
    GROUP BY l.l_returnflag
    """,
    doc="Median absolute deviation per group — the robust dispersion "
    "companion to a37's winsorized stats (outliers move variance "
    "unboundedly but MAD not at all). Two grouped exact-percentile "
    "passes with the tiny per-group medians broadcast back between them "
    "(the a37 band shape). Cross-engine stable because quantity values "
    "are integer-valued doubles: the median interpolates to halves, the "
    "absolute deviations are exact halves, and the second percentile "
    "interpolates exactly again (a12_percentiles precedent).",
)
def a43_grouped_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    med = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.5)").alias("med")
    )
    return (
        li.join(F.broadcast(med), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.min("med"), 6).alias("median_qty"),
            F.round(
                F.expr("percentile(abs(l_quantity - med), 0.5)"), 6
            ).alias("mad"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "etl_zorder_key",
    "ETL ⊕ (z-order layout key parity)",
    """
    WITH stats AS (
      SELECT min(o_custkey * 1.0) AS lo0, max(o_custkey * 1.0) AS hi0,
             min(o_totalprice * 1.0) AS lo1, max(o_totalprice * 1.0) AS hi1
      FROM orders
    ),
    b AS (
      SELECT CAST(least(floor((o_custkey * 1.0 - lo0) / (hi0 - lo0) * 256), 255)
                  AS BIGINT) AS b0,
             CAST(least(floor((o_totalprice * 1.0 - lo1) / (hi1 - lo1) * 256), 255)
                  AS BIGINT) AS b1
      FROM orders CROSS JOIN stats
    ),
    z AS (
      SELECT ((b0 >> 0) & 1) * 1 + ((b1 >> 0) & 1) * 2
           + ((b0 >> 1) & 1) * 4 + ((b1 >> 1) & 1) * 8
           + ((b0 >> 2) & 1) * 16 + ((b1 >> 2) & 1) * 32
           + ((b0 >> 3) & 1) * 64 + ((b1 >> 3) & 1) * 128
           + ((b0 >> 4) & 1) * 256 + ((b1 >> 4) & 1) * 512
           + ((b0 >> 5) & 1) * 1024 + ((b1 >> 5) & 1) * 2048
           + ((b0 >> 6) & 1) * 4096 + ((b1 >> 6) & 1) * 8192
           + ((b0 >> 7) & 1) * 16384 + ((b1 >> 7) & 1) * 32768 AS zval
      FROM b
    )
    SELECT CAST(zval >> 8 AS BIGINT) AS zbucket,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM z GROUP BY zbucket
    """,
    doc="Engine-parity check for the z-order (Morton) layout key that "
    "maintenance.zorder_by clusters files on: per-column 8-bit buckets "
    "scaled against broadcast global [min,max] stats (1-row cross join "
    "— never a rank), bits interleaved with shift/mask arithmetic "
    "(disjoint bits, so + == OR and ANSI SQL reproduces it), bucketed "
    "to the top byte. Both engines compute the IDENTICAL curve "
    "position for every row — the property that makes a z-ordered "
    "layout portable across writers. The write path + min/max envelope "
    "tightening is pinned in tests (zorder preserves multiset; "
    "file_stats_index shows the skip envelope).",
)
def etl_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    stats = o.agg(
        F.min(F.col("o_custkey") * 1.0).alias("lo0"),
        F.max(F.col("o_custkey") * 1.0).alias("hi0"),
        F.min(F.col("o_totalprice") * 1.0).alias("lo1"),
        F.max(F.col("o_totalprice") * 1.0).alias("hi1"),
    )
    j = o.crossJoin(F.broadcast(stats))
    b0 = F.least(
        F.floor((F.col("o_custkey") * 1.0 - F.col("lo0")) / (F.col("hi0") - F.col("lo0")) * 256),
        F.lit(255),
    ).cast("long")
    b1 = F.least(
        F.floor((F.col("o_totalprice") * 1.0 - F.col("lo1")) / (F.col("hi1") - F.col("lo1")) * 256),
        F.lit(255),
    ).cast("long")
    withb = j.select(b0.alias("b0"), b1.alias("b1"))
    zval = sum(
        (
            F.shiftright(F.col("b0"), i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i))
            + F.shiftright(F.col("b1"), i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i + 1))
            for i in range(8)
        ),
        F.lit(0),
    )
    return (
        withb.select(F.shiftright(zval.cast("long"), 8).alias("zbucket"))
        .groupBy("zbucket")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


@register(
    "etl_contract_report",
    "ETL ⊕ (data-contract expectations report)",
    """
    WITH s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(*) FILTER (doc_id IS NULL) AS BIGINT) AS null_id,
             CAST(count(*) FILTER (text IS NULL OR len(text) = 0) AS BIGINT)
               AS empty_text,
             CAST(count(*) FILTER (n_chars != len(text)) AS BIGINT)
               AS chars_mismatch,
             CAST(count(*) FILTER (lang NOT IN ('en','de','fr','es','zh'))
                  AS BIGINT) AS unknown_lang,
             CAST(count(*) FILTER (n_chars < 100) AS BIGINT) AS too_short
      FROM documents
    )
    SELECT check_name, n_violations, n_rows,
           round(n_violations * 1.0 / n_rows, 6) AS violation_rate
    FROM (
      SELECT 'null_id' AS check_name, null_id AS n_violations, n_rows FROM s
      UNION ALL SELECT 'empty_text', empty_text, n_rows FROM s
      UNION ALL SELECT 'chars_mismatch', chars_mismatch, n_rows FROM s
      UNION ALL SELECT 'unknown_lang', unknown_lang, n_rows FROM s
      UNION ALL SELECT 'too_short', too_short, n_rows FROM s
    )
    """,
    doc="Data-contract expectations report (the Great-Expectations "
    "shape): five named validity checks — null key, empty payload, "
    "derived-column consistency (n_chars == length(text)), enum "
    "membership, minimum-length warn — evaluated as conditional counts "
    "in ONE scan of the table, then unpivoted to a (check, violations, "
    "rate) report via stack. Zero-violation checks still report (a "
    "silent check is indistinguishable from a skipped one). The "
    "streaming/load-time twin is quality.with_quality_metrics, which "
    "rides the same aggregates on DataFrame.observe so a 100 TB load "
    "pays no second scan.",
)
def etl_contract_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    s = docs.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("doc_id").isNull()).alias("null_id"),
        F.count_if(
            F.col("text").isNull() | (F.length("text") == 0)
        ).alias("empty_text"),
        F.count_if(F.col("n_chars") != F.length("text")).alias("chars_mismatch"),
        F.count_if(
            ~F.col("lang").isin("en", "de", "fr", "es", "zh")
        ).alias("unknown_lang"),
        F.count_if(F.col("n_chars") < 100).alias("too_short"),
    )
    report = s.select(
        F.expr(
            "stack(5, 'null_id', null_id, 'empty_text', empty_text, "
            "'chars_mismatch', chars_mismatch, 'unknown_lang', unknown_lang, "
            "'too_short', too_short) AS (check_name, n_violations)"
        ),
        "n_rows",
    )
    return report.select(
        "check_name",
        "n_violations",
        "n_rows",
        F.round(F.col("n_violations") / F.col("n_rows"), 6).alias("violation_rate"),
    )


@register(
    "a27_corr_matrix",
    "A16 ⊕ (one-pass correlation matrix)",
    """
    WITH s AS (
      SELECT count(*) AS n,
             round(sum(l_quantity), 2) AS sq,
             round(sum(l_quantity * l_quantity), 4) AS sqq,
             round(sum(l_discount), 2) AS sd,
             round(sum(l_discount * l_discount), 4) AS sdd,
             round(sum(l_tax), 2) AS st,
             round(sum(l_tax * l_tax), 4) AS stt,
             round(sum(l_quantity * l_discount), 4) AS sqd,
             round(sum(l_quantity * l_tax), 4) AS sqt,
             round(sum(l_discount * l_tax), 4) AS sdt
      FROM lineitem
    )
    SELECT pair,
           round(CASE WHEN den_a > 0 AND den_b > 0
                 THEN num / sqrt(den_a * den_b) ELSE 0.0 END, 6) AS corr
    FROM (
      SELECT 'quantity~discount' AS pair,
             n * sqd - sq * sd AS num,
             n * sqq - sq * sq AS den_a, n * sdd - sd * sd AS den_b FROM s
      UNION ALL
      SELECT 'quantity~tax', n * sqt - sq * st,
             n * sqq - sq * sq, n * stt - st * st FROM s
      UNION ALL
      SELECT 'discount~tax', n * sdt - sd * st,
             n * sdd - sd * sd, n * stt - st * st FROM s
    )
    """,
    doc="Full pairwise correlation matrix of three measures from ONE "
    "pass: ten exact power sums feed every pair's Pearson coefficient "
    "(a16's determinism argument, matrix-shaped). The scan cost is "
    "independent of the number of pairs — k measures need k(k+3)/2 "
    "map-side-combinable sums, not k^2 scans — which is how a feature "
    "store computes a 100-column correlation screen over 100 TB in a "
    "single job.",
)
def a27_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    q, d, t = F.col("l_quantity"), F.col("l_discount"), F.col("l_tax")
    s = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(q), 2).alias("sq"),
        F.round(F.sum(q * q), 4).alias("sqq"),
        F.round(F.sum(d), 2).alias("sd"),
        F.round(F.sum(d * d), 4).alias("sdd"),
        F.round(F.sum(t), 2).alias("st"),
        F.round(F.sum(t * t), 4).alias("stt"),
        F.round(F.sum(q * d), 4).alias("sqd"),
        F.round(F.sum(q * t), 4).alias("sqt"),
        F.round(F.sum(d * t), 4).alias("sdt"),
    )
    n = F.col("n")

    def pair(name, sxy, sx, sy, sxx, syy):
        num = n * F.col(sxy) - F.col(sx) * F.col(sy)
        den_a = n * F.col(sxx) - F.col(sx) * F.col(sx)
        den_b = n * F.col(syy) - F.col(sy) * F.col(sy)
        # Zero-variance guard (w9/a21 convention): without it Spark's
        # 0/0 errors under ANSI (Spark 4 default) or yields NULL
        # non-ANSI, where DuckDB's IEEE path yields NaN.
        return s.select(
            F.lit(name).alias("pair"),
            F.round(
                F.when(
                    (den_a > 0) & (den_b > 0), num / F.sqrt(den_a * den_b)
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("corr"),
        )

    return (
        pair("quantity~discount", "sqd", "sq", "sd", "sqq", "sdd")
        .unionByName(pair("quantity~tax", "sqt", "sq", "st", "sqq", "stt"))
        .unionByName(pair("discount~tax", "sdt", "sd", "st", "sdd", "stt"))
    )


@register(
    "a28_chi_square",
    "A16 ⊕ (chi-square independence test)",
    """
    WITH cells AS (
      SELECT event_type, CAST(user_id % 2 AS BIGINT) AS cohort,
             CAST(count(*) AS DOUBLE) AS o
      FROM events GROUP BY 1, 2
    ), margins AS (
      SELECT c.event_type, c.cohort, c.o,
             sum(c.o) OVER (PARTITION BY c.event_type) AS row_tot,
             sum(c.o) OVER (PARTITION BY c.cohort) AS col_tot,
             sum(c.o) OVER () AS n
      FROM cells c
    )
    SELECT round(sum((o - row_tot * col_tot / n)
                     * (o - row_tot * col_tot / n)
                     / (row_tot * col_tot / n)), 6) AS chi2,
           CAST(count(*) AS BIGINT) AS n_cells
    FROM margins
    """,
    doc="Chi-square independence statistic for event_type x cohort — the "
    "categorical-association test an experimentation pipeline runs over "
    "exact contingency counts. The table collapses to (types x cohorts) "
    "cells BEFORE any float math, so the windowed margin sums add a "
    "handful of exact integer-valued doubles (order-independent), and "
    "the chi2 algebra is one deterministic IEEE tree. Scale: one "
    "grouped count over the events table; everything after runs on the "
    "tiny cell frame.",
)
def a28_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")["events"]
    cells = ev.groupBy(
        "event_type", (F.col("user_id") % 2).cast("long").alias("cohort")
    ).agg(F.count(F.lit(1)).cast("double").alias("o"))
    row_tot = F.sum("o").over(Window.partitionBy("event_type"))
    col_tot = F.sum("o").over(Window.partitionBy("cohort"))
    n = F.sum("o").over(Window.partitionBy())
    e = row_tot * col_tot / n
    m = cells.select("o", e.alias("e"))
    return m.agg(
        F.round(F.sum((F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")), 6).alias("chi2"),
        F.count(F.lit(1)).alias("n_cells"),
    )


@register(
    "a29_conversion_latency",
    "A12+W2 ⊕ (conversion-latency percentiles)",
    """
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
             min(CASE WHEN event_type = 'click' THEN ts END) AS first_click
      FROM events GROUP BY user_id
    ), lat AS (
      SELECT CAST(epoch_us(first_click) - epoch_us(first_view) AS BIGINT)
               AS latency_us
      FROM firsts
      WHERE first_view IS NOT NULL AND first_click IS NOT NULL
        AND first_click >= first_view
    )
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           round(quantile_cont(latency_us, 0.5), 1) AS p50_us,
           round(quantile_cont(latency_us, 0.9), 1) AS p90_us
    FROM lat
    """,
    doc="First-view to first-click conversion latency, median and p90 "
    "over users — the time-to-convert metric behind every funnel "
    "dashboard. Latencies are EXACT integer microseconds (epoch_us "
    "differences of min timestamps), so the interpolated percentiles "
    "are deterministic on both engines. One grouped conditional-min "
    "pass over events, then percentiles over the small per-user frame; "
    "the conditional min is the same single-pass trick the insight "
    "summary (a6) uses — never one scan per event type.",
)
def a29_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    ts = F.col("ts").cast("timestamp")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", ts)).alias("first_view"),
        F.min(F.when(F.col("event_type") == "click", ts)).alias("first_click"),
    )
    lat = firsts.filter(
        F.col("first_view").isNotNull()
        & F.col("first_click").isNotNull()
        & (F.col("first_click") >= F.col("first_view"))
    ).select(
        (F.unix_micros("first_click") - F.unix_micros("first_view")).alias(
            "latency_us"
        )
    )
    return lat.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.expr("percentile(latency_us, 0.5)"), 1).alias("p50_us"),
        F.round(F.expr("percentile(latency_us, 0.9)"), 1).alias("p90_us"),
    )


@register(
    "a30_rfm_segments",
    "A ⊕ (RFM segmentation)",
    """
    WITH rfm AS (
      SELECT user_id,
             max(ts) AS last_seen,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(CAST(round(coalesce(value, 0) * 100) AS BIGINT)) AS BIGINT)
               AS monetary_cents
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id
    ), scored AS (
      SELECT user_id,
             CAST(ntile(4) OVER (ORDER BY last_seen DESC, user_id) AS INTEGER) AS r,
             CAST(ntile(4) OVER (ORDER BY frequency DESC, user_id) AS INTEGER) AS f,
             CAST(ntile(4) OVER (ORDER BY monetary_cents DESC, user_id) AS INTEGER) AS m
      FROM rfm
    )
    SELECT r || '-' || f || '-' || m AS segment,
           CAST(count(*) AS BIGINT) AS n_users
    FROM scored GROUP BY segment
    """,
    doc="RFM (recency/frequency/monetary) customer segmentation: one "
    "grouped pass derives the three per-user metrics (monetary as exact "
    "integer cents), quartile scores assign via DISTRIBUTED ntile with a "
    "user_id tiebreak (total order => identical buckets on any engine), "
    "and segments aggregate to counts. A plain ntile().over(orderBy) "
    "would compile to a single-partition WindowExec — the whole user "
    "frame on one task. Instead operators.windows.distributed_ntile_multi "
    "melts the frame to (user, metric, sort_value), repartitionByRange on "
    "(metric, value) so each partition holds a contiguous slice of each "
    "metric's order, ranks per (metric, partition) with a broadcast "
    "prefix-sum of partition counts, assigns tiles by closed-form ntile "
    "arithmetic, and pivots back — two wide shuffles total for all three "
    "scores, no global sort to one machine. This is the plan that "
    "survives 100 TB of events.",
)
def a30_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import distributed_ntile_multi

    ev = _t(spark, sf_dir, "events")["events"]
    rfm = ev.filter(F.col("event_type") == "purchase").groupBy("user_id").agg(
        F.max("ts").alias("last_seen"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(
            F.round(F.coalesce(F.col("value"), F.lit(0)) * 100).cast("long")
        ).alias("monetary_cents"),
    )
    # Sort values must be ascending bigints: negate for the DESC order;
    # unix_micros is order-preserving + injective on the timestamp.
    last_seen = (
        F.unix_micros(F.col("last_seen"))
        if dict(rfm.dtypes)["last_seen"].startswith("timestamp")
        else F.col("last_seen").cast("long")
    )
    scored = distributed_ntile_multi(
        rfm,
        4,
        [
            ("r", -last_seen),
            ("f", -F.col("frequency")),
            ("m", -F.col("monetary_cents")),
        ],
        "user_id",
    )
    return scored.groupBy(
        F.concat_ws("-", "r", "f", "m").alias("segment")
    ).agg(F.count(F.lit(1)).alias("n_users"))


@register(
    "q23_market_basket",
    "J4+A ⊕ (co-occurrence / market basket)",
    """
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    )
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY part_a, part_b
    ORDER BY n_orders DESC, part_a ASC, part_b ASC
    LIMIT 10
    """,
    doc="Market-basket co-occurrence: part pairs appearing in the same "
    "order, top-10 by support — the 'bought together' primitive behind "
    "recommendations. The self-join is keyed on l_orderkey (equi-join; "
    "pair explosion bounded by per-order basket size squared, ~7 items "
    "in TPC-H shapes), the a<b predicate halves the pairs and "
    "canonicalizes them, and exact counts with full tiebreaks make the "
    "top-10 deterministic. At 100 TB: distinct-collapse first (shrinks "
    "the join input), then one orderkey-partitioned self-join — never "
    "an all-pairs part join.",
)
def q23_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_a")
    )
    b = items.select(
        F.col("l_orderkey").alias("k2"), F.col("l_partkey").alias("part_b")
    )
    pairs = a.join(
        b, (F.col("k") == F.col("k2")) & (F.col("part_a") < F.col("part_b"))
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), F.asc("part_a"), F.asc("part_b"))
        .limit(10)
    )


@register(
    "q24_itemset_triples",
    "J4+A ⊕ (frequent 3-itemsets, Apriori-pruned)",
    """
    WITH items AS (
      SELECT DISTINCT l_orderkey AS k, l_partkey % 200 AS i FROM lineitem
    ),
    thr AS (
      SELECT greatest(3, CAST(floor(count(DISTINCT k) / 5000.0) AS BIGINT))
             AS minsup
      FROM items
    )
    SELECT a.i AS item_a, b.i AS item_b, c.i AS item_c,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM items a
    JOIN items b ON a.k = b.k AND a.i < b.i
    JOIN items c ON c.k = a.k AND c.i > b.i
    GROUP BY 1, 2, 3
    HAVING count(*) >= (SELECT minsup FROM thr)
    """,
    doc="Frequent triple-itemsets over order baskets at product-family "
    "granularity (l_partkey % 200 — the category roll-up real basket "
    "analysis mines at; raw part keys make triples vanishingly rare), "
    "RELATIVE support ≥ max(3, 0.02% of baskets) — the Apriori level "
    "beyond q23's pairs. The relative threshold is itself a scale "
    "lesson: this entry's first draft used an absolute 3, and its own "
    "32× probe hung — supports grow with the data, so a fixed cut "
    "stops pruning and the candidate set explodes toward domain³. The ORACLE is "
    "the direct three-way basket self-join; the ENGINE runs the "
    "Apriori-pruned plan the oracle's HAVING makes value-identical by "
    "the anti-monotone support property (every sub-pair of a frequent "
    "triple is frequent): L2 = frequent pairs (one orderkey self-join "
    "+ HAVING), C3 = L2 ⋈ L2 on the shared leading item (b<c) with "
    "the (b,c)∈L2 semi-check, then ONE basket pass counts candidate "
    "support — the candidate frames are support-thresholded and "
    "therefore small enough to BROADCAST, so the third level never "
    "shuffles the baskets again. At 100 TB this prune is the "
    "difference between counting |C3| ≈ |L2|·k candidates and "
    "exploding every basket's C(n,3) triples through a shuffle.",
)
def q24_itemset_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _basket_itemsets(spark, sf_dir)[2]


def _basket_itemsets(spark: SparkSession, sf_dir: str):
    """Shared Apriori machinery for q24 (frequent triples) and q25
    (association rules): returns ``(items, thr, l3)`` — the distinct
    (basket, category-item) frame, the 1-row relative-minsup frame, and
    the thresholded triple counts (item_a, item_b, item_c, n_orders).
    Plan-shape rationale and probe history live on the q24 docstring.
    """
    from .cache_registry import track

    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    # items is consumed by FOUR branches (both pair-join legs, the
    # candidate probe, both semi probes) and l2 by three — without a
    # tracked persist each branch re-runs the scan+distinct / the pair
    # self-join from lineage (measured 21-31 s vs 2 s at sf0.01).
    items = track(
        li.select(
            F.col("l_orderkey").alias("k"),
            (F.col("l_partkey") % 200).alias("i"),
        ).distinct()
    )
    # RELATIVE support threshold (0.02% of baskets, floor 3) as a 1-row
    # broadcast — a FIXED count is a scale bug this entry's own 32×
    # probe caught: supports grow with the data, so an absolute
    # threshold stops pruning and C3 explodes toward the full item
    # domain cubed.
    thr = items.agg(
        F.greatest(
            F.lit(3).cast("long"),
            F.floor(F.count_distinct(F.col("k")) / 5000.0).cast("long"),
        ).alias("minsup")
    )
    # L2: frequent pairs via one orderkey-keyed self-join
    a = items.select("k", F.col("i").alias("ia"))
    b = items.select(F.col("k").alias("k2"), F.col("i").alias("ib"))
    l2 = (
        a.join(b, (F.col("k") == F.col("k2")) & (F.col("ia") < F.col("ib")))
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(thr))
        .filter(F.col("n") >= F.col("minsup"))
        .select("ia", "ib")
    )
    l2 = track(l2)
    # Count triples by extending each basket's OWN frequent pairs — the
    # distributed Apriori counting shape: work stays proportional to
    # baskets × frequent-pairs-per-basket. (A candidate-set×baskets
    # join — C3 broadcast against every basket item — materialized
    # |baskets|×|C3-per-item| rows and measured 27 s at sf0.01.)
    # L2 is bounded by the item domain squared, so it broadcasts at any
    # data scale.
    pair_occ = (
        a.join(b, (F.col("k") == F.col("k2")) & (F.col("ia") < F.col("ib")))
        .select("k", "ia", "ib")
        .join(F.broadcast(l2), ["ia", "ib"], "left_semi")
    )
    ext = (
        pair_occ.join(
            items.select(F.col("k").alias("k3"), F.col("i").alias("ic")),
            (F.col("k") == F.col("k3")) & (F.col("ic") > F.col("ib")),
        )
        .select("k", "ia", "ib", "ic")
        .join(
            F.broadcast(l2.select(F.col("ia"), F.col("ib").alias("ic"))),
            ["ia", "ic"],
            "left_semi",
        )
        .join(
            F.broadcast(
                l2.select(F.col("ia").alias("ib"), F.col("ib").alias("ic"))
            ),
            ["ib", "ic"],
            "left_semi",
        )
    )
    occ = ext.select(
        F.col("ia").alias("item_a"),
        F.col("ib").alias("item_b"),
        F.col("ic").alias("item_c"),
    )
    l3 = (
        occ.groupBy("item_a", "item_b", "item_c")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .crossJoin(F.broadcast(thr))
        .filter(F.col("n_orders") >= F.col("minsup"))
        .select("item_a", "item_b", "item_c", "n_orders")
    )
    return items, thr, l3


@register(
    "q25_association_rules",
    "Q24 ⊕ (association rules with support/confidence/lift)",
    """
    WITH items AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS k, l_partkey % 200 AS i FROM lineitem
    ),
    thr AS MATERIALIZED (
      SELECT greatest(3, CAST(floor(count(DISTINCT k) / 5000.0) AS BIGINT))
             AS minsup,
             CAST(count(DISTINCT k) AS BIGINT) AS n_baskets
      FROM items
    ),
    l3 AS MATERIALIZED (
      SELECT a.i AS ia, b.i AS ib, c.i AS ic,
             CAST(count(*) AS BIGINT) AS n3
      FROM items a
      JOIN items b ON a.k = b.k AND a.i < b.i
      JOIN items c ON c.k = a.k AND c.i > b.i
      GROUP BY 1, 2, 3
      HAVING count(*) >= (SELECT minsup FROM thr)
    ),
    l2 AS MATERIALIZED (
      SELECT a.i AS x, b.i AS y, CAST(count(*) AS BIGINT) AS n2
      FROM items a JOIN items b ON a.k = b.k AND a.i < b.i
      GROUP BY 1, 2
    ),
    l1 AS MATERIALIZED (SELECT i, CAST(count(*) AS BIGINT) AS n1 FROM items GROUP BY 1),
    rules AS (
      SELECT ia AS ante_a, ib AS ante_b, ic AS conseq, n3 FROM l3
      UNION ALL SELECT ia, ic, ib, n3 FROM l3
      UNION ALL SELECT ib, ic, ia, n3 FROM l3
    )
    SELECT r.ante_a, r.ante_b, r.conseq,
           r.n3 AS n_abc, l2.n2 AS n_ante, l1.n1 AS n_conseq,
           round(r.n3 * 1.0 / l2.n2, 6) AS confidence,
           round(CAST(r.n3 * t.n_baskets AS DOUBLE) / (l2.n2 * l1.n1), 6)
             AS lift
    FROM rules r
    JOIN l2 ON l2.x = r.ante_a AND l2.y = r.ante_b
    JOIN l1 ON l1.i = r.conseq
    CROSS JOIN thr t
    """,
    doc="Association rules over q24's frequent triples (VERDICT r13 "
    "#7) — the operator every basket pipeline actually ships: each "
    "frequent triple {a,b,c} yields its three pair→item rules "
    "(a,b)→c, (a,c)→b, (b,c)→a with confidence = supp(abc)/supp(ante) "
    "and lift = confidence / (supp(conseq)/N). Reuses the shared "
    "Apriori machinery (_basket_itemsets: same tracked items frame, "
    "same relative minsup), then everything downstream is "
    "DOMAIN-bounded: pair supports (≤ C(200,2) rows — the category "
    "roll-up caps the item domain at 200) and item supports (≤ 200) "
    "broadcast onto the unpivoted rule frame, so no basket is "
    "rescanned and nothing data-proportional shuffles after L3. "
    "Antecedent pairs inherit (x < y) canonical order from the triple "
    "(ia<ib<ic), so every rule finds its support in one equi-join. "
    "All three stats are EXACT integer ratios rounded once: "
    "confidence = n3/n2 and lift = (n3·N)/(n2·n1), each ONE double "
    "division of exact BIGINTs (bit-identical across engines; "
    "products < 2⁶³ through the 32× probe and far beyond — n3·N tops "
    "out near 10¹⁸ only past ~10⁹ baskets with maximal supports, "
    "where the category roll-up would be re-cut anyway).",
)
def q25_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .cache_registry import track

    items, thr, l3 = _basket_itemsets(spark, sf_dir)
    # l3 feeds the three unpivoted rule branches — one tracked persist
    # instead of three replays of the whole Apriori chain
    l3 = track(l3)
    a = items.select("k", F.col("i").alias("x"))
    b = items.select(F.col("k").alias("k2"), F.col("i").alias("y"))
    l2c = (
        a.join(b, (F.col("k") == F.col("k2")) & (F.col("x") < F.col("y")))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("n_ante"))
    )
    l1c = items.groupBy("i").agg(F.count(F.lit(1)).alias("n_conseq"))
    nb = items.agg(F.count_distinct(F.col("k")).alias("n_baskets"))
    branches = [
        l3.select(
            F.col(p[0]).alias("ante_a"),
            F.col(p[1]).alias("ante_b"),
            F.col(p[2]).alias("conseq"),
            F.col("n_orders").alias("n_abc"),
        )
        for p in (
            ("item_a", "item_b", "item_c"),
            ("item_a", "item_c", "item_b"),
            ("item_b", "item_c", "item_a"),
        )
    ]
    rules = branches[0].unionByName(branches[1]).unionByName(branches[2])
    out = (
        rules.join(
            F.broadcast(l2c),
            (F.col("ante_a") == F.col("x")) & (F.col("ante_b") == F.col("y")),
        )
        .join(F.broadcast(l1c), F.col("conseq") == F.col("i"))
        .crossJoin(F.broadcast(nb))
    )
    return out.select(
        "ante_a",
        "ante_b",
        "conseq",
        "n_abc",
        "n_ante",
        "n_conseq",
        F.round(F.col("n_abc") * 1.0 / F.col("n_ante"), 6).alias("confidence"),
        F.round(
            (F.col("n_abc") * F.col("n_baskets")).cast("double")
            / (F.col("n_ante") * F.col("n_conseq")),
            6,
        ).alias("lift"),
    )


@register(
    "a31_contribution_shares",
    "A10+W3 ⊕ (hierarchical contribution analysis)",
    """
    WITH rev AS (
      SELECT r_name, n_name,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name
    )
    SELECT r_name, n_name,
           CAST(cents AS BIGINT) AS cents,
           round(cents * 1.0 / sum(cents) OVER (PARTITION BY r_name), 6)
             AS share_of_region,
           round(sum(cents) OVER (PARTITION BY r_name) * 1.0
                 / sum(cents) OVER (), 6) AS region_share_of_total
    FROM rev
    """,
    doc="Hierarchical contribution analysis: each nation's share of its "
    "region's revenue and each region's share of the total, from ONE "
    "grouped pass plus window sums over the tiny (region, nation) "
    "aggregate. Revenue sums in EXACT integer cents, so the window "
    "totals are accumulation-order independent and each share is a "
    "single deterministic division. The percent-of-parent drill-down "
    "every BI tool derives from a rollup — computed without rescanning "
    "the fact table per level.",
)
def a31_contribution_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = _t(spark, sf_dir, "orders", "customer", "nation", "region")
    rev = (
        t["orders"]
        .join(broadcast_if_dim(t["customer"], bounded=False, why="SF-proportional dim; AQE decides"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
        )
    )
    region_tot = F.sum("cents").over(Window.partitionBy("r_name"))
    grand_tot = F.sum("cents").over(Window.partitionBy())
    return rev.select(
        "r_name",
        "n_name",
        "cents",
        F.round(F.col("cents") * F.lit(1.0) / region_tot, 6).alias("share_of_region"),
        F.round(region_tot * F.lit(1.0) / grand_tot, 6).alias("region_share_of_total"),
    )


@register(
    "a32_heavy_hitters",
    "A11 ⊕ (exact heavy hitters via bounded-state candidates)",
    """
    SELECT p_brand, CAST(count(*) AS BIGINT) AS cnt
    FROM part
    GROUP BY p_brand
    HAVING count(*) >= 0.03125 * (SELECT count(*) FROM part)
    """,
    doc="Exact heavy hitters (keys with frequency >= support*N) in two "
    "bounded-memory passes: stat.freqItems (Misra-Gries family, "
    "O(1/support) state per partition, no false negatives) generates a "
    "driver-sized candidate list, then one exact count restricted to "
    "the candidates drops the false positives. Cross-checks the CMS "
    "sketch family with an oracle-verifiable answer: unlike the "
    "one-shot groupBy-HAVING the oracle runs, aggregation state here "
    "is bounded by 1/support, not key cardinality — the property that "
    "matters when the keys themselves are data-scale. Support 1/32 is "
    "exactly representable in binary AND decimal so the threshold "
    "comparison agrees bit-for-bit across engines.",
)
def a32_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from praw_etl_student_dropout_spark.operators.sketches import heavy_hitters

    part = _t(spark, sf_dir, "part")["part"]
    return heavy_hitters(part, "p_brand", support=0.03125)


@register(
    "f12_collation_ci_filter",
    "F1-F3 ⊕ (collation-aware string comparison)",
    """
    SELECT p_brand, CAST(count(*) AS BIGINT) AS cnt
    FROM part
    WHERE p_type ILIKE '%eCoNoMy%'
    GROUP BY p_brand
    """,
    doc="Case-insensitive predicate via Spark 4 collations: the column "
    "is collated UTF8_LCASE and ordinary .contains() becomes "
    "case-insensitive — no lower() rewrite of either operand, so the "
    "expression keeps its simple form and the optimizer still sees a "
    "deterministic scalar predicate it can push to the scan. The "
    "oracle expresses the same semantics with ILIKE. At scale this is "
    "preferable to wrapping both sides in lower(): collation is a "
    "property of the comparison, not a per-row rewrite, and "
    "collation-aware filters/joins/groupings all share the one "
    "declaration.",
)
def f12_collation_ci_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")["part"]
    return (
        part.filter(F.collate(F.col("p_type"), "UTF8_LCASE").contains(F.lit("eCoNoMy")))
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "a33_aqp_sample_estimate",
    "A ⊕ (approximate query processing with error bounds)",
    """
    WITH s AS (
      SELECT l_extendedprice AS x
      FROM lineitem
      WHERE CAST(concat('0x', substring(
              md5(CAST(l_orderkey AS VARCHAR) || '-' ||
                  CAST(l_linenumber AS VARCHAR)), 1, 6)) AS BIGINT) % 100 = 0
    ),
    agg AS (
      SELECT count(*) AS n,
             round(sum(x), 2) AS sum_x,
             round(sum(x * x), 2) AS sumsq_x
      FROM s
    )
    SELECT CAST(n AS BIGINT) AS sample_n,
           CAST(round(sum_x * 100, 2) AS DOUBLE) AS est_total,
           round(sum_x / n, 6) AS est_mean,
           round(1.96 * sqrt((sumsq_x - sum_x * sum_x / n) / (n - 1) / n), 6)
             AS mean_ci95_halfwidth
    FROM agg
    """,
    doc="Approximate query processing: a 1% DETERMINISTIC hash sample "
    "(md5 of the row key — reproducible on any engine, no RNG state) "
    "answers total/mean with a CLT 95% confidence half-width computed "
    "from rounded power sums (the a16 cross-engine-stability pattern; "
    "native stddev is Welford-streamed and accumulation-order "
    "sensitive). At 100 TB this is the difference between scanning "
    "1 TB and scanning everything for a dashboard number that only "
    "needs ±1%; because the sample predicate is a pure function of the "
    "key, the estimate is reproducible and auditable, and the same "
    "predicate pushes down to the parquet scan.",
)
def a33_aqp_sample_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    key = F.concat_ws(
        "-", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string")
    )
    bucket = F.conv(F.substring(F.md5(key), 1, 6), 16, 10).cast("long") % 100
    s = li.filter(bucket == 0).select(F.col("l_extendedprice").alias("x"))
    agg = s.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("x"), 2).alias("sum_x"),
        F.round(F.sum(F.col("x") * F.col("x")), 2).alias("sumsq_x"),
    )
    n, sx, sxx = F.col("n"), F.col("sum_x"), F.col("sumsq_x")
    return agg.select(
        n.alias("sample_n"),
        F.round(sx * 100, 2).cast("double").alias("est_total"),
        F.round(sx / n, 6).alias("est_mean"),
        F.round(
            1.96 * F.sqrt((sxx - sx * sx / n) / (n - 1) / n), 6
        ).alias("mean_ci95_halfwidth"),
    )


@register(
    "t6_incremental_topk",
    "T3+A25 ⊕ (incremental top-k maintenance)",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
    LIMIT 100
    """,
    doc="Top-k under append-only ingestion without rescanning history: "
    "for monotone insert-only data, top-k(base ∪ delta) = "
    "top-k(top-k(base) ∪ delta) — the k-row retained state replaces "
    "the full base scan on every refresh (the incremental-session "
    "top-k idea from the interactive-analysis literature). The engine "
    "side computes the incremental form (base = 90% split, delta = "
    "10%); the oracle computes the direct form over everything — the "
    "hash match IS the proof of the maintenance identity. Each side's "
    "top-k is TakeOrderedAndProject (per-partition heaps + driver "
    "merge of k rows, never a global sort). Deletions/updates void "
    "the identity — that path goes through the CDC diff + full "
    "recompute, documented in a25.",
)
def t6_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    cols = ["l_orderkey", "l_linenumber", "l_extendedprice"]
    order = [
        F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")
    ]
    base = li.filter(F.col("l_orderkey") % 10 != 0)
    delta = li.filter(F.col("l_orderkey") % 10 == 0)
    retained = base.select(*cols).orderBy(*order).limit(100)
    return retained.unionByName(delta.select(*cols)).orderBy(*order).limit(100)


@register(
    "a34_skew_report",
    "A ⊕ (join-key skew diagnosis)",
    """
    WITH c AS (
      SELECT l_suppkey AS key, count(*) AS cnt FROM lineitem GROUP BY 1
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(min(cnt) AS BIGINT) AS min_cnt,
             CAST(max(cnt) AS BIGINT) AS max_cnt,
             round(avg(cnt), 6) AS avg_cnt,
             quantile_cont(cnt, 0.50) AS p50_cnt,
             quantile_cont(cnt, 0.99) AS p99_cnt
      FROM c
    )
    SELECT n_keys, min_cnt, max_cnt, avg_cnt,
           CAST(p50_cnt AS DOUBLE) AS p50_cnt,
           CAST(p99_cnt AS DOUBLE) AS p99_cnt,
           round(max_cnt / avg_cnt, 6) AS skew_factor
    FROM stats
    """,
    doc="Join-key skew diagnosis in one pass over the key histogram: "
    "count per key, then count/min/max/avg/median/p99 of the counts "
    "and the max/avg skew factor — the number that decides between a "
    "plain shuffle join (skew ~1), AQE skew-split (moderate), and "
    "explicit salting (a hot key owning a reducer, see "
    "a24_salted_hot_key_agg). At 100 TB this report is what you run "
    "BEFORE the join: the histogram is one map-side-combined groupBy, "
    "and its output is key-cardinality-sized, not data-sized. The "
    "exact percentile is the oracle-checkable twin of the "
    "approx_percentile you would use when key cardinality itself is "
    "huge.",
)
def a34_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    c = li.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return c.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.min("cnt").alias("min_cnt"),
        F.max("cnt").alias("max_cnt"),
        F.round(F.avg("cnt"), 6).alias("avg_cnt"),
        F.expr("percentile(cnt, 0.50)").alias("p50_cnt"),
        F.expr("percentile(cnt, 0.99)").alias("p99_cnt"),
    ).select(
        "*",
        F.round(F.col("max_cnt") / F.col("avg_cnt"), 6).alias("skew_factor"),
    )


@register(
    "a35_mv_rollup_rewrite",
    "A ⊕ (summary-table navigation / MV rollup rewrite)",
    """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS cnt,
           round(sum(l_quantity), 2) AS sum_qty,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_price_cents
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Aggregate-navigator rewrite: the query asks for per-returnflag "
    "totals, but the engine answers it from the (returnflag, "
    "linestatus) summary table — re-aggregating partial counts and "
    "sums from the MV's handful of rows instead of scanning the fact. "
    "Price totals are EXACT integer cents so partial merge order cannot "
    "shift a rounded digit (the a31 pattern). "
    "Valid because count/sum are algebraic (partials merge by "
    "addition) and the MV's grouping is a refinement of the query's; "
    "the oracle computes the direct form over the fact table, so the "
    "hash match IS the proof of the rollup identity. At 100 TB this "
    "turns a fact scan into a metadata-sized read — the core trick "
    "behind every summary-table/cube engine — and composes with "
    "a25_incremental_agg, which keeps the MV itself fresh in O(delta).",
)
def a35_mv_rollup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    # the materialized summary at finer grain (in production: a stored
    # table maintained incrementally; here built inline so the query is
    # self-contained — the REWRITE below never touches `li` again)
    mv = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("p_cnt"),
        F.sum("l_quantity").alias("p_qty"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "p_price_cents"
        ),
    )
    return mv.groupBy("l_returnflag").agg(
        F.sum("p_cnt").alias("cnt"),
        F.round(F.sum("p_qty"), 2).alias("sum_qty"),
        F.sum("p_price_cents").alias("sum_price_cents"),
    )


@register(
    "etl_changelog_compact",
    "ETL ⊕ (CDC changelog net-effect compaction)",
    """
    WITH log AS (
      SELECT user_id, ts, event_id,
             CASE event_type WHEN 'signup' THEN 'I'
                             WHEN 'error' THEN 'D'
                             ELSE 'U' END AS op
      FROM events
    ),
    fl AS (
      SELECT user_id,
             first(op ORDER BY ts, event_id) AS first_op,
             last(op ORDER BY ts, event_id) AS last_op,
             last(ts ORDER BY ts, event_id) AS ts,
             CAST(last(event_id ORDER BY ts, event_id) AS BIGINT) AS event_id
      FROM log GROUP BY user_id
    )
    SELECT user_id, net_op, ts, event_id FROM (
      SELECT user_id,
             CASE WHEN first_op = 'I' AND last_op = 'D' THEN NULL
                  WHEN last_op = 'D' THEN 'D'
                  WHEN first_op = 'I' THEN 'I'
                  ELSE 'U' END AS net_op,
             ts, event_id
      FROM fl
    ) WHERE net_op IS NOT NULL
    """,
    doc="Changelog compaction before apply: collapse each key's I/U/D "
    "event sequence to its net effect (insert-then-delete vanishes; "
    "trailing delete wins; surviving keys carry the LAST payload) — "
    "the Kafka-compacted-topic / Debezium-batch semantics that keep a "
    "replica's MERGE cost proportional to distinct keys touched, not "
    "events received. One shuffle: first/last rows via min/max over an "
    "order-leading struct, no per-key history buffered. The op mapping "
    "(signup→I, error→D, else U) is a deterministic stand-in for a "
    "real CDC feed's op column; (ts, event_id) is the total order.",
)
def etl_changelog_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.etl import changelog_compact

    ev = _t(spark, sf_dir, "events")["events"]
    log = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
    )
    return changelog_compact(log, "user_id", ["ts", "event_id"])


@register(
    "etl_snapshot_asof",
    "ETL ⊕ (time-travel read: table state AS OF a timestamp from a CDC changelog)",
    """
    WITH log AS (
      SELECT user_id, ts, event_id, value,
             CASE event_type WHEN 'signup' THEN 'I'
                             WHEN 'error' THEN 'D'
                             ELSE 'U' END AS op
      FROM events
      WHERE ts <= TIMESTAMP '2024-01-20 00:00:00'
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY user_id
        ORDER BY ts DESC, event_id DESC,
          CASE op WHEN 'I' THEN 0 WHEN 'U' THEN 1
                  WHEN 'D' THEN 2 ELSE 3 END DESC) AS rn
      FROM log
    )
    SELECT user_id, ts, CAST(event_id AS BIGINT) AS event_id,
           CAST(value AS DOUBLE) AS value
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
    doc="Point-in-time state reconstruction — the lakehouse "
    "`VERSION AS OF` / time-travel read, expressed over a raw change "
    "stream (operators/etl.snapshot_asof): filter the changelog to "
    "rows at-or-before the cut, take the LAST row per key by the "
    "(ts, event_id) total order via one max_by against the carried "
    "payload struct, drop keys whose last op is a delete. The "
    "complement of etl_changelog_compact: compaction answers what to "
    "REPLAY downstream, this answers what the table CONTAINS at T — a "
    "key seen only as U exists here, and a trailing tombstone hides "
    "the key entirely. Same op-rank tie contract (I<U<D: a tied "
    "delete wins — tombstone-conservative). Scale shape: the as-of "
    "filter is a pushed parquet predicate (min/max pruning skips "
    "whole row groups of newer data), then ONE key shuffle with "
    "min_by/max_by partials — no per-key history buffered, no window "
    "over raw events; the op mapping (signup→I, error→D, else U) is "
    "the deterministic CDC-feed stand-in etl_changelog_compact "
    "established.",
)
def etl_snapshot_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.etl import snapshot_asof

    ev = _t(spark, sf_dir, "events")["events"]
    log = ev.filter(
        F.col("ts") <= F.lit("2024-01-20 00:00:00").cast("timestamp")
    ).select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
    )
    return snapshot_asof(log, "user_id", ["ts", "event_id"]).select(
        "user_id",
        "ts",
        F.col("event_id").cast("long").alias("event_id"),
        F.col("value").cast("double").alias("value"),
    )


@register(
    "etl_snapshot_refresh",
    "ETL ⊕ (incremental snapshot refresh: advance T0 state by the (T0, T1] delta)",
    """
    WITH log AS (
      SELECT user_id, ts, event_id, value,
             CASE event_type WHEN 'signup' THEN 'I'
                             WHEN 'error' THEN 'D'
                             ELSE 'U' END AS op
      FROM events
      WHERE ts <= TIMESTAMP '2024-01-25 00:00:00'
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY user_id
        ORDER BY ts DESC, event_id DESC,
          CASE op WHEN 'I' THEN 0 WHEN 'U' THEN 1
                  WHEN 'D' THEN 2 ELSE 3 END DESC) AS rn
      FROM log
    )
    SELECT user_id, ts, CAST(event_id AS BIGINT) AS event_id,
           CAST(value AS DOUBLE) AS value
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
    doc="The maintenance half of etl_snapshot_asof (VERDICT r13 #6): "
    "the T0 snapshot is a PERSISTED layout "
    "(operators/bucketing.ensure_events_snapshot — bucketed by "
    "user_id, T0 and bucket count encoded in the path) and advancing "
    "it to T1 folds ONLY the (T0, T1] changelog delta "
    "(operators/etl.snapshot_merge_delta): per key the delta's last "
    "row — (ts, event_id) order, I<U<D tie rank, same "
    "tombstone-conservative contract as snapshot_asof — deletes, "
    "replaces, or inserts the state row; untouched keys pass through "
    "from the snapshot scan. No order comparison against T0 rows is "
    "needed (every delta row is strictly later), so the fold is one "
    "delta-sized max_by shuffle + one join that rides the snapshot's "
    "bucket layout — cost ∝ rows changed (17% of events in (T0, T1] "
    "at every SF), never ∝ table size, the MV2 merge pattern applied "
    "to the CDC family. The ORACLE is the full AS-OF SQL at T1 over "
    "the raw changelog, so every grade proves "
    "merge(snapshot(T0), delta) == snapshot(T1) value-exactly.",
)
def etl_snapshot_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bucketing import (
        EVENTS_SNAPSHOT_T0,
        ensure_events_snapshot,
        events_cdc_log,
    )
    from ..operators.etl import snapshot_merge_delta

    t1 = "2024-01-25 00:00:00"
    snap0 = spark.table(ensure_events_snapshot(spark, sf_dir))
    ev = _t(spark, sf_dir, "events")["events"]
    delta = events_cdc_log(ev).filter(
        (F.col("ts") > F.lit(EVENTS_SNAPSHOT_T0).cast("timestamp"))
        & (F.col("ts") <= F.lit(t1).cast("timestamp"))
    )
    return snapshot_merge_delta(
        snap0, delta, "user_id", ["ts", "event_id"]
    ).select(
        "user_id",
        "ts",
        F.col("event_id").cast("long").alias("event_id"),
        F.col("value").cast("double").alias("value"),
    )


@register(
    "etl_scd2_apply",
    "ETL ⊕ (incremental SCD2 maintenance: fold the (T0, T1] delta into the history)",
    """
    WITH marked AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN event_type IS DISTINCT FROM
                    lag(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WHERE ts <= TIMESTAMP '2024-01-25 00:00:00'
    ), versioned AS (
      SELECT user_id, event_type, ts, event_id,
             sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS version
      FROM marked
    ), collapsed AS (
      SELECT user_id, version, event_type,
             min(ts) AS valid_from, CAST(count(*) AS BIGINT) AS n_rows
      FROM versioned GROUP BY user_id, version, event_type
    )
    SELECT user_id, CAST(version AS BIGINT) AS version, event_type,
           valid_from,
           lead(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY version) AS valid_to,
           n_rows
    FROM collapsed
    """,
    doc="The maintenance half of etl_scd2_dim, closing the r14 rung set "
    "(MV pre-agg, CDC snapshot, IVF index, SCD2 history): the T0 "
    "version history is a PERSISTED layout "
    "(operators/bucketing.ensure_scd2_history — bucketed by user_id, "
    "T0 and bucket count encoded in the path) and advancing it to T1 "
    "folds ONLY the (T0, T1] event delta (operators/etl.scd2_apply). "
    "Per delta key the OPEN version seeds change detection (first "
    "delta row compares null-safe against the open type, so a "
    "brand-new key opens version 1 like a fresh build), version ids "
    "continue from the open number, delta runs collapse and merge "
    "into the open pseudo-row, one per-key lead re-closes intervals. "
    "Closed versions and untouched open versions pass through WITHOUT "
    "a shuffle — the only exchanged data is the delta plus touched "
    "open rows, cost ∝ rows changed, never history size (no order "
    "comparison against closed history: every delta row is strictly "
    "later than T0). The ORACLE is the full SCD2 SQL at T1 over raw "
    "events, so every grade proves apply(history(T0), delta) == "
    "history(T1) value-exactly, layout and re-registration included.",
)
def etl_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bucketing import SCD2_T0, ensure_scd2_history
    from ..operators.etl import scd2_apply

    t1 = "2024-01-25 00:00:00"
    hist = spark.table(ensure_scd2_history(spark, sf_dir))
    ev = _t(spark, sf_dir, "events")["events"]
    delta = ev.filter(
        (F.col("ts") > F.lit(SCD2_T0).cast("timestamp"))
        & (F.col("ts") <= F.lit(t1).cast("timestamp"))
    )
    return scd2_apply(hist, delta, "user_id", "event_type", ["ts", "event_id"])


@register(
    "a72_approx_percentile_contract",
    "A12 ⊕ (approx_percentile sketch contract: exact anchor + rank-error bound)",
    """
    WITH v AS (
      SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS v
      FROM lineitem
    )
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
           round(quantile_cont(v, 0.50), 4) AS exact_p50,
           round(quantile_cont(v, 0.90), 4) AS exact_p90,
           round(quantile_cont(v, 0.99), 4) AS exact_p99,
           TRUE AS rank_ok_p50,
           TRUE AS rank_ok_p90,
           TRUE AS rank_ok_p99
    FROM v GROUP BY l_returnflag
    """,
    doc="The A11-HLL contract pattern applied to approx_percentile — "
    "Spark's mergeable quantile sketch, THE production quantile path "
    "at 100 TB (a12's exact percentile() buffers whole groups on one "
    "heap; the sketch is bounded-memory and partial-mergeable). The "
    "sketch estimate stays engine-internal; the grade value-matches "
    "the EXACT p50/p90/p99 both engines compute over integer cents "
    "(linear interpolation on exact integers, rounded once at 4 dp — the engines' interpolation expression trees differ by ULPs; the a12 "
    "lineage) and pins the sketch's rank-error contract per row: "
    "the returned value's occupied rank interval [count(<a)+1, "
    "count(<=a)] must intersect q·n ± (n/accuracy + 1), accuracy "
    "1000. The EXACT leg is rank-select over the distinct-cents "
    "histogram (the a70 two-level-CDF lesson: the bounded PRICE "
    "domain sizes the window, never percentile()'s per-group heap), "
    "so the whole entry survives groups that would OOM the a12 "
    "form. Three scans, each one shuffle: histogram, sketch+count, "
    "rank recheck of the sketch's own output.",
)
def a72_approx_percentile_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    QS = [0.50, 0.90, 0.99]
    ACC = 1000
    li = _t(spark, sf_dir, "lineitem")["lineitem"].select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("v"),
    )
    # sketch + count: one grouped pass (the production plan shape)
    ap = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile_approx(
            "v", F.array(*[F.lit(q) for q in QS]), F.lit(ACC)
        ).alias("ap"),
    )
    ap_flat = ap.select(
        "l_returnflag",
        "n",
        *[F.col("ap")[i].alias(f"a{i}") for i in range(len(QS))],
    )
    # exact leg: rank-select over the distinct-cents histogram — the
    # window frame is the bounded price DOMAIN, never the row count
    counts = li.groupBy("l_returnflag", "v").agg(F.count(F.lit(1)).alias("c"))
    wd = Window.partitionBy("l_returnflag").orderBy("v")
    hist = counts.select(
        "l_returnflag",
        "v",
        F.sum("c").over(wd).alias("cum"),
        (F.sum("c").over(wd) - F.col("c")).alias("prev"),
    ).join(
        broadcast_if_dim(
            ap_flat.select("l_returnflag", "n"),
            bounded=True,
            why="one row per return flag (3-value domain)",
        ),
        "l_returnflag",
    )
    exacts = []
    for i, q in enumerate(QS):
        p = F.lit(q) * (F.col("n") - 1)  # 0-based continuous rank
        rlo = F.floor(p) + 1
        rhi = F.ceil(p) + 1
        lo_v = F.max(
            F.when((F.col("prev") < rlo) & (rlo <= F.col("cum")), F.col("v"))
        )
        hi_v = F.max(
            F.when((F.col("prev") < rhi) & (rhi <= F.col("cum")), F.col("v"))
        )
        frac = p - F.floor(p)
        exacts.append(
            F.round(lo_v + (hi_v - lo_v) * F.max(frac), 4).alias(
                f"exact_p{int(q * 100)}"
            )
        )
    exact = hist.groupBy("l_returnflag").agg(*exacts)
    # rank recheck of the sketch's own output: occupied rank interval
    # of each returned value vs the q·n ± n/ACC guarantee
    rk = (
        li.join(
            broadcast_if_dim(
                ap_flat, bounded=True, why="one row per return flag"
            ),
            "l_returnflag",
        )
        .groupBy("l_returnflag")
        .agg(
            *[
                F.sum(F.when(F.col("v") < F.col(f"a{i}"), 1).otherwise(0)).alias(f"lo{i}")
                for i in range(len(QS))
            ],
            *[
                F.sum(F.when(F.col("v") <= F.col(f"a{i}"), 1).otherwise(0)).alias(f"hi{i}")
                for i in range(len(QS))
            ],
        )
    )
    checks = []
    for i, q in enumerate(QS):
        t = F.lit(q) * F.col("n")
        err = F.col("n") / F.lit(ACC) + 1
        checks.append(
            (
                (F.col(f"lo{i}") + 1 <= t + err) & (F.col(f"hi{i}") >= t - err)
            ).alias(f"rank_ok_p{int(q * 100)}")
        )
    return (
        ap_flat.join(exact, "l_returnflag")
        .join(rk, "l_returnflag")
        .select(
            "l_returnflag",
            "n",
            *[F.col(f"exact_p{int(q * 100)}") for q in QS],
            *checks,
        )
    )


@register(
    "a70_weighted_quantiles",
    "A12 ⊕ (weighted quantiles over the distinct-value domain)",
    """
    WITH pts AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
             CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS w
      FROM lineitem GROUP BY 1
    ),
    cum AS (
      SELECT v, sum(w) OVER (ORDER BY v) AS cumw FROM pts
    ),
    tot AS (SELECT CAST(sum(w) AS BIGINT) AS total FROM pts)
    SELECT q, CAST(min(v) AS BIGINT) AS value_cents
    FROM cum, tot, (VALUES (25), (50), (75), (90), (99)) AS qs(q)
    WHERE cumw * 100 >= q * total
    GROUP BY q
    """,
    doc="Weighted p25/p50/p75/p90/p99 of the line price, weighted by "
    "quantity — 'the price a unit of VOLUME sees', the warehouse "
    "complement to a12's row-weighted percentiles (a cheap 1-cent line "
    "of qty 50 should pull the volume median 50× harder than a row). "
    "Definition: the q-quantile is the smallest value whose cumulative "
    "weight reaches q% of total weight — evaluated entirely in exact "
    "integers (cents values, floor'd integer quantities, the threshold "
    "as cumw·100 ≥ q·total with BIGINT products), so there is no "
    "interpolation-mode or float-order exposure anywhere. Scale shape "
    "— a TWO-LEVEL histogram CDF select, because the extendedprice "
    "cents domain is rows-scale (≈ lineitem cardinality), so neither a "
    "single-task domain window (the a12 anti-pattern) nor a full "
    "distributed prefix sum (global_rank-style: measured 2× worse at "
    "32× — the fork persist materializes the whole domain) is the "
    "right plan: (1) one aggregation shuffle to DOLLAR buckets — "
    "bounded by the PRICE RANGE (~110k cells), not the row count, the "
    "a46/a49 domain-frame exception — and a cumsum over that bounded "
    "frame locates each quantile's target bucket; (2) the raw rows are "
    "then broadcast-semi-joined to the ≤5 target buckets and only "
    "those tiny slices (~10² rows each) get a within-bucket running "
    "sum. No persist, no rows-scale window, never percentile()'s "
    "whole-group heap buffer (the §9a OOM edge). Selection is "
    "tie-layout-safe by the values-at-threshold argument: only WHICH "
    "values satisfy the cumulative test matters, and any within-value "
    "prefix reaching the threshold implies the value's full cumulative "
    "weight does too.",
)
def a70_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    rows = li.select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("v"),
        F.floor(F.col("l_quantity")).cast("long").alias("w"),
    )
    # level 1: dollar-bucket CDF (bounded by the price range)
    buckets = rows.groupBy((F.col("v") / 10000).cast("long").alias("b")).agg(
        F.sum("w").cast("long").alias("wb")
    )
    bw = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    cumb = buckets.select(
        "b", "wb", F.sum("wb").over(bw).cast("long").alias("cum_b")
    )
    tot = buckets.agg(F.sum("wb").cast("long").alias("total"))
    qs = spark.range(1).select(
        F.explode(F.array(*[F.lit(q) for q in (25, 50, 75, 90, 99)])).alias("q")
    )
    # target bucket per q: the first bucket whose cumulative weight
    # reaches the threshold; carry the exclusive offset into it
    targets = (
        cumb.crossJoin(F.broadcast(tot))
        .join(F.broadcast(qs))
        .filter(F.col("cum_b") * 100 >= F.col("q") * F.col("total"))
        .groupBy("q", "total")
        .agg(
            F.min_by(F.col("b"), F.col("b")).alias("b"),
            F.min_by(F.col("cum_b") - F.col("wb"), F.col("b")).alias("offset_b"),
        )
    )
    # level 2: within-bucket running sum over the ≤5 tiny target slices
    sel = rows.join(
        F.broadcast(targets),
        (F.col("v") / 10000).cast("long") == F.col("b"),
    )
    vw = (
        Window.partitionBy("q")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    hit = sel.withColumn(
        "cumw", (F.col("offset_b") + F.sum("w").over(vw)).cast("long")
    ).filter(F.col("cumw") * 100 >= F.col("q") * F.col("total"))
    return hit.groupBy("q").agg(F.min("v").cast("long").alias("value_cents"))


@register(
    "a71_psi_drift",
    "A ⊕ (population stability index between two periods)",
    """
    WITH binned AS (
      SELECT least(CAST(floor(o_totalprice / 60000) AS BIGINT), 9) AS bin,
             CAST(count(*) FILTER (o_orderdate < DATE '1998-01-01')
                  AS BIGINT) AS n_ref,
             CAST(count(*) FILTER (o_orderdate >= DATE '1998-01-01')
                  AS BIGINT) AS n_cur
      FROM orders GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n_ref) AS BIGINT) AS t_ref,
             CAST(sum(n_cur) AS BIGINT) AS t_cur
      FROM binned
    ),
    terms AS (
      SELECT bin, n_ref, n_cur,
             CASE WHEN n_ref = 0 OR n_cur = 0 THEN 0.0
                  ELSE (n_cur * 1.0 / t_cur - n_ref * 1.0 / t_ref)
                       * ln((n_cur * 1.0 / t_cur) / (n_ref * 1.0 / t_ref))
             END AS term
      FROM binned, tot
    )
    SELECT bin, n_ref, n_cur, round(term, 6) AS psi_term,
           round(sum(term) OVER (), 6) AS psi_total
    FROM terms
    """,
    doc="Population Stability Index of the order-value distribution "
    "between the pre-/post-1998 periods (the a66 split) — THE standard "
    "ML-monitoring drift metric (credit-scoring lineage; rule of "
    "thumb: <0.1 stable, >0.25 shifted), complementing "
    "llm_corpus_drift's term-level JSD with the numeric-feature form: "
    "PSI = Σ_bins (p_cur − p_ref)·ln(p_cur/p_ref) over fixed "
    "equal-width value bins. Counts are exact integers from ONE "
    "conditional-aggregation pass (both periods in the same groupBy — "
    "never two scans); the float algebra is one shared expression tree "
    "with shares normalized before the log, and a bin empty on either "
    "side contributes zero by declared convention (identical CASE both "
    "engines — the a69 zero-guard discipline). Output: per-bin counts "
    "+ term, with the total replicated per row via a sum over the "
    "≤10-row bin frame (the a28 contingency-frame window exception). "
    "Scale shape: one value-bin groupBy (bounded domain), a 1-row "
    "totals broadcast, a 10-row window — fully partial-aggregatable.",
)
def a71_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")["orders"]
    cut = F.col("o_orderdate") < F.lit("1998-01-01").cast("date")
    binned = orders.groupBy(
        F.least(
            F.floor(F.col("o_totalprice") / 60000).cast("long"), F.lit(9)
        ).alias("bin")
    ).agg(
        F.count(F.when(cut, 1)).cast("long").alias("n_ref"),
        F.count(F.when(~cut, 1)).cast("long").alias("n_cur"),
    )
    tot = binned.agg(
        F.sum("n_ref").cast("long").alias("t_ref"),
        F.sum("n_cur").cast("long").alias("t_cur"),
    )
    p_cur = F.col("n_cur") * 1.0 / F.col("t_cur")
    p_ref = F.col("n_ref") * 1.0 / F.col("t_ref")
    term = F.when(
        (F.col("n_ref") == 0) | (F.col("n_cur") == 0), F.lit(0.0)
    ).otherwise((p_cur - p_ref) * F.log(p_cur / p_ref))
    terms = binned.crossJoin(F.broadcast(tot)).withColumn("term", term)
    w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return terms.select(
        "bin",
        "n_ref",
        "n_cur",
        F.round(F.col("term"), 6).alias("psi_term"),
        F.round(F.sum("term").over(w), 6).alias("psi_total"),
    )


@register(
    "etl_table_integrity_diff",
    "ETL ⊕ (bucket-hash replica verification)",
    """
    WITH canon AS (
      SELECT l_orderkey, l_linenumber,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    ),
    a AS (
      SELECT l_orderkey % 64 AS bucket,
             sum(CAST(concat('0x', substring(md5(
               CAST(l_orderkey AS VARCHAR) || '|' ||
               CAST(l_linenumber AS VARCHAR) || '|' ||
               CAST(cents AS VARCHAR)), 1, 12)) AS BIGINT)) AS h
      FROM canon GROUP BY 1
    ),
    b AS (
      SELECT l_orderkey % 64 AS bucket,
             sum(CAST(concat('0x', substring(md5(
               CAST(l_orderkey AS VARCHAR) || '|' ||
               CAST(l_linenumber AS VARCHAR) || '|' ||
               CAST(CASE WHEN l_orderkey = 0
                         THEN cents + 1 ELSE cents END AS VARCHAR)), 1, 12))
               AS BIGINT)) AS h
      FROM canon GROUP BY 1
    )
    SELECT a.bucket, CAST(count(*) AS BIGINT) AS n_diff_buckets
    FROM a JOIN b ON a.bucket = b.bucket AND a.h != b.h
    GROUP BY a.bucket
    """,
    doc="Replica anti-entropy at warehouse scale: each side reduces to "
    "64 bucket hashes (sum of per-row md5-derived integers, grouped by "
    "key hash) and only DIFFERING buckets are reported — comparing two "
    "100 TB tables costs two scans and a 64-row join, and the differing "
    "bucket ids tell the repair job which key ranges to re-sync "
    "(recurse into a bucket for finer localization = the Merkle-tree "
    "refinement). The 'replica' here injects one mutated row inline so "
    "the query is self-contained and the answer is pinned: exactly the "
    "mutated key's bucket differs. Sum-of-hashes makes the bucket "
    "digest order- and partition-independent — the property that lets "
    "both engines (and any shuffle layout) agree bit-for-bit.",
)
def etl_table_integrity_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")

    def bucket_hashes(cents_col):
        row = F.concat_ws(
            "|",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
            cents_col.cast("string"),
        )
        h = F.conv(F.substring(F.md5(row), 1, 12), 16, 10).cast("long")
        return (
            li.select((F.col("l_orderkey") % 64).alias("bucket"), h.alias("h"))
            .groupBy("bucket")
            .agg(F.sum("h").alias("h"))
        )

    # Mutate every row of orderkey 0 — that key exists at EVERY shipped
    # scale factor (sf0.001/0.01/0.1), so exactly bucket 0 differs at
    # every scale; a (orderkey, linenumber) point key only exists in
    # some fixtures and would make the diff vacuously empty elsewhere.
    mutated = F.when(F.col("l_orderkey") == 0, cents + 1).otherwise(cents)
    a = bucket_hashes(cents)
    b = bucket_hashes(mutated).withColumnRenamed("h", "h_b")
    return (
        a.join(b, "bucket")
        .filter(F.col("h") != F.col("h_b"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_diff_buckets"))
    )


@register(
    "j10_bloom_semi_reduction",
    "J4 ⊕ (bloom-filter semi-join reduction)",
    """
    SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
           CAST(count(*) AS BIGINT) AS n_items,
           round(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                          AS BIGINT)) / 10000.0, 2) AS revenue
    FROM lineitem
    WHERE l_orderkey IN (
      SELECT o_orderkey FROM orders
      WHERE o_orderpriority = '1-URGENT'
        AND year(o_orderdate) = 1996
    )
    GROUP BY ship_month
    """,
    doc="J10 — bloom-filter semi-join reduction "
    "(operators/joins.py::bloom_semi_reduce): monthly revenue of line "
    "items belonging to 1996 URGENT orders. Spark's own runtime row "
    "filtering injects this exact shape (a BloomFilterAggregate scalar "
    "subquery pushed into the probe scan), but bloom_filter_agg is not "
    "publicly registered — so the engine builds the same artifact from "
    "public primitives: k xxhash64 probes OR-folded with bit_or into a "
    "bounded m/64-long array (8 KiB, constant in data size), inlined as "
    "a folded literal so every probe row pays k element_at+AND ops "
    "inside codegen — no join, no Python — BEFORE the shuffle; the "
    "exact semi join afterwards removes false positives, so the result "
    "is bit-identical to the plain semi join the oracle computes (a "
    "driver grade is a per-round no-false-negative proof). The 100 TB "
    "shape: the filtered key set is too big to broadcast as a hash set, "
    "but the fact side dominates the exchange — the bloom cuts it at "
    "the scan.",
)
def j10_bloom_semi_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import bloom_semi_reduce

    t = _t(spark, sf_dir, "orders", "lineitem")
    urgent = t["orders"].filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.year("o_orderdate") == 1996)
    )
    reduced = bloom_semi_reduce(
        t["lineitem"], urgent, "l_orderkey", "o_orderkey"
    )
    return reduced.groupBy(
        F.date_format("l_shipdate", "yyyy-MM").alias("ship_month")
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        # price has 2 decimals, (1-discount) has 2 -> the product is exact
        # in 1e-4 units; summing BIGINT units makes the total independent
        # of partial-sum order on both engines (float sums are not).
        F.round(
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000)
                .cast("long")
            )
            / 10000.0,
            2,
        ).alias("revenue"),
    )


def _kmv_setops_sql(k: int = 256, seed: int = 23) -> str:
    coin = (
        "CAST(concat('0x', substring(md5(concat(CAST(id AS VARCHAR), "
        f"'#{seed}')), 1, 8)) AS BIGINT) % 1048576 / 1048576.0"
    )
    return f"""
    WITH a_ids AS (
      SELECT DISTINCT o_custkey AS id FROM orders
      WHERE o_orderpriority = '1-URGENT'
    ),
    b_ids AS (
      SELECT DISTINCT o_custkey AS id FROM orders
      WHERE o_orderpriority = '5-LOW'
    ),
    ska AS (SELECT id, {coin} AS coin FROM a_ids ORDER BY coin, id LIMIT {k}),
    skb AS (SELECT id, {coin} AS coin FROM b_ids ORDER BY coin, id LIMIT {k}),
    sku AS (
      SELECT id, coin FROM (
        SELECT id, coin FROM ska UNION SELECT id, coin FROM skb
      ) ORDER BY coin, id LIMIT {k}
    ),
    sa AS (SELECT count(*) AS cnt_a, max(coin) AS hk_a FROM ska),
    sb AS (SELECT count(*) AS cnt_b, max(coin) AS hk_b FROM skb),
    su AS (SELECT count(*) AS cnt_u, max(coin) AS hk_u FROM sku),
    si AS (
      SELECT count(*) AS n_inter_sketch FROM sku
      WHERE id IN (SELECT id FROM ska) AND id IN (SELECT id FROM skb)
    )
    SELECT
      round(CASE WHEN cnt_a < {k} THEN CAST(cnt_a AS DOUBLE)
                 ELSE {k - 1}.0 / hk_a END, 6) AS est_distinct_a,
      round(CASE WHEN cnt_b < {k} THEN CAST(cnt_b AS DOUBLE)
                 ELSE {k - 1}.0 / hk_b END, 6) AS est_distinct_b,
      round(CASE WHEN cnt_u < {k} THEN CAST(cnt_u AS DOUBLE)
                 ELSE {k - 1}.0 / hk_u END, 6) AS est_union,
      CAST(n_inter_sketch AS BIGINT) AS n_inter_sketch,
      round(n_inter_sketch * 1.0 / least(cnt_u, {k}), 6) AS jaccard_est,
      round(n_inter_sketch * 1.0 / least(cnt_u, {k})
            * (CASE WHEN cnt_u < {k} THEN CAST(cnt_u AS DOUBLE)
                    ELSE {k - 1}.0 / hk_u END), 6) AS est_intersection
    FROM sa CROSS JOIN sb CROSS JOIN su CROSS JOIN si
    """


@register(
    "a40_kmv_setops",
    "A11 ⊕ (theta-sketch set-operation estimates)",
    _kmv_setops_sql(),
    doc="Distinct-set OVERLAP estimation from mergeable bottom-k "
    "sketches (theta-sketch framework, Dasgupta et al. 2016; "
    "operators/sketches.py::kmv_setops): |A|, |B|, |A∪B| via (k-1)/h_k, "
    "Jaccard and |A∩B| via the coordinated bottom-k sample — here the "
    "URGENT-order vs LOW-order customer segments. What HLL (a11b) "
    "cannot do: HLL unions but never intersects reliably, and its "
    "registers are engine-private bits; the KMV coin is the "
    "engine-portable md5 road, so the ESTIMATES THEMSELVES are "
    "oracle-checked, not just bounded. At 100 TB: one distinct + "
    "TakeOrderedAndProject per side (or per-shard sketches merged as "
    "k-row artifacts — the streamed twin kmv_stream maintains one "
    "incrementally), then k-row arithmetic; the raw sets are never "
    "joined.",
)
def a40_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import kmv_setops

    orders = _t(spark, sf_dir, "orders")["orders"]
    return kmv_setops(
        orders.filter(F.col("o_orderpriority") == "1-URGENT"),
        orders.filter(F.col("o_orderpriority") == "5-LOW"),
        "o_custkey",
    )


@register(
    "t7_ohlc_bars",
    "A7+T ⊕ (time-series OHLC downsampling)",
    """
    WITH ranked AS (
      SELECT event_type, date_trunc('hour', ts) AS bar_hour, value,
             row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rn_o,
             row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_c
      FROM events
    )
    SELECT event_type, bar_hour,
           max(CASE WHEN rn_o = 1 THEN value END) AS open_val,
           max(value) AS high_val,
           min(value) AS low_val,
           max(CASE WHEN rn_c = 1 THEN value END) AS close_val,
           CAST(count(*) AS BIGINT) AS n_events
    FROM ranked GROUP BY event_type, bar_hour
    """,
    doc="Time-series downsampling to hourly OHLC bars — the canonical "
    "metrics/market rollup. Spark computes all five statistics in ONE "
    "hash aggregation (min_by/max_by keyed on the (ts, event_id) total "
    "order pick open/close; plain min/max give low/high) — a single "
    "shuffle on (event_type, hour), no window, no second pass, and "
    "map-side partial aggregation does most of the work before the "
    "exchange (min_by partials merge like any agg). The oracle states "
    "the same semantics with two row_number windows. open/close/high/"
    "low are UNTOUCHED input doubles (no arithmetic), so cross-engine "
    "equality is exact without rounding. At 100 TB this is the shape "
    "that replaces 'sort each key's history and take first/last' — "
    "which would shuffle the full stream into per-key sorts.",
)
def t7_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    key = F.struct("ts", "event_id")
    return (
        ev.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("bar_hour")
        )
        .agg(
            F.min_by("value", key).alias("open_val"),
            F.max("value").alias("high_val"),
            F.min("value").alias("low_val"),
            F.max_by("value", key).alias("close_val"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register(
    "w12_user_paths",
    "W1+A1 ⊕ (path analysis: top journey prefixes)",
    """
    WITH ranked AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    paths AS (
      SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
      FROM ranked WHERE rn <= 5 GROUP BY user_id
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_users
    FROM paths GROUP BY path
    ORDER BY n_users DESC, path LIMIT 20
    """,
    doc="Path analysis: the 20 most common first-five-event journeys "
    "across users. The rn <= 5 filter under a row_number window "
    "compiles to WindowGroupLimit (per-partition top-k BEFORE the "
    "user_id exchange — only ≤5 rows per user per task cross the "
    "wire), then each user's prefix is assembled ORDER-DETERMINISTICALLY "
    "by sorting the collected (rn, event_type) structs before joining "
    "(collect_list order is partition-dependent; array_sort pins it — "
    "the engine-side equivalent of string_agg's ORDER BY). Final top-20 "
    "is TakeOrderedAndProject with a path tiebreak. The classic funnel/"
    "flow question ('what do users do first?') at 100 TB: two shuffles "
    "(user_id, then path), both on aggregation keys.",
)
def w12_user_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = (
        ev.select(
            "user_id", "event_type", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= 5)
    )
    paths = ranked.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.desc("n_users"), "path")
        .limit(20)
    )


# =====================================================================
# Round-8 widening: inequality / concentration statistics + smoothing
# =====================================================================

@register(
    "a44_gini_customer_value",
    "A ⊕ (inequality statistic: Gini coefficient)",
    """
    WITH cust AS (
      SELECT o_custkey, sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT c.c_nationkey, cust.cents,
             row_number() OVER (PARTITION BY c.c_nationkey
                                ORDER BY cust.cents, cust.o_custkey) AS i,
             count(*) OVER (PARTITION BY c.c_nationkey) AS n,
             sum(cust.cents) OVER (PARTITION BY c.c_nationkey) AS tot
      FROM cust JOIN customer c ON c.c_custkey = cust.o_custkey
    )
    SELECT c_nationkey AS nationkey,
           CAST(max(n) AS BIGINT) AS n_customers,
           round(2.0 * sum(CAST(i AS DOUBLE) * cents) / (max(n) * max(tot))
                 - (max(n) + 1.0) / max(n), 6) AS gini
    FROM ranked
    GROUP BY c_nationkey
    """,
    doc="Gini coefficient of customer order value per nation — the "
    "inequality statistic a corpus-balance or revenue-concentration "
    "report runs at warehouse scale. Rank-based closed form "
    "G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over the ascending total "
    "order (cents, custkey): one grouped agg to per-customer EXACT "
    "CENTS (the a16 float discipline — integer sums are "
    "engine-order-independent), one nation-partitioned rank window, "
    "one grouped fold. Two shuffles, both on aggregation keys; no "
    "driver state. Extends §2.4 with the distributional-shape "
    "statistic the reference's mean/count insights lack.",
)
def a44_gini_customer_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = _t(spark, sf_dir, "orders", "customer")
    cust = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
    )
    joined = cust.join(
        t["customer"].select("c_custkey", "c_nationkey"),
        F.col("c_custkey") == F.col("o_custkey"),
    )
    wn = Window.partitionBy("c_nationkey")
    ranked = joined.select(
        "c_nationkey",
        "cents",
        F.row_number()
        .over(wn.orderBy(F.asc("cents"), F.asc("o_custkey")))
        .alias("i"),
        F.count(F.lit(1)).over(wn).alias("n"),
        F.sum("cents").over(wn).alias("tot"),
    )
    return (
        ranked.groupBy("c_nationkey")
        .agg(
            F.max("n").cast("long").alias("n_customers"),
            F.round(
                2.0 * F.sum(F.col("i").cast("double") * F.col("cents"))
                / (F.max("n") * F.max("tot"))
                - (F.max("n") + 1.0) / F.max("n"),
                6,
            ).alias("gini"),
        )
        .select(
            F.col("c_nationkey").alias("nationkey"), "n_customers", "gini"
        )
    )


@register(
    "a45_hhi_concentration",
    "A ⊕ (market concentration: Herfindahl–Hirschman index)",
    """
    WITH rev AS (
      SELECT s.s_nationkey,
             sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
               AS cents
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY s.s_nationkey, l.l_suppkey
    ),
    shares AS (
      SELECT s_nationkey,
             CAST(cents AS DOUBLE)
               / sum(cents) OVER (PARTITION BY s_nationkey) AS share
      FROM rev
    )
    SELECT s_nationkey AS nationkey,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           round(10000.0 * sum(share * share), 4) AS hhi
    FROM shares
    GROUP BY s_nationkey
    """,
    doc="Herfindahl–Hirschman index of supplier revenue concentration "
    "per nation: per-(nation, supplier) revenue in EXACT CENTS "
    "(per-row round then integer sum — engine-order-independent), "
    "shares against the nation-partition total, HHI = 10000 * sum of "
    "squared shares. One grouped agg + one bounded window over the "
    "supplier-domain frame + one grouped fold; at 100 TB the only "
    "data-proportional cost is the first (nation, supplier) "
    "aggregation, which map-side combines. The anti-monopoly twin of "
    "a44's Gini — together they give a release report the corpus "
    "source-mix concentration numbers (llm_mixture's diagnostic).",
)
def a45_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = _t(spark, sf_dir, "lineitem", "supplier")
    rev = (
        t["lineitem"]
        .join(
            broadcast_if_dim(t["supplier"].select("s_suppkey", "s_nationkey"), bounded=False, why="SF-proportional dim; AQE decides"),
            F.col("s_suppkey") == F.col("l_suppkey"),
        )
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("long")
            ).alias("cents")
        )
    )
    share = F.col("cents").cast("double") / F.sum("cents").over(
        Window.partitionBy("s_nationkey")
    )
    return (
        rev.select("s_nationkey", (share * share).alias("sh2"))
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            F.round(10000.0 * F.sum("sh2"), 4).alias("hhi"),
        )
        .select(F.col("s_nationkey").alias("nationkey"), "n_suppliers", "hhi")
    )


@register(
    "w15_ewma_smooth",
    "W ⊕ (exponentially weighted moving average)",
    """
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             sum(CAST(round(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY event_type, date_trunc('day', ts)
    ),
    lagged AS (
      SELECT event_type, day, cents,
             lag(cents, 1) OVER w AS l1, lag(cents, 2) OVER w AS l2,
             lag(cents, 3) OVER w AS l3, lag(cents, 4) OVER w AS l4,
             lag(cents, 5) OVER w AS l5, lag(cents, 6) OVER w AS l6,
             lag(cents, 7) OVER w AS l7
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type, day,
           round(CAST(cents AS DOUBLE) / 100, 2) AS day_value,
           round((
              0.3 * cents
            + 0.3 * 0.7 * coalesce(l1, 0) + 0.3 * 0.49 * coalesce(l2, 0)
            + 0.3 * 0.343 * coalesce(l3, 0) + 0.3 * 0.2401 * coalesce(l4, 0)
            + 0.3 * 0.16807 * coalesce(l5, 0) + 0.3 * 0.117649 * coalesce(l6, 0)
            + 0.3 * 0.0823543 * coalesce(l7, 0)
           ) / (
              0.3
            + CASE WHEN l1 IS NULL THEN 0 ELSE 0.3 * 0.7 END
            + CASE WHEN l2 IS NULL THEN 0 ELSE 0.3 * 0.49 END
            + CASE WHEN l3 IS NULL THEN 0 ELSE 0.3 * 0.343 END
            + CASE WHEN l4 IS NULL THEN 0 ELSE 0.3 * 0.2401 END
            + CASE WHEN l5 IS NULL THEN 0 ELSE 0.3 * 0.16807 END
            + CASE WHEN l6 IS NULL THEN 0 ELSE 0.3 * 0.117649 END
            + CASE WHEN l7 IS NULL THEN 0 ELSE 0.3 * 0.0823543 END
           ) / 100, 4) AS ewma_value
    FROM lagged
    """,
    doc="Truncated exponentially weighted moving average (alpha = 0.3, "
    "8 taps, weights renormalized over the taps actually present) of "
    "the daily event-value series per event_type — the smoothing pass "
    "a drift monitor runs over ingestion metrics. Two sharp-edge "
    "disciplines at once: daily sums in EXACT CENTS (integer, "
    "engine-order-independent) and an explicit (event_type, day) total "
    "order for the lag chain. The 8-tap truncation bounds the frame "
    "(a true recurrence needs running state — (1-a)^-n overflows the "
    "power-sum trick), keeps the window whole-stage-codegen'd, and "
    "captures 94% of the weight mass (1 - 0.7^8). One shuffle on the "
    "aggregation key; the lag window reuses it.",
)
def w15_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")["events"]
    daily = (
        ev.groupBy(
            "event_type", F.date_trunc("day", F.col("ts")).alias("day")
        )
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    alpha = 0.3
    taps = [alpha * (1 - alpha) ** j for j in range(8)]
    lags = [F.col("cents")] + [F.lag("cents", j).over(w) for j in range(1, 8)]
    num = sum(
        (F.lit(t) * F.coalesce(c, F.lit(0)) for t, c in zip(taps, lags)),
        F.lit(0.0),
    )
    den = sum(
        (F.when(c.isNull(), 0.0).otherwise(t) for t, c in zip(taps, lags)),
        F.lit(0.0),
    )
    return daily.select(
        "event_type",
        "day",
        F.round(F.col("cents").cast("double") / 100, 2).alias("day_value"),
        F.round(num / den / 100, 4).alias("ewma_value"),
    )


@register(
    "a46_ks_two_sample",
    "A ⊕ (two-sample Kolmogorov–Smirnov drift test)",
    """
    WITH pts AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS v,
             count(*) FILTER (WHERE event_type = 'click') AS c1,
             count(*) FILTER (WHERE event_type = 'purchase') AS c2
      FROM events
      WHERE event_type IN ('click', 'purchase')
      GROUP BY 1
    ),
    tot AS (
      SELECT sum(c1) AS n1, sum(c2) AS n2 FROM pts
    ),
    cum AS (
      SELECT sum(c1) OVER (ORDER BY v) AS cum1,
             sum(c2) OVER (ORDER BY v) AS cum2
      FROM pts
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           round(CAST(max(abs(cum1 * n2 - cum2 * n1)) AS DOUBLE)
                 / (n1 * n2), 6) AS ks_stat
    FROM cum, tot
    GROUP BY n1, n2
    """,
    doc="Two-sample Kolmogorov–Smirnov statistic between the value "
    "distributions of two event types — the nonparametric drift test "
    "that complements llm_corpus_drift's JSD (distribution shape, not "
    "vocabulary). Ties and float order are both neutralized: values "
    "quantize to exact cents and group FIRST (per-distinct-value "
    "counts are unordered-sum integers), the empirical CDFs are "
    "integer running sums over the distinct-value order, and the sup "
    "gap is maximized as the INTEGER |cum1*n2 - cum2*n1| before the "
    "single division — bit-identical on any engine, any partitioning. "
    "One aggregation shuffle + one bounded window over the distinct "
    "value domain; the 1-row totals broadcast back.",
)
def a46_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")["events"]
    pts = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy(F.round(F.col("value") * 100).cast("long").alias("v"))
        .agg(
            F.count(F.when(F.col("event_type") == "click", 1)).alias("c1"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("c2"),
        )
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = pts.select(
        F.sum("c1").over(w).alias("cum1"), F.sum("c2").over(w).alias("cum2")
    )
    tot = pts.agg(
        F.sum("c1").cast("long").alias("n1"), F.sum("c2").cast("long").alias("n2")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n1", "n2")
        .agg(
            F.round(
                F.max(
                    F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))
                ).cast("double")
                / (F.col("n1") * F.col("n2")),
                6,
            ).alias("ks_stat")
        )
        .select("n1", "n2", "ks_stat")
    )


@register(
    "a47_benford_deviation",
    "A ⊕ (data-quality audit: Benford first-digit deviation)",
    """
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
               AS INTEGER) AS d
      FROM orders WHERE o_totalprice > 0
    ),
    obs AS (
      SELECT d, count(*) AS n FROM digits GROUP BY d
    ),
    tot AS (SELECT sum(n) AS total FROM obs)
    SELECT d,
           CAST(n AS BIGINT) AS n,
           round(CAST(n AS DOUBLE) / total, 6) AS observed_freq,
           round(ln(1.0 + 1.0 / d) / ln(10.0), 6) AS benford_freq,
           round(abs(CAST(n AS DOUBLE) / total - ln(1.0 + 1.0 / d) / ln(10.0)), 6)
             AS abs_dev
    FROM obs, tot
    """,
    doc="Benford's-law first-digit audit over order totals — the "
    "fraud/synthetic-data smoke test a data-quality report runs on any "
    "monetary column (genuinely organic magnitudes follow "
    "log10(1 + 1/d); uniform generators, truncations, and copy-paste "
    "batches don't). First digit is taken from the EXACT-CENTS integer "
    "rendering (no float formatting divergence), expected frequencies "
    "from the closed form, both rounded at 6. One aggregation to the "
    "9-row digit domain + a 1-row total broadcast back — a "
    "whole-corpus audit for the cost of one scan.",
)
def a47_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ords = _t(spark, sf_dir, "orders")["orders"]
    digits = ords.filter(F.col("o_totalprice") > 0).select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("d")
    )
    obs = digits.groupBy("d").agg(F.count(F.lit(1)).alias("n"))
    tot = obs.agg(F.sum("n").alias("total"))
    benford = F.log(F.lit(1.0) + 1.0 / F.col("d")) / F.log(F.lit(10.0))
    freq = F.col("n").cast("double") / F.col("total")
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            "d",
            F.col("n").cast("long").alias("n"),
            F.round(freq, 6).alias("observed_freq"),
            F.round(benford, 6).alias("benford_freq"),
            F.round(F.abs(freq - benford), 6).alias("abs_dev"),
        )
    )


@register(
    "j15_band_join",
    "J ⊕ (numeric ε-band join, bin-decomposed)",
    """
    SELECT p.user_id,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(p.event_id + c.event_id) AS BIGINT) AS pair_checksum,
           round(min(abs(p.value - c.value)), 6) AS closest_gap
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND abs(p.value - c.value) <= 0.5
    GROUP BY p.user_id
    """,
    doc="Numeric ε-band join (operators/joins.py::band_join): each "
    "user's purchases paired with their clicks of nearly-equal value "
    "(|Δ| <= 0.5) — the sensor-alignment / price-match / numeric "
    "near-dup blocking shape. The oracle states the O(n·m) theta join; "
    "the Spark side quantizes both sides to ε-wide bins so adjacency "
    "is NECESSARY for the band predicate: left explodes into bin±1, a "
    "plain hash equi-join on (user_id, bin) generates candidates, the "
    "exact predicate verifies — lossless (a driver grade proves it "
    "against the brute-force oracle), and the nested loop never "
    "happens. Aggregated per user (count, id checksum, closest gap) so "
    "the grade covers every pair without emitting the pair set.",
)
def j15_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import band_join

    ev = _t(spark, sf_dir, "events")["events"]
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("p_id"), F.col("value").alias("p_val")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("c_id"), F.col("value").alias("c_val")
    )
    pairs = band_join(p, c, ["user_id"], "p_val", "c_val", eps=0.5)
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.col("p_id") + F.col("c_id")).cast("long").alias("pair_checksum"),
        F.round(F.min(F.abs(F.col("p_val") - F.col("c_val"))), 6).alias(
            "closest_gap"
        ),
    )


@register(
    "a48_autocorrelation",
    "A ⊕ (lag-k autocorrelation of a daily series)",
    """
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             sum(CAST(round(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY event_type, date_trunc('day', ts)
    ),
    lagged AS (
      SELECT event_type, cents,
             lag(cents, 1) OVER (PARTITION BY event_type ORDER BY day) AS l1,
             lag(cents, 7) OVER (PARTITION BY event_type ORDER BY day) AS l7
      FROM daily
    ),
    stats AS (
      SELECT event_type,
             count(*) AS n, sum(cents) AS s, sum(cents * cents) AS s2,
             sum(CASE WHEN l1 IS NOT NULL THEN cents * l1 END) AS x1,
             sum(CASE WHEN l1 IS NOT NULL THEN cents END) AS a1,
             sum(CASE WHEN l1 IS NOT NULL THEN l1 END) AS b1,
             count(l1) AS n1,
             sum(CASE WHEN l7 IS NOT NULL THEN cents * l7 END) AS x7,
             sum(CASE WHEN l7 IS NOT NULL THEN cents END) AS a7,
             sum(CASE WHEN l7 IS NOT NULL THEN l7 END) AS b7,
             count(l7) AS n7
      FROM lagged GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           round((CAST(x1 AS DOUBLE) - CAST(a1 AS DOUBLE) * b1 / n1)
                 / (CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * s / n), 6)
             AS acf_lag1,
           round((CAST(x7 AS DOUBLE) - CAST(a7 AS DOUBLE) * b7 / n7)
                 / (CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * s / n), 6)
             AS acf_lag7
    FROM stats
    """,
    doc="Lag-1 and lag-7 autocorrelation of each event type's daily "
    "value series — the seasonality/trend detector that rounds out the "
    "drift toolkit (w15 EWMA smooths, a46 KS compares distributions, "
    "this measures serial structure). All moments are INTEGER power "
    "sums over exact cents (the a16 discipline — no cross-engine "
    "float-order divergence; the only doubles appear in the final "
    "closed-form division, identical IEEE on both engines). ACF_k = "
    "cov(x_t, x_{t-k}) / var(x) with the standard denominator over the "
    "full series. One aggregation shuffle; the lag windows reuse its "
    "partitioning; per-type output is domain-bounded.",
)
def a48_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")["events"]
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "cents",
        F.lag("cents", 1).over(w).alias("l1"),
        F.lag("cents", 7).over(w).alias("l7"),
    )
    c, l1, l7 = F.col("cents"), F.col("l1"), F.col("l7")
    stats = lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(c).alias("s"),
        F.sum(c * c).alias("s2"),
        F.sum(F.when(l1.isNotNull(), c * l1)).alias("x1"),
        F.sum(F.when(l1.isNotNull(), c)).alias("a1"),
        F.sum(F.when(l1.isNotNull(), l1)).alias("b1"),
        F.count(l1).alias("n1"),
        F.sum(F.when(l7.isNotNull(), c * l7)).alias("x7"),
        F.sum(F.when(l7.isNotNull(), c)).alias("a7"),
        F.sum(F.when(l7.isNotNull(), l7)).alias("b7"),
        F.count(l7).alias("n7"),
    )
    var = F.col("s2").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n")

    def acf(x, a, b, nk):
        return F.round(
            (F.col(x).cast("double") - F.col(a).cast("double") * F.col(b) / F.col(nk))
            / var,
            6,
        )

    return stats.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        acf("x1", "a1", "b1", "n1").alias("acf_lag1"),
        acf("x7", "a7", "b7", "n7").alias("acf_lag7"),
    )


@register(
    "a49_mann_whitney",
    "A ⊕ (Mann–Whitney U rank-sum test)",
    """
    WITH pts AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS v,
             count(*) FILTER (WHERE event_type = 'click') AS c1,
             count(*) FILTER (WHERE event_type = 'purchase') AS c2,
             count(*) AS c
      FROM events
      WHERE event_type IN ('click', 'purchase')
      GROUP BY 1
    ),
    cum AS (
      SELECT v, c1, c,
             sum(c) OVER (ORDER BY v) - c AS cum_prev
      FROM pts
    ),
    tot AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM pts)
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(sum(c1 * (2 * cum_prev + c + 1)) - n1 * (n1 + 1) AS BIGINT)
             AS u1_doubled,
           round(CAST(sum(c1 * (2 * cum_prev + c + 1)) - n1 * (n1 + 1)
                      AS DOUBLE) / (2.0 * n1 * n2), 6) AS auc
    FROM cum, tot
    GROUP BY n1, n2
    """,
    doc="Mann–Whitney U between two event types' value distributions — "
    "the rank-based location test beside a46's KS (KS sees any shape "
    "difference; U targets stochastic dominance, and U/(n1·n2) IS the "
    "AUC of one sample over the other). Entirely integer until the "
    "final division (the a41 doubled-rank trick): quantize to exact "
    "cents, group to per-distinct-value counts, tie-averaged ranks as "
    "2·avg_rank = 2·cum_prev + c + 1 (always an integer), "
    "U1_doubled = 2·R1 − n1(n1+1). One aggregation shuffle + one "
    "window over the distinct-cents domain + a 1-row totals broadcast "
    "— bit-identical on any engine, any partitioning.",
)
def a49_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")["events"]
    pts = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy(F.round(F.col("value") * 100).cast("long").alias("v"))
        .agg(
            F.count(F.when(F.col("event_type") == "click", 1)).alias("c1"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("c2"),
            F.count(F.lit(1)).alias("c"),
        )
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = pts.select(
        "c1",
        "c",
        (F.sum("c").over(w) - F.col("c")).alias("cum_prev"),
    )
    tot = pts.agg(
        F.sum("c1").cast("long").alias("n1"), F.sum("c2").cast("long").alias("n2")
    )
    r1d = F.sum(F.col("c1") * (2 * F.col("cum_prev") + F.col("c") + 1))
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n1", "n2")
        .agg(
            (r1d - F.col("n1") * (F.col("n1") + 1)).cast("long").alias("u1_doubled"),
            F.round(
                (r1d - F.col("n1") * (F.col("n1") + 1)).cast("double")
                / (2.0 * F.col("n1") * F.col("n2")),
                6,
            ).alias("auc"),
        )
        .select("n1", "n2", "u1_doubled", "auc")
    )


@register(
    "a69_kruskal_wallis",
    "A ⊕ (Kruskal–Wallis rank test across k groups)",
    """
    WITH pts AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS v,
             count(*) FILTER (WHERE event_type = 'click') AS c1,
             count(*) FILTER (WHERE event_type = 'error') AS c2,
             count(*) FILTER (WHERE event_type = 'purchase') AS c3,
             count(*) FILTER (WHERE event_type = 'signup') AS c4,
             count(*) FILTER (WHERE event_type = 'view') AS c5,
             count(*) AS c
      FROM events
      GROUP BY 1
    ),
    cum AS (
      SELECT c1, c2, c3, c4, c5, c,
             sum(c) OVER (ORDER BY v) - c AS cum_prev
      FROM pts
    ),
    s AS (
      SELECT
        CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
        CAST(sum(c3) AS BIGINT) AS n3, CAST(sum(c4) AS BIGINT) AS n4,
        CAST(sum(c5) AS BIGINT) AS n5, CAST(sum(c) AS BIGINT) AS n,
        CAST(sum(c1 * (2 * cum_prev + c + 1)) AS BIGINT) AS r2_1,
        CAST(sum(c2 * (2 * cum_prev + c + 1)) AS BIGINT) AS r2_2,
        CAST(sum(c3 * (2 * cum_prev + c + 1)) AS BIGINT) AS r2_3,
        CAST(sum(c4 * (2 * cum_prev + c + 1)) AS BIGINT) AS r2_4,
        CAST(sum(c5 * (2 * cum_prev + c + 1)) AS BIGINT) AS r2_5,
        CAST(sum(c * c * c - c) AS BIGINT) AS tie_sum
      FROM cum
    )
    SELECT n1, n2, n3, n4, n5, r2_1, r2_2, r2_3, r2_4, r2_5,
      round(12.0 / (n * (n + 1.0)) * (
          CASE WHEN n1 = 0 THEN 0.0 ELSE
          n1 * (r2_1 / (2.0 * n1) - (n + 1.0) / 2.0)
             * (r2_1 / (2.0 * n1) - (n + 1.0) / 2.0) END
        + CASE WHEN n2 = 0 THEN 0.0 ELSE
          n2 * (r2_2 / (2.0 * n2) - (n + 1.0) / 2.0)
             * (r2_2 / (2.0 * n2) - (n + 1.0) / 2.0) END
        + CASE WHEN n3 = 0 THEN 0.0 ELSE
          n3 * (r2_3 / (2.0 * n3) - (n + 1.0) / 2.0)
             * (r2_3 / (2.0 * n3) - (n + 1.0) / 2.0) END
        + CASE WHEN n4 = 0 THEN 0.0 ELSE
          n4 * (r2_4 / (2.0 * n4) - (n + 1.0) / 2.0)
             * (r2_4 / (2.0 * n4) - (n + 1.0) / 2.0) END
        + CASE WHEN n5 = 0 THEN 0.0 ELSE
          n5 * (r2_5 / (2.0 * n5) - (n + 1.0) / 2.0)
             * (r2_5 / (2.0 * n5) - (n + 1.0) / 2.0) END
      ), 6) AS h,
      round(12.0 / (n * (n + 1.0)) * (
          CASE WHEN n1 = 0 THEN 0.0 ELSE
          n1 * (r2_1 / (2.0 * n1) - (n + 1.0) / 2.0)
             * (r2_1 / (2.0 * n1) - (n + 1.0) / 2.0) END
        + CASE WHEN n2 = 0 THEN 0.0 ELSE
          n2 * (r2_2 / (2.0 * n2) - (n + 1.0) / 2.0)
             * (r2_2 / (2.0 * n2) - (n + 1.0) / 2.0) END
        + CASE WHEN n3 = 0 THEN 0.0 ELSE
          n3 * (r2_3 / (2.0 * n3) - (n + 1.0) / 2.0)
             * (r2_3 / (2.0 * n3) - (n + 1.0) / 2.0) END
        + CASE WHEN n4 = 0 THEN 0.0 ELSE
          n4 * (r2_4 / (2.0 * n4) - (n + 1.0) / 2.0)
             * (r2_4 / (2.0 * n4) - (n + 1.0) / 2.0) END
        + CASE WHEN n5 = 0 THEN 0.0 ELSE
          n5 * (r2_5 / (2.0 * n5) - (n + 1.0) / 2.0)
             * (r2_5 / (2.0 * n5) - (n + 1.0) / 2.0) END
      ) / (1.0 - tie_sum / (CAST(n AS DOUBLE) * n * n - n)), 6) AS h_tie_corrected
    FROM s
    """,
    doc="Kruskal–Wallis H across the five event types' value "
    "distributions — the NONPARAMETRIC k-group location test beside "
    "a65's parametric ANOVA F (KW is the k-group generalization of "
    "a49's Mann–Whitney; rank-based, so it needs no normality and "
    "shrugs off the heavy tails that break F). Exact-integer core via "
    "the a41/a49 doubled-rank trick: quantize to cents, collapse to "
    "per-distinct-value counts, tie-averaged doubled midrank "
    "2·cum_prev + c + 1 (always an integer), per-group doubled "
    "rank-sums r2_g = Σ c_gv·(2·cum_prev+c+1) and the tie term "
    "Σ(c³−c) as BIGINTs (gradeable bit-exact). BIGINT bound on the "
    "tie term (r13 ADVICE): exact while Σ(c³−c) < 2⁶³, i.e. the "
    "largest per-cents-value tie group c ≲ 2.1M rows even if it were "
    "the ONLY group; past it Spark wraps silently where DuckDB "
    "promotes to HUGEINT and errors on the BIGINT cast — at 10⁹+ rows "
    "per tie value, coarsen the quantization or lift the tie term to "
    "double on BOTH engines. H and the "
    "tie-corrected H/C (C = 1 − Σ(c³−c)/(N³−N)) are ONE written-down "
    "float expression tree evaluated identically by both engines, in "
    "NORMALIZED double space — r̄_g = r2_g/(2n_g) before any square, "
    "and N³ in double — because both r2_g² and N³ overflow BIGINT at "
    "probe scale (the a66 power-sum lesson). Scale shape: one "
    "aggregation shuffle to the distinct-cents domain, one running sum "
    "over that bounded domain frame (the a46/a49 exception class), one "
    "1-row fold — fully partial-aggregatable, no join.",
)
def a69_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")["events"]
    types = ["click", "error", "purchase", "signup", "view"]
    pts = ev.groupBy(
        F.round(F.col("value") * 100).cast("long").alias("v")
    ).agg(
        *[
            F.count(F.when(F.col("event_type") == t, 1)).alias(f"c{i+1}")
            for i, t in enumerate(types)
        ],
        F.count(F.lit(1)).alias("c"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = pts.select(
        *[f"c{i+1}" for i in range(5)],
        "c",
        (F.sum("c").over(w) - F.col("c")).alias("cum_prev"),
    )
    dbl = 2 * F.col("cum_prev") + F.col("c") + 1
    s = cum.agg(
        *[F.sum(f"c{i+1}").cast("long").alias(f"n{i+1}") for i in range(5)],
        F.sum("c").cast("long").alias("n"),
        *[
            F.sum(F.col(f"c{i+1}") * dbl).cast("long").alias(f"r2_{i+1}")
            for i in range(5)
        ],
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("long")
        .alias("tie_sum"),
    )
    n = F.col("n")
    half = (n + 1.0) / 2.0

    def dev2(i: int):
        ng = F.col(f"n{i}")
        rbar = F.col(f"r2_{i}") / (2.0 * ng)
        # an absent group contributes 0, not NULL (0/0 would poison the
        # whole sum — same CASE guard in the oracle)
        return F.when(ng == 0, F.lit(0.0)).otherwise(
            ng * (rbar - half) * (rbar - half)
        )

    h_expr = (12.0 / (n * (n + 1.0))) * sum(dev2(i) for i in range(1, 6))
    tie_c = 1.0 - F.col("tie_sum") / (n.cast("double") * n * n - n)
    return s.select(
        *[f"n{i}" for i in range(1, 6)],
        *[f"r2_{i}" for i in range(1, 6)],
        F.round(h_expr, 6).alias("h"),
        F.round(h_expr / tie_c, 6).alias("h_tie_corrected"),
    )


@register(
    "a50_survival_km",
    "A ⊕ (Kaplan–Meier dropout risk table)",
    """
    WITH cust AS (
      SELECT o_custkey,
             min(year(o_orderdate) * 12 + month(o_orderdate)) AS first_mi,
             max(year(o_orderdate) * 12 + month(o_orderdate)) AS last_mi
      FROM orders GROUP BY 1
    ),
    horizon AS (
      SELECT max(year(o_orderdate) * 12 + month(o_orderdate)) AS max_mi
      FROM orders
    ),
    tagged AS (
      SELECT CAST(last_mi - first_mi AS BIGINT) AS tenure_months,
             CASE WHEN last_mi >= max_mi - 2 THEN 1 ELSE 0 END AS censored
      FROM cust, horizon
    ),
    per_t AS (
      SELECT tenure_months,
             CAST(sum(1 - censored) AS BIGINT) AS n_events,
             CAST(sum(censored) AS BIGINT) AS n_censored,
             CAST(count(*) AS BIGINT) AS n_total
      FROM tagged GROUP BY 1
    ),
    tot AS (SELECT sum(n_total) AS grand FROM per_t)
    SELECT tenure_months,
           CAST(grand - (sum(n_total) OVER (ORDER BY tenure_months)
                         - n_total) AS BIGINT) AS n_risk,
           n_events, n_censored,
           round(CAST(n_events AS DOUBLE) /
                 (grand - (sum(n_total) OVER (ORDER BY tenure_months)
                           - n_total)), 6) AS hazard
    FROM per_t, tot
    """,
    doc="Kaplan–Meier risk table for customer dropout — the survival-"
    "analysis shape the reference repo's namesake (student dropout) "
    "calls for, on the warehouse's own order history. Tenure = months "
    "between a customer's first and last order; customers whose last "
    "order falls in the final 3-month observation window are right-"
    "CENSORED (still active, not dropped out). Emits the exact integer "
    "risk table per tenure month — n_risk (still observed at t), "
    "n_events (dropped at t), n_censored — plus the discrete hazard "
    "n_events/n_risk; the survival curve is the client-side running "
    "product of (1 - hazard), kept out of the engine because a "
    "cross-engine float product is not bit-stable while the integer "
    "table is. Scale shape: one groupBy(custkey) shuffle + a window "
    "over the tiny tenure-month domain; n_risk is computed as "
    "grand_total - exclusive-forward-cumsum, NEVER a reverse "
    "[current, unboundedFollowing] frame (the t8 O(n^2) trap, "
    "SURVEY §9a).",
)
def a50_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")["orders"]
    mi = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    cust = orders.groupBy("o_custkey").agg(
        F.min(mi).alias("first_mi"), F.max(mi).alias("last_mi")
    )
    # global horizon from the per-customer maxima — same value as
    # max(mi) over orders, one fewer scan of the fact table
    horizon = cust.agg(F.max("last_mi").alias("max_mi"))
    tagged = cust.crossJoin(F.broadcast(horizon)).select(
        (F.col("last_mi") - F.col("first_mi")).cast("long").alias("tenure_months"),
        F.when(F.col("last_mi") >= F.col("max_mi") - 2, 1).otherwise(0).alias("censored"),
    )
    per_t = tagged.groupBy("tenure_months").agg(
        F.sum(1 - F.col("censored")).cast("long").alias("n_events"),
        F.sum("censored").cast("long").alias("n_censored"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
    )
    tot = per_t.agg(F.sum("n_total").alias("grand"))
    w = Window.orderBy("tenure_months").rowsBetween(Window.unboundedPreceding, 0)
    n_risk = F.col("grand") - (F.sum("n_total").over(w) - F.col("n_total"))
    return (
        per_t.crossJoin(F.broadcast(tot))
        .select(
            "tenure_months",
            n_risk.cast("long").alias("n_risk"),
            "n_events",
            "n_censored",
            F.round(F.col("n_events").cast("double") / n_risk, 6).alias("hazard"),
        )
    )


@register(
    "a51_bootstrap_ci",
    "A ⊕ (hash-coin bootstrap confidence interval)",
    """
    WITH reps AS (SELECT unnest(range(32)) AS b),
    inc AS (
      SELECT b, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders CROSS JOIN reps
      WHERE CAST(concat('0x', substring(md5(concat(
              CAST(o_orderkey AS VARCHAR), '#', CAST(b AS VARCHAR))), 1, 6))
            AS BIGINT) % 2 = 0
    ),
    rep_means AS (
      SELECT b, round(sum(cents) / (100.0 * count(*)), 6) AS m
      FROM inc GROUP BY b
    ),
    ranked AS (
      SELECT m, row_number() OVER (ORDER BY m, b) AS rn,
             count(*) OVER () AS nb
      FROM rep_means
    ),
    full_mean AS (
      SELECT round(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                   / (100.0 * count(*)), 6) AS mean_full
      FROM orders
    )
    SELECT CAST(max(nb) AS BIGINT) AS b_replicates,
           max(mean_full) AS mean_full,
           max(CASE WHEN rn = 2 THEN m END) AS ci_lo,
           max(CASE WHEN rn = nb - 1 THEN m END) AS ci_hi
    FROM ranked, full_mean
    """,
    doc="Distribution-free confidence interval for the mean order price "
    "via a DETERMINISTIC half-sampling bootstrap: replicate b of 32 "
    "includes an order iff the first-6-hex md5(orderkey#b) coin is "
    "even — a pure function of (key, replicate), so any engine, any "
    "partitioning, any rerun draws the identical resamples (the same "
    "portability coin as the sampling family), which is what makes a "
    "resampling procedure oracle-checkable at all. Replicate means "
    "over exact cents; the CI is the 2nd-lowest / 2nd-highest of the "
    "32 sorted means (~94% empirical coverage). Scale shape: a narrow "
    "(key, cents) projection fans out x32 BEFORE the shuffle but "
    "map-side partial aggregation collapses each task to <=32 partial "
    "sums — the exchange carries 32 rows per task regardless of data "
    "size, then a 32-row sort on the driver-sized tail. No RNG state, "
    "no broadcast of samples, no quadratic anything.",
)
def a51_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")["orders"]
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    coin = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("o_orderkey").cast("string"),
                        F.lit("#"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    rep_means = (
        orders.select(F.col("o_orderkey"), cents.alias("cents"))
        .withColumn("b", F.explode(F.sequence(F.lit(0), F.lit(31))))
        .filter(coin == 0)
        .groupBy("b")
        .agg(
            F.round(F.sum("cents") / (100.0 * F.count(F.lit(1))), 6).alias("m")
        )
    )
    full_mean = orders.agg(
        F.round(F.sum(cents) / (100.0 * F.count(F.lit(1))), 6).alias("mean_full")
    )
    # 32 replicate means: collapse to one sorted array (order-insensitive
    # collect + sort_array with (m, b) tiebreak = deterministic), pick the
    # 2nd-lowest / 2nd-highest as the interval.
    stats = rep_means.agg(
        F.sort_array(F.collect_list(F.struct(F.col("m"), F.col("b")))).alias("ms"),
        F.count(F.lit(1)).cast("long").alias("b_replicates"),
    )
    return (
        stats.crossJoin(F.broadcast(full_mean))
        .select(
            "b_replicates",
            "mean_full",
            F.element_at(F.col("ms"), 2)["m"].alias("ci_lo"),
            F.element_at(F.col("ms"), -2)["m"].alias("ci_hi"),
        )
    )


@register(
    "a52_decayed_counts",
    "A ⊕ (exponential time-decay scoring)",
    """
    WITH daily AS (
      SELECT event_type,
             date_diff('day', CAST(ts AS DATE),
                       (SELECT max(CAST(ts AS DATE)) FROM events)) AS age_d,
             count(*) AS cnt
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(sum(cnt) AS BIGINT) AS n_raw,
           round(sum(cnt * pow(0.97, age_d)), 6) AS decayed,
           round(sum(cnt * pow(0.97, age_d)) / sum(cnt), 6) AS freshness
    FROM daily GROUP BY 1
    """,
    doc="Exponentially time-decayed event scores (half-life ~23 days at "
    "decay 0.97/day) — the trending/recency weighting every feed-rank "
    "and freshness monitor needs, without a streaming state store: "
    "decayed(type) = sum over days(count_d * 0.97^age_d). Integer daily "
    "counts first (one groupBy), THEN the decay fold over the bounded "
    "day-domain — the float sum ranges over ~hundreds of day-cells, "
    "never rows, so cross-engine pow/accumulation noise (~1e-11 abs) "
    "sits five orders below the round-6 grid. freshness = decayed/raw "
    "normalizes scale away for cross-type comparison. One shuffle; the "
    "max-date scalar broadcasts.",
)
def a52_decayed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    maxd = ev.agg(F.max(F.to_date("ts")).alias("max_d"))
    daily = (
        ev.select("event_type", F.to_date("ts").alias("d"))
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(maxd))
        .select(
            "event_type",
            F.datediff(F.col("max_d"), F.col("d")).alias("age_d"),
            "cnt",
        )
    )
    dec = F.sum(F.col("cnt") * F.pow(F.lit(0.97), F.col("age_d")))
    return daily.groupBy("event_type").agg(
        F.sum("cnt").cast("long").alias("n_raw"),
        F.round(dec, 6).alias("decayed"),
        F.round(dec / F.sum("cnt"), 6).alias("freshness"),
    )


@register(
    "a53_conversion_ztest",
    "A ⊕ (two-proportion z-test)",
    """
    WITH cohorts AS (
      SELECT user_id % 2 AS cohort,
             max(CASE WHEN event_type = 'purchase' AND value > 150
                      THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id
    ),
    agg AS (
      SELECT CAST(count(*) FILTER (WHERE cohort = 0) AS BIGINT) AS n1,
             CAST(sum(converted) FILTER (WHERE cohort = 0) AS BIGINT) AS x1,
             CAST(count(*) FILTER (WHERE cohort = 1) AS BIGINT) AS n2,
             CAST(sum(converted) FILTER (WHERE cohort = 1) AS BIGINT) AS x2
      FROM cohorts
    )
    SELECT n1, x1, n2, x2,
           round(CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2, 6) AS lift,
           round((CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2) /
                 NULLIF(sqrt((CAST(x1 + x2 AS DOUBLE) / (n1 + n2)) *
                      (1.0 - CAST(x1 + x2 AS DOUBLE) / (n1 + n2)) *
                      (1.0 / n1 + 1.0 / n2)), 0.0), 6) AS z
    FROM agg
    """,
    doc="Two-proportion z-test on user conversion between deterministic "
    "cohorts (user_id parity — in production the experiment-assignment "
    "hash coin): completes the A/B statistics family beside Welch "
    "(means), Mann–Whitney/KS (distributions), and chi-square "
    "(independence). converted = user EVER purchased (per-user max, one "
    "groupBy), so the unit of analysis is the USER, not the event — the "
    "classic unit-mismatch pitfall (conversion = a purchase over 150 — "
    "a partial rate at every SF; all-converted cohorts have zero pooled "
    "variance, guarded by NULLIF). Everything is integer counts until "
    "the closed-form pooled-variance z at the end (single expression, "
    "round 6). One user-keyed shuffle + a 2-row fold.",
)
def a53_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    cohorts = ev.groupBy("user_id").agg(
        (F.col("user_id") % 2).alias("cohort"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 150), 1
            ).otherwise(0)
        ).alias("converted"),
    )
    agg = cohorts.agg(
        F.count(F.when(F.col("cohort") == 0, 1)).cast("long").alias("n1"),
        F.sum(F.when(F.col("cohort") == 0, F.col("converted"))).cast("long").alias("x1"),
        F.count(F.when(F.col("cohort") == 1, 1)).cast("long").alias("n2"),
        F.sum(F.when(F.col("cohort") == 1, F.col("converted"))).cast("long").alias("x2"),
    )
    p1 = F.col("x1").cast("double") / F.col("n1")
    p2 = F.col("x2").cast("double") / F.col("n2")
    pp = (F.col("x1") + F.col("x2")).cast("double") / (F.col("n1") + F.col("n2"))
    return agg.select(
        "n1",
        "x1",
        "n2",
        "x2",
        F.round(p1 - p2, 6).alias("lift"),
        F.round(
            (p1 - p2)
            / F.nullif(
                F.sqrt(
                    pp * (1.0 - pp) * (1.0 / F.col("n1") + 1.0 / F.col("n2"))
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("z"),
    )


@register(
    "t11_skyline_pareto",
    "T ⊕ (skyline / Pareto frontier)",
    """
    WITH cells AS (
      SELECT CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
             max(p_size) AS max_size_at_price,
             count(*) AS n_at_price
      FROM part GROUP BY 1
    ),
    sized AS (
      SELECT p.price_cents, p.size, count(*) AS n_parts,
             c.max_size_at_price
      FROM (SELECT CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
                   p_size AS size
            FROM part) p
      JOIN cells c USING (price_cents)
      GROUP BY 1, 2, 4
    ),
    running AS (
      SELECT price_cents, max_size_at_price,
             max(max_size_at_price) OVER (
               ORDER BY price_cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS best_cheaper
      FROM cells
    )
    SELECT s.price_cents, CAST(s.size AS BIGINT) AS size,
           CAST(s.n_parts AS BIGINT) AS n_parts
    FROM sized s JOIN running r USING (price_cents)
    WHERE s.size = r.max_size_at_price
      AND (r.best_cheaper IS NULL OR s.size > r.best_cheaper)
    """,
    doc="Skyline (Pareto frontier) over parts: minimize retail price, "
    "maximize size — the multi-objective selection operator (in corpus "
    "terms: the quality-vs-cost frontier a data-mixing budget walks). A "
    "point survives iff no other part is cheaper-or-equal AND "
    "bigger-or-equal with one strict. NOT the O(n²) NOT-EXISTS "
    "formulation the oracle uses: collapse to distinct price cells "
    "(domain-sized), keep each price's max size, then one running-max "
    "over the PRICE DOMAIN with an exclusive [unbounded, -1] frame — a "
    "cell survives iff it is its price's max and strictly beats every "
    "cheaper price's best. Exact integers (price cents, size); one "
    "groupBy + one domain window; ~n log n where brute force is n².",
)
def t11_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    part = _t(spark, sf_dir, "part")["part"]
    cents = F.round(F.col("p_retailprice") * 100).cast("long")
    cells = part.groupBy(cents.alias("price_cents")).agg(
        F.max("p_size").alias("max_size_at_price")
    )
    sized = (
        part.groupBy(cents.alias("price_cents"), F.col("p_size").alias("size"))
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .join(cells, "price_cents")
    )
    # the exclusive running max runs over CELLS (one row per price) — on
    # the multi-size frame the [unbounded, -1] frame's treatment of
    # same-price peers would be tie-order-dependent, hence nondeterministic
    w = Window.orderBy("price_cents").rowsBetween(Window.unboundedPreceding, -1)
    running = cells.select(
        "price_cents",
        "max_size_at_price",
        F.max("max_size_at_price").over(w).alias("best_cheaper"),
    )
    return (
        sized.drop("max_size_at_price")
        .join(F.broadcast(running), "price_cents")
        .filter(
            (F.col("size") == F.col("max_size_at_price"))
            & (
                F.col("best_cheaper").isNull()
                | (F.col("size") > F.col("best_cheaper"))
            )
        )
        .select(
            "price_cents",
            F.col("size").cast("long").alias("size"),
            F.col("n_parts").cast("long").alias("n_parts"),
        )
    )


@register(
    "a54_funnel_gated",
    "A ⊕ (ordered funnel with conversion windows)",
    """
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click'
        AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 24 HOUR
      GROUP BY 1
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase'
        AND e.ts > s2.t2 AND e.ts <= s2.t2 + INTERVAL 24 HOUR
      GROUP BY 1
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_view,
           (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n_click_24h,
           (SELECT CAST(count(*) AS BIGINT) FROM s3) AS n_purchase_24h,
           round(CAST((SELECT count(*) FROM s2) AS DOUBLE) /
                 NULLIF((SELECT count(*) FROM s1), 0), 6) AS conv_click,
           round(CAST((SELECT count(*) FROM s3) AS DOUBLE) /
                 NULLIF((SELECT count(*) FROM s2), 0), 6) AS conv_purchase
    """,
    doc="Ordered funnel with per-step conversion WINDOWS (view → click "
    "within 24h → purchase within 24h of the click), the product-"
    "analytics staple a14's unbounded funnel can't express: each step "
    "RE-ANCHORS at the previous step's first qualifying timestamp, so a "
    "click three weeks later does not convert. Three user-keyed "
    "conditional-min aggregations chained by equi-joins — co-partitioned "
    "on user_id, the filters push to the scan, every stage shrinks "
    "(funnel monotonicity). Exact integer counts; the two conversion "
    "rates are single guarded divisions.",
)
def a54_funnel_gated(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"].select("user_id", "event_type", "ts")
    gap = F.expr("INTERVAL 24 HOURS")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + gap))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t2") + gap))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    c1 = s1.agg(F.count(F.lit(1)).cast("long").alias("n_view"))
    c2 = s2.agg(F.count(F.lit(1)).cast("long").alias("n_click_24h"))
    c3 = s3.agg(F.count(F.lit(1)).cast("long").alias("n_purchase_24h"))
    return (
        c1.crossJoin(F.broadcast(c2))
        .crossJoin(F.broadcast(c3))
        .select(
            "n_view",
            "n_click_24h",
            "n_purchase_24h",
            F.round(
                F.col("n_click_24h").cast("double")
                / F.nullif(F.col("n_view"), F.lit(0)),
                6,
            ).alias("conv_click"),
            F.round(
                F.col("n_purchase_24h").cast("double")
                / F.nullif(F.col("n_click_24h"), F.lit(0)),
                6,
            ).alias("conv_purchase"),
        )
    )


@register(
    "a55_seasonal_decompose",
    "A ⊕ (classical seasonal decomposition)",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ),
    tr AS (
      SELECT d, cents,
             date_diff('day', DATE '1970-01-01', d) % 7 AS dow,
             round(CAST(sum(cents) OVER w AS DOUBLE) /
                   (100.0 * count(*) OVER w), 6) AS trend
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    seas AS (
      SELECT dow, round(avg(cents / 100.0 - trend), 6) AS seasonal
      FROM tr GROUP BY 1
    )
    SELECT CAST(tr.d AS TIMESTAMP) AS day, tr.cents, tr.trend,
           seas.seasonal,
           round(tr.cents / 100.0 - tr.trend - seas.seasonal, 6)
             AS remainder
    FROM tr JOIN seas USING (dow)
    """,
    doc="Classical (moving-average) seasonal decomposition of daily "
    "revenue: trend = centered 7-OBSERVED-DAY average (row frame over "
    "the day domain — edge days average their available neighbors), "
    "seasonal = per-weekday mean residual, remainder = series − trend − "
    "seasonal. Weekday comes from epoch-day % 7, NOT the engines' "
    "dayofweek() (Spark is 1-based-Sunday, DuckDB 0-based — the §9a "
    "date family edge). Float discipline: exact integer cents per day, "
    "trend rounded before the residual pass, seasonal averaged over the "
    "~day-count/7 residuals (noise ~1e-12 vs the round-6 grid). All "
    "windows are day-DOMAIN frames; one groupBy shuffle + a 7-row "
    "broadcast join.",
)
def a55_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")["orders"]
    daily = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    w = Window.orderBy("d").rowsBetween(-3, 3)
    tr = daily.select(
        "d",
        "cents",
        (F.datediff(F.col("d"), F.lit("1970-01-01")) % 7).alias("dow"),
        F.round(
            F.sum("cents").over(w).cast("double")
            / (100.0 * F.count(F.lit(1)).over(w)),
            6,
        ).alias("trend"),
    )
    seas = tr.groupBy("dow").agg(
        F.round(F.avg(F.col("cents") / 100.0 - F.col("trend")), 6).alias("seasonal")
    )
    return (
        tr.join(F.broadcast(seas), "dow")
        .select(
            F.col("d").cast("timestamp").alias("day"),
            "cents",
            "trend",
            "seasonal",
            F.round(
                F.col("cents") / 100.0 - F.col("trend") - F.col("seasonal"), 6
            ).alias("remainder"),
        )
    )


@register(
    "a56_mann_kendall",
    "A ⊕ (Mann–Kendall trend test)",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ),
    pairs AS (
      SELECT CAST(sum(CASE WHEN b.cents > a.cents THEN 1
                           WHEN b.cents < a.cents THEN -1 ELSE 0 END)
                  AS BIGINT) AS s
      FROM daily a JOIN daily b ON a.d < b.d
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
    ties AS (
      SELECT CAST(COALESCE(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie_term
      FROM (SELECT count(*) AS t FROM daily GROUP BY cents)
      WHERE t > 1
    )
    SELECT s, n,
           CAST(n * (n - 1) * (2 * n + 5) - tie_term AS BIGINT)
             AS var18_doubled,
           round((s - CASE WHEN s > 0 THEN 1 WHEN s < 0 THEN -1 ELSE 0 END)
                 / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE)
                        / 18.0), 6) AS z
    FROM pairs, nn, ties
    """,
    doc="Mann–Kendall monotonic-trend test on daily revenue — the "
    "non-parametric 'is this series drifting' test beside a48's ACF "
    "(seasonality) and a46's KS (distribution change): S = Σ over day "
    "pairs sign(x_j − x_i), variance with the exact tie correction, "
    "continuity-corrected z. The pair join runs on the DAY domain "
    "(calendar-bounded — ~2.4k days ⇒ ~3M comparisons regardless of "
    "row count), after one groupBy collapses the fact table; everything "
    "integer until one final sqrt/division. var18_doubled carries the "
    "exact integer 18·Var(S) so the hard hash check covers the tie "
    "correction, not just the rounded z.",
)
def a56_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")["orders"]
    daily = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = (
        a.join(b, F.col("a.d") < F.col("b.d"))
        .agg(
            F.sum(
                F.when(F.col("b.cents") > F.col("a.cents"), 1)
                .when(F.col("b.cents") < F.col("a.cents"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s")
        )
    )
    nn = daily.agg(F.count(F.lit(1)).cast("long").alias("n"))
    t = F.col("t")
    ties = (
        daily.groupBy("cents")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(t > 1)
        .agg(
            F.coalesce(F.sum(t * (t - 1) * (2 * t + 5)), F.lit(0))
            .cast("long")
            .alias("tie_term")
        )
    )
    var18 = F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tie_term")
    cc = (
        F.when(F.col("s") > 0, 1).when(F.col("s") < 0, -1).otherwise(0)
    )
    return (
        pairs.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(ties))
        .select(
            "s",
            "n",
            var18.cast("long").alias("var18_doubled"),
            F.round(
                (F.col("s") - cc) / F.sqrt(var18.cast("double") / 18.0), 6
            ).alias("z"),
        )
    )


@register(
    "a57_backtest_mape",
    "A ⊕ (forecast backtest: seasonal-naive MAPE/WAPE)",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ),
    scored AS (
      SELECT a.d, a.cents AS actual, p.cents AS pred
      FROM daily a JOIN daily p ON p.d = a.d - INTERVAL 7 DAY
    )
    SELECT CAST(year(d) * 100 + month(d) AS BIGINT) AS ym,
           CAST(count(*) AS BIGINT) AS n_days,
           round(avg(abs(actual - pred) / CAST(actual AS DOUBLE)), 6)
             AS mape,
           round(CAST(sum(abs(actual - pred)) AS DOUBLE) / sum(actual), 6)
             AS wape
    FROM scored GROUP BY 1
    """,
    doc="Rolling forecast backtest: the seasonal-naive predictor (same "
    "weekday last week, via an exact CALENDAR join on d−7, not a row "
    "lag — row frames silently misalign across gaps) scored per month "
    "with MAPE and the more robust WAPE (Σ|e|/Σactual — immune to "
    "near-zero-denominator days). The evaluation half every forecasting "
    "pipeline needs before trusting a model; seasonal-naive IS the "
    "baseline any real model must beat. Integer cents throughout; the "
    "error folds run over the day domain (~30 rows/month), so the two "
    "rounded divisions sit far above cross-engine float noise. One "
    "groupBy shuffle + a day-domain self-join.",
)
def a57_backtest_mape(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")["orders"]
    daily = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    a, p = daily.alias("a"), daily.alias("p")
    scored = a.join(
        p, F.col("p.d") == F.date_sub(F.col("a.d"), 7)
    ).select(
        F.col("a.d").alias("d"),
        F.col("a.cents").alias("actual"),
        F.col("p.cents").alias("pred"),
    )
    err = F.abs(F.col("actual") - F.col("pred"))
    return (
        scored.groupBy(
            (F.year("d") * 100 + F.month("d")).cast("long").alias("ym")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.round(F.avg(err / F.col("actual").cast("double")), 6).alias("mape"),
            F.round(F.sum(err).cast("double") / F.sum("actual"), 6).alias("wape"),
        )
    )


@register(
    "w16_pattern_vshape",
    "W ⊕ (sequence pattern matching: MATCH_RECOGNIZE-lite)",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ),
    lagged AS (
      SELECT d, cents,
             lag(cents, 2) OVER w AS m2, lag(cents, 1) OVER w AS m1,
             lead(cents, 1) OVER w AS p1, lead(cents, 2) OVER w AS p2
      FROM daily WINDOW w AS (ORDER BY d)
    )
    SELECT CAST(d AS TIMESTAMP) AS day, cents, m2, m1, p1, p2
    FROM lagged
    WHERE m2 > m1 AND m1 > cents AND cents < p1 AND p1 < p2
    """,
    doc="Sequence-pattern detection — the MATCH_RECOGNIZE emulation "
    "(ANSI row-pattern matching exists in Oracle/Flink/Snowflake; Spark "
    "lacks it, so patterns compile to lag/lead windows): find V-shaped "
    "troughs in daily revenue (two strictly-falling days into a strict "
    "local minimum, two strictly-rising out) — the dip-detection shape "
    "behind drawdown alerts and buy-the-dip analytics. Fixed-width "
    "patterns need exactly pattern_len lag/lead columns over ONE "
    "day-domain window; variable-length patterns (A+ B+) would chain "
    "the w2_sessionize run-grouping trick instead. Exact integers; "
    "zero float anywhere.",
)
def w16_pattern_vshape(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")["orders"]
    daily = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    w = Window.orderBy("d")
    lagged = daily.select(
        "d",
        "cents",
        F.lag("cents", 2).over(w).alias("m2"),
        F.lag("cents", 1).over(w).alias("m1"),
        F.lead("cents", 1).over(w).alias("p1"),
        F.lead("cents", 2).over(w).alias("p2"),
    )
    return lagged.filter(
        (F.col("m2") > F.col("m1"))
        & (F.col("m1") > F.col("cents"))
        & (F.col("cents") < F.col("p1"))
        & (F.col("p1") < F.col("p2"))
    ).select(F.col("d").cast("timestamp").alias("day"), "cents", "m2", "m1", "p1", "p2")


@register(
    "d4c_bag_setops",
    "D4 ⊕ (multiset EXCEPT ALL / INTERSECT ALL)",
    """
    WITH a AS (SELECT o_orderpriority AS p FROM orders WHERE o_orderstatus = 'F'),
    b AS (SELECT o_orderpriority AS p FROM orders WHERE o_orderstatus = 'O'),
    ex AS (SELECT p FROM a EXCEPT ALL SELECT p FROM b),
    ix AS (SELECT p FROM a INTERSECT ALL SELECT p FROM b)
    SELECT p,
           CAST(coalesce(e.ne, 0) AS BIGINT) AS n_except_all,
           CAST(coalesce(i.ni, 0) AS BIGINT) AS n_intersect_all
    FROM (SELECT DISTINCT p FROM a) d
    LEFT JOIN (SELECT p, count(*) AS ne FROM ex GROUP BY 1) e USING (p)
    LEFT JOIN (SELECT p, count(*) AS ni FROM ix GROUP BY 1) i USING (p)
    """,
    doc="Multiset (bag) set algebra — EXCEPT ALL keeps max(cnt_a − "
    "cnt_b, 0) copies and INTERSECT ALL keeps min(cnt_a, cnt_b), where "
    "the D4 DISTINCT forms collapse to membership: the difference "
    "matters whenever rows are observations, not identities (log diffs, "
    "replay gap detection, inventory reconciliation). Spark ships both "
    "as exceptAll/intersectAll — compiled to count-difference "
    "aggregations, NOT row-pairing joins — and the entry emits the "
    "per-key multiplicities so the grade checks the exact bag "
    "arithmetic. Two grouped counts + a key-domain join; one shuffle "
    "each side.",
)
def d4c_bag_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")["orders"]
    a = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_orderpriority").alias("p")
    )
    b = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_orderpriority").alias("p")
    )
    ex = a.exceptAll(b).groupBy("p").agg(F.count(F.lit(1)).alias("ne"))
    ix = a.intersectAll(b).groupBy("p").agg(F.count(F.lit(1)).alias("ni"))
    return (
        a.select("p")
        .distinct()
        .join(ex, "p", "left")
        .join(ix, "p", "left")
        .select(
            "p",
            F.coalesce("ne", F.lit(0)).cast("long").alias("n_except_all"),
            F.coalesce("ni", F.lit(0)).cast("long").alias("n_intersect_all"),
        )
    )


@register(
    "t12_diversified_topk",
    "T ⊕ (diversified top-k)",
    """
    WITH capped AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (
               PARTITION BY source ORDER BY n_chars DESC, doc_id ASC
             ) AS r_in_src
      FROM documents
    )
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(r_in_src AS BIGINT) AS r_in_src,
           CAST(row_number() OVER (
             ORDER BY n_chars DESC, doc_id ASC) AS BIGINT) AS final_rank
    FROM capped
    WHERE r_in_src <= 2
    QUALIFY final_rank <= 10
    """,
    doc="Diversified top-k — the search/retrieval constraint plain "
    "top-k can't express: the 10 best documents with AT MOST 2 per "
    "source, so one dominant source can't monopolize the result page "
    "(result diversification / fairness caps / per-tenant quotas are "
    "all this shape). Two ranking passes: per-source cap first "
    "(WindowGroupLimit prunes to 2 rows per source map-side BEFORE any "
    "global work), then global top-10 over the tiny survivor set — the "
    "global window sees #sources x cap rows, never the corpus. "
    "Total-order tiebreaks; exact integers.",
)
def t12_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")["documents"]
    w_src = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    capped = (
        docs.select(
            "doc_id",
            "source",
            "n_chars",
            F.row_number().over(w_src).alias("r_in_src"),
        )
        .filter(F.col("r_in_src") <= 2)
    )
    w_all = Window.orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        capped.withColumn("final_rank", F.row_number().over(w_all))
        .filter(F.col("final_rank") <= 10)
        .select(
            "doc_id",
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.col("r_in_src").cast("long").alias("r_in_src"),
            F.col("final_rank").cast("long").alias("final_rank"),
        )
    )


@register(
    "w17_rolling_corr",
    "W ⊕ (rolling correlation of two series)",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS x,
             CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    framed AS (
      SELECT d, x, y,
             count(*) OVER w AS n,
             sum(x) OVER w AS sx, sum(y) OVER w AS sy,
             sum(x * y) OVER w AS sxy,
             sum(x * x) OVER w AS sxx, sum(y * y) OVER w AS syy
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN 27 PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(d AS TIMESTAMP) AS day,
           CAST(n AS BIGINT) AS n_days,
           round((n * sxy - sx * sy) /
                 sqrt(CAST((n * sxx - sx * sx) AS DOUBLE) *
                      CAST((n * syy - sy * sy) AS DOUBLE)), 6) AS corr28
    FROM framed
    WHERE n = 28
      AND (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
    """,
    doc="Rolling 28-observed-day Pearson correlation between the click "
    "and purchase daily-count series — the co-movement monitor behind "
    "metric-coupling alerts ('did purchases stop following clicks'). "
    "The w14 discipline at two variables: every frame statistic (n, "
    "Σx, Σy, Σxy, Σx², Σy²) is an exact INTEGER running sum over the "
    "day-domain frame; the only floats are one closed-form expression "
    "from those integers (engine-native corr() is Welford-streamed and "
    "NOT cross-engine bit-stable — SURVEY §9a). Degenerate frames "
    "(zero variance) are excluded explicitly rather than emitting "
    "engine-dependent NaN/NULL.",
)
def w17_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")["events"]
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.when(F.col("event_type") == "click", 1))
        .cast("long")
        .alias("x"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("long")
        .alias("y"),
    )
    w = Window.orderBy("d").rowsBetween(-27, 0)
    framed = daily.select(
        "d",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return (
        framed.filter((F.col("n") == 28) & (vx > 0) & (vy > 0))
        .select(
            F.col("d").cast("timestamp").alias("day"),
            F.col("n").cast("long").alias("n_days"),
            F.round(
                cov / F.sqrt(vx.cast("double") * vy.cast("double")), 6
            ).alias("corr28"),
        )
    )


# =====================================================================
# Round 9: inequality decomposition, tail index, CUSUM changepoints
# =====================================================================


@register(
    "a58_theil_index",
    "A ⊕ (inequality statistic: Theil T with between/within decomposition)",
    """
    WITH cust AS (
      SELECT o_custkey, sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY o_custkey
    ),
    tagged AS (
      SELECT n.n_name, cust.cents
      FROM cust
      JOIN customer c ON c.c_custkey = cust.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    g AS (
      SELECT n_name, count(*) AS n_g,
             sum(cents) AS s1_g,
             sum((cents / 100.0) * ln(cents / 100.0)) AS s2_g
      FROM tagged GROUP BY n_name
    ),
    tot AS (SELECT sum(n_g) AS n, sum(s1_g) AS s1, sum(s2_g) AS s2 FROM g)
    SELECT g.n_name AS scope, CAST(g.n_g AS BIGINT) AS n_cust,
           round(g.s1_g * 1.0 / tot.s1, 6) AS spend_share,
           round(g.s2_g / (g.s1_g / 100.0)
                 - ln((g.s1_g / 100.0) / g.n_g), 6) AS theil,
           CAST(NULL AS DOUBLE) AS theil_between
    FROM g, tot
    UNION ALL
    SELECT '_ALL', CAST(tot.n AS BIGINT), CAST(1.0 AS DOUBLE),
           round(tot.s2 / (tot.s1 / 100.0) - ln((tot.s1 / 100.0) / tot.n), 6),
           round((SELECT sum((g.s1_g * 1.0 / tot.s1)
                             * ln((g.s1_g * 1.0 / tot.s1) * tot.n / g.n_g))
                  FROM g), 6)
    FROM tot
    """,
    doc="Theil T inequality index over customer lifetime spend with the "
    "between/within-nation decomposition (the additive property Gini "
    "lacks — a44's complement): per-nation rows carry the WITHIN-group "
    "index, the _ALL row carries the total and the BETWEEN-nation term, "
    "and T_total = T_between + Σ share_g·T_g by construction. Numeric "
    "discipline per the a16/a44 house pattern: spend reduces to exact "
    "integer cents (order-free sums), T folds into power sums "
    "T = Σx·ln x / Σx − ln(Σx/n) so the only cross-engine float "
    "exposure is one Σx·ln x whose sum-order noise (~1e-13 relative) "
    "divides away under the exact Σx before the final round(6). Scale "
    "shape: one custkey shuffle + a ~25-row nation rollup; the _ALL row "
    "derives from the 25 per-nation sums, never a second data pass.",
)
def a58_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "orders", "customer", "nation")
    cust = t["orders"].groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    tagged = (
        cust.join(
            t["customer"].select("c_custkey", "c_nationkey"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(F.broadcast(t["nation"]), F.col("n_nationkey") == F.col("c_nationkey"))
        .select("n_name", "cents")
    )
    from .cache_registry import track

    dollars = F.col("cents") / F.lit(100.0)
    # Three branches (per-nation rows, totals, between-term) read the
    # 25-row nation frame; persist it so the data-sized custkey shuffle
    # runs once (tracked-cache contract).
    g = track(
        tagged.groupBy("n_name").agg(
            F.count(F.lit(1)).cast("long").alias("n_g"),
            F.sum("cents").cast("long").alias("s1_g"),
            F.sum(dollars * F.log(dollars)).alias("s2_g"),
        )
    )
    tot0 = g.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s1_g").cast("long").alias("s1"),
        F.sum("s2_g").alias("s2"),
    )
    share = F.col("s1_g") * F.lit(1.0) / F.col("s1")
    between = (
        g.crossJoin(F.broadcast(tot0.select("n", "s1")))
        .agg(
            F.round(
                F.sum(share * F.log(share * F.col("n") / F.col("n_g"))), 6
            ).alias("theil_between")
        )
    )
    tot = tot0.crossJoin(F.broadcast(between))
    per_nation = g.crossJoin(
        F.broadcast(tot0.select(F.col("s1").alias("_s1")))
    ).select(
        F.col("n_name").alias("scope"),
        F.col("n_g").alias("n_cust"),
        F.round(F.col("s1_g") * F.lit(1.0) / F.col("_s1"), 6).alias("spend_share"),
        F.round(
            F.col("s2_g") / (F.col("s1_g") / F.lit(100.0))
            - F.log((F.col("s1_g") / F.lit(100.0)) / F.col("n_g")),
            6,
        ).alias("theil"),
        F.lit(None).cast("double").alias("theil_between"),
    )
    all_row = tot.select(
        F.lit("_ALL").alias("scope"),
        F.col("n").alias("n_cust"),
        F.lit(1.0).alias("spend_share"),
        F.round(
            F.col("s2") / (F.col("s1") / F.lit(100.0))
            - F.log((F.col("s1") / F.lit(100.0)) / F.col("n")),
            6,
        ).alias("theil"),
        F.col("theil_between"),
    )
    return per_nation.unionByName(all_row)


@register(
    "a59_hill_tail_index",
    "A ⊕ (heavy-tail diagnostic: Hill estimator)",
    """
    WITH cust AS (
      SELECT o_custkey, sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY o_custkey
    ),
    topk AS (
      SELECT cents FROM cust ORDER BY cents DESC, o_custkey LIMIT 101
    ),
    m AS (SELECT min(cents) AS xk1 FROM topk)
    SELECT 100 AS k,
           round(m.xk1 / 100.0, 2) AS xk1_dollars,
           round(sum(ln(topk.cents * 1.0 / m.xk1)) / 100, 6) AS hill_h,
           round(100 / sum(ln(topk.cents * 1.0 / m.xk1)), 6) AS alpha
    FROM topk, m GROUP BY m.xk1
    """,
    doc="Hill estimator of the upper-tail exponent of customer lifetime "
    "spend: H = (1/k)·Σ ln(x_(i)/x_(k+1)) over the k=100 largest order "
    "statistics, α = 1/H — the standard power-law/Pareto tail "
    "diagnostic (Hill 1975), the quantitative companion to a47's "
    "Benford screen and the check an LLM-corpus curator runs on "
    "document-length and domain-frequency tails before choosing "
    "sampling caps. The (k+1)-th order statistic is min() over the "
    "LIMIT k+1 set, whose rows contribute ln(1)=0, so one aggregate "
    "serves both. Scale shape: the only data-sized op is the custkey "
    "rollup; the ordered LIMIT plans as TakeOrderedAndProject "
    "(per-partition top-k, never a global sort), then a 101-row "
    "aggregate. Exact integer cents; ln args are ratios of exact ints; "
    "only the 101-term log sum is float, rounded at 6.",
)
def a59_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")["orders"]
    cust = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    topk = cust.orderBy(F.desc("cents"), F.asc("o_custkey")).limit(101).select("cents")
    m = topk.agg(F.min("cents").alias("xk1"))
    lr = F.log(F.col("cents") * F.lit(1.0) / F.col("xk1"))
    return (
        topk.crossJoin(F.broadcast(m))
        .groupBy("xk1")
        .agg(
            F.lit(100).alias("k"),
            F.round(F.col("xk1") / F.lit(100.0), 2).alias("xk1_dollars"),
            F.round(F.sum(lr) / F.lit(100), 6).alias("hill_h"),
            F.round(F.lit(100) / F.sum(lr), 6).alias("alpha"),
        )
        .select("k", "xk1_dollars", "hill_h", "alpha")
    )


@register(
    "w18_cusum_changepoint",
    "W ⊕ (sequential changepoint detection: one-sided CUSUM)",
    """
    WITH daily AS (
      SELECT r.r_name, CAST(o.o_orderdate AS DATE) AS d,
             sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY 1, 2
    ),
    stats AS (
      SELECT r_name, count(*) AS n,
             sum(cents / 100.0) AS s1,
             sum((cents / 100.0) * (cents / 100.0)) AS s2
      FROM daily GROUP BY r_name
    ),
    z AS (
      SELECT daily.r_name, daily.d,
             ((daily.cents / 100.0) - stats.s1 / stats.n)
             / sqrt((stats.s2 - stats.s1 * stats.s1 / stats.n)
                    / (stats.n - 1)) AS zt
      FROM daily JOIN stats USING (r_name)
    ),
    p AS (
      SELECT r_name, d,
             sum(zt - 0.5) OVER (PARTITION BY r_name ORDER BY d) AS pt
      FROM z
    ),
    s AS (
      SELECT r_name, d, pt,
             least(min(pt) OVER (PARTITION BY r_name ORDER BY d),
                   CAST(0.0 AS DOUBLE)) AS mn
      FROM p
    )
    SELECT r_name, CAST(d AS TIMESTAMP) AS day, round(pt - mn, 4) AS cusum
    FROM s WHERE pt - mn > 4.0
    """,
    doc="One-sided CUSUM changepoint detection (Page 1954) on daily "
    "revenue per region: standardize each day against the region's own "
    "mean/std (a16-style power sums), then the CUSUM recursion "
    "S_t = max(0, S_{t-1} + z_t - slack) rewritten in its closed "
    "prefix-sum form S_t = P_t - min(0, min_{j<=t} P_j) — two running "
    "day-domain windows instead of an inherently sequential loop, the "
    "same trick that keeps w3/w10 distributed. Flags days where the "
    "upward drift statistic exceeds h=4. Scale shape: one custkey-join "
    "shuffle into a (region, day) rollup, then windows over the "
    "5-region × day domain — partition count is the region domain, "
    "rows per partition the calendar, independent of order volume. "
    "Float discipline: power sums in dollars (cents² would overflow "
    "int64 at sf>=0.1), whose sum-order noise (~1e-10 relative after "
    "the variance cancellation) stays 3 orders below the round(4) "
    "output grain and the h=4 decision margin.",
)
def w18_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = _t(spark, sf_dir, "orders", "customer", "nation", "region")
    daily = (
        t["orders"]
        .join(
            t["customer"].select("c_custkey", "c_nationkey"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            F.broadcast(
                t["nation"].join(
                    t["region"], F.col("n_regionkey") == F.col("r_regionkey")
                ).select("n_nationkey", "r_name")
            ),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .groupBy("r_name", F.to_date("o_orderdate").alias("d"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    # stats and the z projection both read the (region, day) rollup —
    # persist it so the custkey join + rollup run once (tracked).
    from .cache_registry import track

    daily = track(daily)
    dollars = F.col("cents") / F.lit(100.0)
    stats = daily.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dollars).alias("s1"),
        F.sum(dollars * dollars).alias("s2"),
    )
    sigma = F.sqrt(
        (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1)
    )
    z = daily.join(F.broadcast(stats), "r_name").select(
        "r_name",
        "d",
        ((dollars - F.col("s1") / F.col("n")) / sigma).alias("zt"),
    )
    wrun = (
        Window.partitionBy("r_name")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    p = z.select(
        "r_name", "d", F.sum(F.col("zt") - F.lit(0.5)).over(wrun).alias("pt")
    )
    s = p.select(
        "r_name",
        "d",
        "pt",
        F.least(F.min("pt").over(wrun), F.lit(0.0)).alias("mn"),
    )
    return (
        s.filter(F.col("pt") - F.col("mn") > 4.0)
        .select(
            "r_name",
            F.col("d").cast("timestamp").alias("day"),
            F.round(F.col("pt") - F.col("mn"), 4).alias("cusum"),
        )
    )


@register(
    "w19_max_drawdown",
    "W ⊕ (running-peak analytics: maximum drawdown)",
    """
    WITH daily AS (
      SELECT r.r_name, CAST(o.o_orderdate AS DATE) AS d,
             sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY 1, 2
    ),
    ref AS (
      SELECT r_name, d, cents,
             sum(cents) OVER (PARTITION BY r_name)
               // count(*) OVER (PARTITION BY r_name) AS ref_cents
      FROM daily
    ),
    cum0 AS (
      SELECT r_name, d,
             sum(cents - ref_cents) OVER (PARTITION BY r_name ORDER BY d)
               AS cum_dev
      FROM ref
    ),
    cum AS (
      SELECT r_name, d, cum_dev,
             max(cum_dev) OVER (PARTITION BY r_name ORDER BY d) AS peak
      FROM cum0
    ),
    dd AS (
      SELECT r_name, d, peak - cum_dev AS drawdown,
             row_number() OVER (PARTITION BY r_name
                                ORDER BY peak - cum_dev DESC, d) AS rn
      FROM cum
    )
    SELECT r_name, CAST(d AS TIMESTAMP) AS trough_day,
           CAST(drawdown AS BIGINT) AS max_drawdown_cents
    FROM dd WHERE rn = 1
    """,
    doc="Maximum drawdown of each region's cumulative revenue DEVIATION "
    "series (daily cents minus the region's own mean daily cents, "
    "floored to an integer — a raw revenue cumsum is monotone and "
    "every drawdown is 0; round-10 ADVICE replaced the fixture-scale "
    "2,000,000-cent constant with this data-derived reference so the "
    "statistic keeps meaning at ANY scale factor): drawdown_t = "
    "running_peak - cum_t, answer = its max with the earliest trough "
    "day as tiebreak. The finance-standard worst-peak-to-trough "
    "statistic (complement of w18's CUSUM: same prefix machinery, "
    "opposite tail). ENTIRELY integer arithmetic — exact cents, "
    "integer-div mean (Spark `div` == DuckDB `//` on positive longs), "
    "running sum, running max, subtraction — zero float exposure "
    "anywhere, the strongest determinism class in the catalog. Scale "
    "shape: one custkey-join shuffle into the (region, day) rollup, "
    "one whole-partition window for the reference, then two stacked "
    "running windows plus one ranking window over the region×calendar "
    "domain.",
)
def w19_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = _t(spark, sf_dir, "orders", "customer", "nation", "region")
    daily = (
        t["orders"]
        .join(
            t["customer"].select("c_custkey", "c_nationkey"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            F.broadcast(
                t["nation"].join(
                    t["region"], F.col("n_regionkey") == F.col("r_regionkey")
                ).select("n_nationkey", "r_name")
            ),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .groupBy("r_name", F.to_date("o_orderdate").alias("d"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    wrun = (
        Window.partitionBy("r_name")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("r_name")
    ref = daily.select(
        "r_name",
        "d",
        "cents",
        F.expr("sum(cents) over (partition by r_name)").alias("_tot"),
        F.count(F.lit(1)).over(wall).alias("_nd"),
    ).select(
        "r_name", "d", "cents", F.expr("_tot div _nd").alias("ref_cents")
    )
    cum = ref.select(
        "r_name",
        "d",
        F.sum(F.col("cents") - F.col("ref_cents")).over(wrun).alias("cum_dev"),
    ).select(
        "r_name", "d", "cum_dev", F.max("cum_dev").over(wrun).alias("peak")
    )
    dd = cum.select(
        "r_name",
        "d",
        (F.col("peak") - F.col("cum_dev")).alias("drawdown"),
    )
    wrank = Window.partitionBy("r_name").orderBy(F.desc("drawdown"), F.asc("d"))
    return (
        dd.select("r_name", "d", "drawdown", F.row_number().over(wrank).alias("rn"))
        .filter(F.col("rn") == 1)
        .select(
            "r_name",
            F.col("d").cast("timestamp").alias("trough_day"),
            F.col("drawdown").cast("long").alias("max_drawdown_cents"),
        )
    )


@register(
    "a60_cohort_ltv",
    "A ⊕ (cohort lifetime-value curve)",
    """
    WITH first_order AS (
      SELECT o_custkey,
             min(CAST(date_part('year', o_orderdate) AS BIGINT) * 12
                 + CAST(date_part('month', o_orderdate) AS BIGINT) - 1)
               AS cohort_ym
      FROM orders GROUP BY o_custkey
    ),
    sized AS (
      SELECT cohort_ym, count(*) AS n_cohort
      FROM first_order GROUP BY cohort_ym
    ),
    monthly AS (
      SELECT f.cohort_ym,
             CAST(date_part('year', o.o_orderdate) AS BIGINT) * 12
             + CAST(date_part('month', o.o_orderdate) AS BIGINT) - 1
             - f.cohort_ym AS month_idx,
             sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders o JOIN first_order f ON f.o_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    curve AS (
      SELECT cohort_ym, month_idx,
             sum(cents) OVER (PARTITION BY cohort_ym ORDER BY month_idx)
               AS cum_cents
      FROM monthly
    )
    SELECT CAST(floor(curve.cohort_ym / 12.0) AS BIGINT) AS cohort_year,
           CAST(curve.cohort_ym % 12 + 1 AS BIGINT) AS cohort_month,
           CAST(curve.month_idx AS BIGINT) AS month_idx,
           CAST(sized.n_cohort AS BIGINT) AS n_cohort,
           CAST(curve.cum_cents AS BIGINT) AS cum_cents,
           CAST(curve.cum_cents // sized.n_cohort AS BIGINT)
             AS ltv_cents_per_cust
    FROM curve JOIN sized USING (cohort_ym)
    """,
    doc="Cohort lifetime-value curve: customers grouped by first-order "
    "month, cumulative spend per cohort member tracked by months-since-"
    "acquisition — the LTV triangle behind payback-period and CAC "
    "decisions, the cumulative-spend complement of a15's retention "
    "triangle. Month arithmetic is pure integers (year*12+month-1 "
    "encoding, no date intervals), spend is exact cents, the per-customer "
    "LTV reports in integer cents via exact integral division — like "
    "w19, zero float anywhere. Scale "
    "shape: custkey rollup for first orders, custkey-join back (both "
    "shuffles on the same key — AQE co-locates), then a running window "
    "over the cohort×month-index domain (calendar-bounded partitions).",
)
def a60_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")["orders"]
    ym = (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).cast("long")
    from .cache_registry import track

    # The cohort assignment is read by both the cohort-size rollup and
    # the orders join-back — persist the custkey-sized frame (tracked).
    first_order = track(
        orders.groupBy("o_custkey").agg(F.min(ym).alias("cohort_ym"))
    )
    sized = first_order.groupBy("cohort_ym").agg(
        F.count(F.lit(1)).cast("long").alias("n_cohort")
    )
    monthly = (
        orders.join(first_order, "o_custkey")
        .groupBy("cohort_ym", (ym - F.col("cohort_ym")).alias("month_idx"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    wrun = (
        Window.partitionBy("cohort_ym")
        .orderBy("month_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    curve = monthly.select(
        "cohort_ym",
        "month_idx",
        F.sum("cents").over(wrun).cast("long").alias("cum_cents"),
    )
    return curve.join(F.broadcast(sized), "cohort_ym").select(
        F.floor(F.col("cohort_ym") / 12).cast("long").alias("cohort_year"),
        (F.col("cohort_ym") % 12 + 1).cast("long").alias("cohort_month"),
        F.col("month_idx").cast("long").alias("month_idx"),
        "n_cohort",
        "cum_cents",
        F.expr("cum_cents div n_cohort").cast("long").alias(
            "ltv_cents_per_cust"
        ),
    )


@register(
    "a61_cramers_v",
    "A ⊕ (categorical association: chi-square + Cramér's V)",
    """
    WITH cells AS (
      SELECT o.o_orderpriority AS pri, r.r_name AS reg,
             CAST(count(*) AS BIGINT) AS n_ij
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY 1, 2
    ),
    margins AS (
      SELECT cells.*,
             sum(n_ij) OVER (PARTITION BY pri) AS row_tot,
             sum(n_ij) OVER (PARTITION BY reg) AS col_tot,
             sum(n_ij) OVER () AS n
      FROM cells
    ),
    dims AS (
      SELECT count(DISTINCT pri) AS r, count(DISTINCT reg) AS c FROM cells
    ),
    chi AS (
      SELECT max(n) AS n,
             sum((n_ij - row_tot * col_tot * 1.0 / n)
                 * (n_ij - row_tot * col_tot * 1.0 / n)
                 / (row_tot * col_tot * 1.0 / n)) AS chi2
      FROM margins
    )
    SELECT CAST(chi.n AS BIGINT) AS n,
           CAST((dims.r - 1) * (dims.c - 1) AS BIGINT) AS dof,
           round(chi.chi2, 6) AS chi2,
           round(sqrt(chi.chi2 / (chi.n * least(dims.r - 1, dims.c - 1))), 6)
             AS cramers_v
    FROM chi, dims
    """,
    doc="Effect-size companion to a28's chi-square test: Cramér's V "
    "normalizes χ² by n·min(r−1, c−1) into a 0-1 association strength "
    "between order priority and customer region — the statistic that "
    "stays comparable across table sizes where raw χ² inflates with n "
    "(at 100 TB everything is 'significant'; V says whether it "
    "matters). Contingency cells are exact integer counts; margins via "
    "windows over the tiny (5×5) cell frame; one closed-form float "
    "fold. Scale shape: one custkey-join shuffle into the cell rollup; "
    "everything after is cell-domain sized.",
)
def a61_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = _t(spark, sf_dir, "orders", "customer", "nation", "region")
    cells = (
        t["orders"]
        .join(
            t["customer"].select("c_custkey", "c_nationkey"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            F.broadcast(
                t["nation"].join(
                    t["region"], F.col("n_regionkey") == F.col("r_regionkey")
                ).select("n_nationkey", "r_name")
            ),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .groupBy(
            F.col("o_orderpriority").alias("pri"), F.col("r_name").alias("reg")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_ij"))
    )
    m = cells.select(
        "pri",
        "reg",
        "n_ij",
        F.sum("n_ij").over(Window.partitionBy("pri")).alias("row_tot"),
        F.sum("n_ij").over(Window.partitionBy("reg")).alias("col_tot"),
        F.sum("n_ij").over(Window.partitionBy()).alias("n"),
    )
    e = F.col("row_tot") * F.col("col_tot") * F.lit(1.0) / F.col("n")
    chi = m.agg(
        F.max("n").alias("n"),
        F.sum((F.col("n_ij") - e) * (F.col("n_ij") - e) / e).alias("chi2"),
    )
    dims = cells.agg(
        F.countDistinct("pri").alias("r"), F.countDistinct("reg").alias("c")
    )
    return chi.crossJoin(F.broadcast(dims)).select(
        F.col("n").cast("long").alias("n"),
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("long").alias("dof"),
        F.round("chi2", 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2") / (F.col("n") * F.least(F.col("r") - 1, F.col("c") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


@register(
    "a62_pinball_backtest",
    "A ⊕ (quantile-forecast evaluation: pinball loss)",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY 1
    ),
    fc AS (
      SELECT d, cents,
             quantile_cont(cents, 0.9) OVER (
               ORDER BY d ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING) AS q90,
             count(*) OVER (
               ORDER BY d ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING) AS n_hist
      FROM daily
    ),
    scored AS (
      SELECT CAST(date_part('year', d) * 100 + date_part('month', d) AS BIGINT)
               AS ym,
             CASE WHEN cents >= q90 THEN 0.9 * (cents - q90)
                  ELSE 0.1 * (q90 - cents) END AS loss,
             CASE WHEN cents > q90 THEN 1 ELSE 0 END AS exceed
      FROM fc WHERE n_hist = 28
    )
    SELECT ym, CAST(count(*) AS BIGINT) AS n_days,
           round(sum(loss) / count(*), 2) AS pinball90_cents,
           CAST(sum(exceed) AS BIGINT) AS n_exceed
    FROM scored GROUP BY ym
    """,
    doc="Pinball (quantile) loss backtest at q=0.9: forecast each day's "
    "revenue P90 as the EXACT trailing-28-day quantile (linear "
    "interpolation, the w13/a12 cross-engine percentile definition; "
    "frame excludes the current day so the forecast is honest), score "
    "with the asymmetric pinball loss, and report per month beside the "
    "exceedance count (a well-calibrated P90 exceeds ~10% of days) — "
    "the quantile-forecast companion to a57's point-forecast MAPE, the "
    "loss that makes quantile forecasts comparable and the standard "
    "scoring rule in demand/energy forecasting. Integer cents in, one "
    "interpolated quantile and one closed-form loss out; the day-domain "
    "frame is calendar-bounded (w13's holistic-frame contract: 28 "
    "values per row, never data-sized state).",
)
def a62_pinball_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")["orders"]
    daily = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    w = Window.orderBy("d").rowsBetween(-28, -1)
    fc = daily.select(
        "d",
        "cents",
        F.expr("percentile(cents, 0.9)").over(w).alias("q90"),
        F.count(F.lit(1)).over(w).alias("n_hist"),
    ).filter(F.col("n_hist") == 28)
    loss = F.when(
        F.col("cents") >= F.col("q90"), 0.9 * (F.col("cents") - F.col("q90"))
    ).otherwise(0.1 * (F.col("q90") - F.col("cents")))
    exceed = F.when(F.col("cents") > F.col("q90"), 1).otherwise(0)
    return (
        fc.select(
            (F.year("d") * 100 + F.month("d")).cast("long").alias("ym"),
            loss.alias("loss"),
            exceed.alias("exceed"),
        )
        .groupBy("ym")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.round(F.sum("loss") / F.count(F.lit(1)), 2).alias("pinball90_cents"),
            F.sum("exceed").cast("long").alias("n_exceed"),
        )
    )


# =====================================================================
# Round 10: robust trend (Theil–Sen), momentum oscillator (RSI)
# =====================================================================


@register(
    "a64_theil_sen",
    "A ⊕ (robust trend: Theil–Sen slope estimator)",
    """
    WITH daily AS (
      SELECT r.r_name, CAST(o.o_orderdate AS DATE) AS d,
             sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY 1, 2
    ),
    slopes AS (
      SELECT a.r_name,
             (b.cents - a.cents) * 1.0 / date_diff('day', a.d, b.d) AS slope
      FROM daily a JOIN daily b ON a.r_name = b.r_name AND a.d < b.d
    ),
    ranked AS (
      SELECT r_name, slope,
             row_number() OVER (PARTITION BY r_name ORDER BY slope) AS rn,
             count(*) OVER (PARTITION BY r_name) AS n
      FROM slopes
    )
    SELECT r_name, CAST(max(n) AS BIGINT) AS n_pairs,
           round(avg(slope), 6) AS ts_slope
    FROM ranked
    WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
    GROUP BY r_name
    """,
    doc="Theil–Sen slope of each region's daily revenue series: the "
    "MEDIAN of all pairwise slopes (c_j - c_i)/(d_j - d_i) — the "
    "robust-regression complement of a56's Mann–Kendall trend TEST "
    "(same day-domain pairing; Sen 1968 is literally the estimator "
    "attached to that test). Breakdown point 29.3%: outlier days that "
    "wreck an OLS fit leave the pairwise-slope median unmoved. "
    "Determinism: cents and day gaps are exact integers, each slope is "
    "ONE double division of those integers (identical IEEE op both "
    "engines), and the median is RANK-SELECTED — packing.global_rank "
    "range-partitions the (region, slope) order across ALL cores and "
    "picks the middle element(s) by global-rank-minus-region-offset "
    "(avg of two doubles is commutative-safe) — NOT Spark's "
    "percentile() aggregate, which is a TypedImperativeAggregate "
    "buffering every group value on one heap (OOMed the 1g-driver "
    "harness at 2.9M slopes/region), and NOT a per-region row_number "
    "window, which funnels each region through one task (5 of 32 "
    "cores busy, measured 14s at sf0.1), rounded at 6. Scale shape: "
    "the pair join is "
    "DAY-DOMAIN quadratic — calendar-bounded (n_days² per region, "
    "independent of row count), exactly like a56 — after one "
    "custkey-broadcast rollup shuffle of orders; at multi-decade "
    "calendars switch to the repeated-median or a pair-sampled "
    "estimator, same frame.",
)
def a64_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .cache_registry import track

    t = _t(spark, sf_dir, "orders", "customer", "nation", "region")
    daily = (
        t["orders"]
        .join(
            t["customer"].select("c_custkey", "c_nationkey"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            F.broadcast(
                t["nation"]
                .join(t["region"], F.col("n_regionkey") == F.col("r_regionkey"))
                .select("n_nationkey", "r_name")
            ),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .groupBy("r_name", F.to_date("o_orderdate").alias("d"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    # The rollup is the ONLY piece that grows with the data (the slope
    # pair-set is calendar-bounded); the self-join reads it twice and
    # its lineage defeats ReuseExchange, so without a persist the 3-way
    # join + agg over orders runs TWICE — measured as the rising 32×
    # ratio in SCALE_r10 (1.74×→4.5×). Persist it once: the pair join
    # then reads a ~n_regions·n_days row cache.
    daily = track(daily)
    a, b = daily.alias("a"), daily.alias("b")
    # BROADCAST the left pair side (round-11): a shuffled self-join on
    # r_name has only n_regions distinct keys, so the quadratic pair
    # expansion funnels through 5 of 32 tasks; broadcasting the (tiny,
    # calendar-bounded) daily frame keeps the probe side's full
    # partitioning, so every core expands pairs. The slope projection
    # carries ONLY (r_name, slope): the pair's dates are not needed
    # downstream — median-by-rank selects ORDER STATISTICS, which are
    # deterministic VALUES under arbitrary tie order (any total-order
    # extension puts the k-th smallest value at rank k), so no
    # tie-break columns, and ~30% less data through the rank shuffle.
    slopes = a.join(
        F.broadcast(b),
        (F.col("a.r_name") == F.col("b.r_name")) & (F.col("a.d") < F.col("b.d")),
    ).select(
        F.col("a.r_name").alias("r_name"),
        (
            (F.col("b.cents") - F.col("a.cents")).cast("double")
            / F.datediff(F.col("b.d"), F.col("a.d"))
        ).alias("slope"),
    )
    # Median by DISTRIBUTED rank selection: a per-region row_number
    # window would funnel each region's ~n_days² slopes through ONE
    # task (5 regions -> 5 of 32 cores); global_rank range-partitions
    # the (r_name, slope) order across every core, and since r_name
    # leads the order, per-region ranks are the global rank minus the
    # region's offset (5-row broadcast). (r_name, slope) is NOT a total
    # order — sanctioned by global_rank's values-at-selected-ranks
    # exception: only the slope VALUE at the median rank is read, which
    # is tie-layout-invariant, and _grank itself never leaves this plan.
    from pyspark.sql import Window

    from ..operators.packing import global_rank

    ranked = global_rank(
        slopes,
        ["r_name", "slope"],
        rank_name="_grank",
        # global_rank materializes the ranked frame itself (its
        # track_cache correctness guarantee), so slopes needs NO
        # separate persist: it has exactly one reader now that the
        # per-region pair counts come from day-count arithmetic below
        # instead of a second scan of the pair set.
        track_cache=True,
    )
    # n_pairs per region is CLOSED-FORM: c days pair into c*(c-1)/2
    # slopes — a 5-row aggregate of the cached daily rollup, not a
    # 14M-row recount of the pair set.
    tot = daily.groupBy("r_name").agg(
        (F.count(F.lit(1)) * (F.count(F.lit(1)) - 1) / 2).cast("long").alias("n")
    )
    ow = Window.orderBy("r_name").rowsBetween(Window.unboundedPreceding, -1)
    off = tot.select(
        "r_name",
        "n",
        F.coalesce(F.sum("n").over(ow), F.lit(0)).alias("_off"),
    )
    mid = (
        ranked.join(F.broadcast(off), "r_name")
        .withColumn("_rn", F.col("_grank") - F.col("_off"))
        .filter(
            (F.col("_rn") == F.floor((F.col("n") + 1) / 2))
            | (F.col("_rn") == F.floor((F.col("n") + 2) / 2))
        )
    )
    return mid.groupBy("r_name").agg(
        F.max("n").cast("long").alias("n_pairs"),
        F.round(F.avg("slope"), 6).alias("ts_slope"),
    )


@register(
    "w20_rsi",
    "W ⊕ (momentum oscillator: Cutler RSI-14)",
    """
    WITH daily AS (
      SELECT r.r_name, CAST(o.o_orderdate AS DATE) AS d,
             sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY 1, 2
    ),
    diffs AS (
      SELECT r_name, d,
             cents - lag(cents) OVER (PARTITION BY r_name ORDER BY d) AS diff
      FROM daily
    ),
    gl AS (
      SELECT r_name, d,
             CAST(greatest(diff, 0) AS BIGINT) AS gain,
             CAST(greatest(-diff, 0) AS BIGINT) AS loss
      FROM diffs WHERE diff IS NOT NULL
    ),
    framed AS (
      SELECT r_name, d,
             sum(gain) OVER w AS sg, sum(loss) OVER w AS sl,
             count(*) OVER w AS n
      FROM gl
      WINDOW w AS (PARTITION BY r_name ORDER BY d
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT r_name, CAST(d AS TIMESTAMP) AS day,
           CAST(sg AS BIGINT) AS gain14, CAST(sl AS BIGINT) AS loss14,
           round(100.0 * sg / (sg + sl), 6) AS rsi14
    FROM framed WHERE n = 14 AND (sg + sl) > 0
    """,
    doc="Cutler's RSI-14 on each region's daily revenue: up-moves and "
    "down-moves from the lag-1 diff, 14-day frame sums, "
    "RSI = 100·gains/(gains+losses) — the momentum complement of "
    "w15's EWMA level and w16's shape matcher (Cutler's SMA variant "
    "deliberately, NOT Wilder's: Wilder smoothing is a recursive EWMA "
    "whose float state accumulates engine-order drift, while frame "
    "sums of integer cents are exact — the w14/w17 discipline). The "
    "division happens ONCE per emitted row on two exact integers; "
    "degenerate frames (sg+sl = 0, a flat fortnight) are excluded "
    "explicitly rather than emitting engine-dependent NULL/NaN. Scale "
    "shape: one custkey-broadcast rollup shuffle of orders into the "
    "(region, day) domain, then lag + frame windows over "
    "calendar-bounded partitions.",
)
def w20_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = _t(spark, sf_dir, "orders", "customer", "nation", "region")
    daily = (
        t["orders"]
        .join(
            t["customer"].select("c_custkey", "c_nationkey"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            F.broadcast(
                t["nation"]
                .join(t["region"], F.col("n_regionkey") == F.col("r_regionkey"))
                .select("n_nationkey", "r_name")
            ),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .groupBy("r_name", F.to_date("o_orderdate").alias("d"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    wlag = Window.partitionBy("r_name").orderBy("d")
    gl = (
        daily.select(
            "r_name",
            "d",
            (F.col("cents") - F.lag("cents").over(wlag)).alias("diff"),
        )
        .filter(F.col("diff").isNotNull())
        .select(
            "r_name",
            "d",
            F.greatest(F.col("diff"), F.lit(0)).cast("long").alias("gain"),
            F.greatest(-F.col("diff"), F.lit(0)).cast("long").alias("loss"),
        )
    )
    wf = Window.partitionBy("r_name").orderBy("d").rowsBetween(-13, 0)
    framed = gl.select(
        "r_name",
        "d",
        F.sum("gain").over(wf).alias("sg"),
        F.sum("loss").over(wf).alias("sl"),
        F.count(F.lit(1)).over(wf).alias("n"),
    )
    return framed.filter(
        (F.col("n") == 14) & ((F.col("sg") + F.col("sl")) > 0)
    ).select(
        "r_name",
        F.col("d").cast("timestamp").alias("day"),
        F.col("sg").cast("long").alias("gain14"),
        F.col("sl").cast("long").alias("loss14"),
        F.round(
            F.lit(100.0) * F.col("sg") / (F.col("sg") + F.col("sl")), 6
        ).alias("rsi14"),
    )


@register(
    "j17_nearest_event_join",
    "J ⊕ (bidirectional nearest-key join)",
    """
    WITH tagged AS (
      SELECT user_id, ts, event_id, event_type = 'click' AS is_click
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    passes AS (
      SELECT user_id, ts, event_id, is_click,
        last_value(CASE WHEN is_click THEN epoch_us(ts) END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_ts,
        last_value(CASE WHEN is_click THEN event_id END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_id,
        last_value(CASE WHEN is_click THEN epoch_us(ts) END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS next_ts,
        last_value(CASE WHEN is_click THEN event_id END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS next_id
      FROM tagged
    )
    SELECT event_id AS purchase_id,
           CAST(CASE WHEN prev_ts IS NULL THEN next_id
                     WHEN next_ts IS NULL THEN prev_id
                     WHEN epoch_us(ts) - prev_ts <= next_ts - epoch_us(ts)
                       THEN prev_id ELSE next_id END AS BIGINT) AS click_id,
           CAST(CASE WHEN prev_ts IS NULL THEN next_ts - epoch_us(ts)
                     WHEN next_ts IS NULL THEN prev_ts - epoch_us(ts)
                     WHEN epoch_us(ts) - prev_ts <= next_ts - epoch_us(ts)
                       THEN prev_ts - epoch_us(ts)
                       ELSE next_ts - epoch_us(ts) END AS BIGINT) AS delta_us
    FROM passes
    WHERE NOT is_click AND (prev_ts IS NOT NULL OR next_ts IS NOT NULL)
    """,
    doc="BIDIRECTIONAL nearest-key join — for each purchase, the "
    "user's nearest click by |Δt| in EITHER direction (ties → the "
    "earlier side), the join J5's as-of can't express (as-of is "
    "directional by definition; nearest-neighbor matching is the "
    "attribution/sensor-alignment form). Implemented as the tagged "
    "UNION + two running passes: a forward last-click carry and a "
    "REVERSED-order last-click carry (never a [current, unbounded "
    "following] frame — §9a: Spark rescans those per row, the t8 "
    "O(n²) trap), then one CASE picks the nearer side. Every "
    "comparison is integer epoch-microseconds; (ts, event_id) makes "
    "the union order total, so same-timestamp click/purchase pairs "
    "resolve identically on both engines. Scale shape: ONE user-keyed "
    "shuffle feeds both window passes and the final filter — no join "
    "at all in the physical plan, the union trick's whole point.",
)
def j17_nearest_event_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")["events"]
    tagged = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "ts",
        "event_id",
        (F.col("event_type") == "click").alias("is_click"),
        F.unix_micros("ts").alias("us"),
    )
    click_us = F.when(F.col("is_click"), F.col("us"))
    click_id = F.when(F.col("is_click"), F.col("event_id"))
    fwd = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    rev = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    passes = tagged.select(
        "event_id",
        "is_click",
        "us",
        F.last(click_us, ignorenulls=True).over(fwd).alias("prev_ts"),
        F.last(click_id, ignorenulls=True).over(fwd).alias("prev_id"),
        F.last(click_us, ignorenulls=True).over(rev).alias("next_ts"),
        F.last(click_id, ignorenulls=True).over(rev).alias("next_id"),
    )
    prev_nearer = (F.col("us") - F.col("prev_ts")) <= (
        F.col("next_ts") - F.col("us")
    )
    return passes.filter(
        (~F.col("is_click"))
        & (F.col("prev_ts").isNotNull() | F.col("next_ts").isNotNull())
    ).select(
        F.col("event_id").alias("purchase_id"),
        F.when(F.col("prev_ts").isNull(), F.col("next_id"))
        .when(F.col("next_ts").isNull(), F.col("prev_id"))
        .when(prev_nearer, F.col("prev_id"))
        .otherwise(F.col("next_id"))
        .cast("long")
        .alias("click_id"),
        F.when(F.col("prev_ts").isNull(), F.col("next_ts") - F.col("us"))
        .when(F.col("next_ts").isNull(), F.col("prev_ts") - F.col("us"))
        .when(prev_nearer, F.col("prev_ts") - F.col("us"))
        .otherwise(F.col("next_ts") - F.col("us"))
        .cast("long")
        .alias("delta_us"),
    )


@register(
    "a65_anova_f",
    "A16 ⊕ (one-way ANOVA F)",
    """
    WITH s AS (
      SELECT CAST(count(*) FILTER (l_returnflag = 'A') AS BIGINT) AS n_a,
             round(sum(l_quantity) FILTER (l_returnflag = 'A'), 2) AS s1_a,
             round(sum(l_quantity * l_quantity)
                   FILTER (l_returnflag = 'A'), 2) AS s2_a,
             CAST(count(*) FILTER (l_returnflag = 'N') AS BIGINT) AS n_n,
             round(sum(l_quantity) FILTER (l_returnflag = 'N'), 2) AS s1_n,
             round(sum(l_quantity * l_quantity)
                   FILTER (l_returnflag = 'N'), 2) AS s2_n,
             CAST(count(*) FILTER (l_returnflag = 'R') AS BIGINT) AS n_r,
             round(sum(l_quantity) FILTER (l_returnflag = 'R'), 2) AS s1_r,
             round(sum(l_quantity * l_quantity)
                   FILTER (l_returnflag = 'R'), 2) AS s2_r
      FROM lineitem
    ),
    m AS (
      SELECT n_a + n_n + n_r AS n_total,
             s1_a + s1_n + s1_r AS s1,
             s2_a + s2_n + s2_r AS s2,
             s1_a * s1_a / n_a + s1_n * s1_n / n_n + s1_r * s1_r / n_r
               AS between_raw,
             n_a, n_n, n_r
      FROM s
    )
    SELECT CAST(n_total AS BIGINT) AS n_total,
           CAST(3 AS INTEGER) AS k_groups,
           round((between_raw - s1 * s1 / n_total) / (3 - 1)
                 / ((s2 - between_raw) / (n_total - 3)), 6) AS f_stat,
           round((between_raw - s1 * s1 / n_total)
                 / (s2 - s1 * s1 / n_total), 6) AS eta_sq
    FROM m
    """,
    doc="One-way ANOVA F across the three l_returnflag quantity "
    "populations — the k-group generalization of a38's Welch pair "
    "(SSB = Σ S_g²/n_g − S²/N, SSW = Σq² − Σ S_g²/n_g), with effect "
    "size η². The a16 discipline throughout: ONE conditional-"
    "aggregation pass collects exact rounded power sums per group "
    "(quantities are small integers, so every sum is exact in "
    "doubles), the groups are PIVOTED into fixed columns so the "
    "cross-group additions happen in a written-down order (a groupBy "
    "row sum would add in partition order — not cross-engine stable), "
    "and the downstream algebra is one deterministic IEEE expression "
    "tree. Fully partial-aggregatable, zero joins — the screening "
    "test run before pairwise a38s at any scale.",
)
def a65_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    q = F.col("l_quantity")
    aggs = []
    for g in ("a", "n", "r"):
        flag = F.col("l_returnflag") == g.upper()
        aggs += [
            F.count_if(flag).alias(f"n_{g}"),
            F.round(F.sum(F.when(flag, q)), 2).alias(f"s1_{g}"),
            F.round(F.sum(F.when(flag, q * q)), 2).alias(f"s2_{g}"),
        ]
    s = li.agg(*aggs)
    n_total = F.col("n_a") + F.col("n_n") + F.col("n_r")
    s1 = F.col("s1_a") + F.col("s1_n") + F.col("s1_r")
    s2 = F.col("s2_a") + F.col("s2_n") + F.col("s2_r")
    between_raw = (
        F.col("s1_a") * F.col("s1_a") / F.col("n_a")
        + F.col("s1_n") * F.col("s1_n") / F.col("n_n")
        + F.col("s1_r") * F.col("s1_r") / F.col("n_r")
    )
    m = s.select(
        n_total.alias("n_total"),
        s1.alias("s1"),
        s2.alias("s2"),
        between_raw.alias("between_raw"),
    )
    ssb = F.col("between_raw") - F.col("s1") * F.col("s1") / F.col("n_total")
    ssw = F.col("s2") - F.col("between_raw")
    sst = F.col("s2") - F.col("s1") * F.col("s1") / F.col("n_total")
    return m.select(
        F.col("n_total").cast("long").alias("n_total"),
        F.lit(3).cast("int").alias("k_groups"),
        F.round((ssb / (3 - 1)) / (ssw / (F.col("n_total") - 3)), 6).alias(
            "f_stat"
        ),
        F.round(ssb / sst, 6).alias("eta_sq"),
    )


@register(
    "j18_bucketed_colocation",
    "J ⊕ (co-located fact join on the bucketed load-time layout)",
    """
    WITH per_order AS (
      SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines,
             sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                      AS BIGINT)) AS rev_c4
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(n_lines) AS BIGINT) AS n_lines,
           CAST(sum(rev_c4) AS BIGINT) AS rev_c4
    FROM per_order JOIN orders ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
    doc="The bucketed warehouse layout AS A GRADED ENTRY: the builder "
    "materializes (once per fixture dir, the j7 partitioned-copy "
    "pattern) lineitem+orders bucketed by orderkey — one file per "
    "bucket, sorted, the round-10 load-time contract — then runs the "
    "canonical co-located pipeline: per-order line rollup (bucket-"
    "local, and SORT-FREE off the scan order), orderkey join (bucket-"
    "local SMJ, sort-free), priority rollup (the single exchange, "
    "priority-domain sized). A driver grade therefore value-proves "
    "the whole layout path end-to-end — writer bucket-id parity with "
    "HashPartitioning, the one-file-per-bucket sort contract, the "
    "sorted-scan flag, DDL re-registration — against a plain-table "
    "oracle. Money stays exact: l_extendedprice*(1-l_discount) has 4 "
    "decimals, so round(x*10000) is integer-exact with no half-even/"
    "half-up boundary exposure; sums are BIGINT.",
)
def j18_bucketed_colocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bucketing import ensure_bucketed_pair

    li_t, ord_t = ensure_bucketed_pair(spark, sf_dir)
    per_order = (
        spark.table(li_t)
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
                ).cast("long")
            ).alias("rev_c4"),
        )
    )
    orders = spark.table(ord_t).select("o_orderkey", "o_orderpriority")
    return (
        per_order.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("n_lines").cast("long").alias("n_lines"),
            F.sum("rev_c4").cast("long").alias("rev_c4"),
        )
    )


@register(
    "q21_preagg_colocation",
    "SQ+J4 ⊕ (Q21 on the load-time lateness pre-agg — the materialized-view contract)",
    """
    SELECT s_name, count(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND n_name = 'NATION_7'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
    GROUP BY s_name
    """,
    doc="The round-11 `mv_preagg` probe rung as a GRADED entry (VERDICT "
    "r11 #2, the j18 ship-the-layout pattern): q21's quantifier "
    "pipeline off a LOAD-TIME materialized per-(orderkey, suppkey) "
    "lateness pre-agg — bucketed and sorted by orderkey, one file per "
    "bucket (operators/bucketing.ensure_q21_preagg). At read time the "
    "query is scan → per-order supplier/late-supplier counts as window "
    "aggregates RIDING the sorted buckets (zero data-proportional "
    "exchanges) → sole-late filter → broadcast nation-supplier name "
    "join → name rollup. The oracle is the FULL Q21 quantifier SQL "
    "against the PLAIN tables, so a driver grade value-proves the "
    "materialized-view contract end-to-end: pre-agg derivation "
    "(orders-status filter, 90-day lateness, per-pair max/sum), writer "
    "bucket-id parity, the one-file-per-bucket sort contract, and DDL "
    "re-registration in a fresh session — any drift between the stored "
    "rollup and the base tables breaks value equality. This is the "
    "only measured q21 configuration that held the ≤2.5× gate at the "
    "32× probe (0.69-0.96 s vs DuckDB 0.38-0.43, SCALE_r11 "
    "§q21_third_rung); write-once cost 8.2 s there, amortized across "
    "every repeat of the query family — the 100 TB shape for repeated "
    "quantifier analytics over slowly-appended facts.",
)
def q21_preagg_colocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..operators.bucketing import ensure_q21_preagg

    table = ensure_q21_preagg(spark, sf_dir)
    t = _t(spark, sf_dir, "supplier", "nation")
    nation_sup = (
        t["supplier"]
        .join(
            F.broadcast(t["nation"].filter(F.col("n_name") == "NATION_7")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    os_agg = spark.table(table)
    w = Window.partitionBy("l_orderkey")
    per = os_agg.select(
        "*",
        F.count(F.lit(1)).over(w).alias("n_supp"),
        F.sum("supp_late").over(w).alias("n_late_supp"),
    )
    sole = per.filter(
        (F.col("supp_late") == 1)
        & (F.col("n_supp") > 1)
        & (F.col("n_late_supp") == 1)
    )
    named = sole.join(
        broadcast_if_dim(nation_sup, bounded=False, why="supplier slice, SF-proportional"), F.col("s_suppkey") == F.col("l_suppkey")
    )
    return named.groupBy("s_name").agg(F.sum("late_rows").alias("numwait"))


@register(
    "q21_preagg_refresh",
    "SQ+J4 ⊕ (incremental MV maintenance: delta refresh of the Q21 pre-agg)",
    """
    SELECT s_name, count(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND n_name = 'NATION_3'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
    GROUP BY s_name
    """,
    doc="The MAINTENANCE half of the q21 materialized-view contract "
    "(round-13, VERDICT r12 #4; the static half is "
    "q21_preagg_colocation): the lateness pre-agg is materialized as a "
    "BASE layout computed WITHOUT a held-out delta batch — the "
    "linenumber-4+ rows of orders placed on/after 2000-07-01 (~9% of "
    "lineitem, written to scratch as the literal appended fact batch) "
    "— partitioned by order year and bucketed+sorted by orderkey "
    "within each partition (operators/bucketing.ensure_q21_mv_pair). "
    "Every run then performs the incremental refresh "
    "(refresh_q21_preagg): read the delta batch (O(delta) bytes by "
    "construction), join it against the j18 bucketed orders layout "
    "(only the delta shuffles), fold delta partials, merge with ONLY "
    "the affected year partitions of the base (broadcast semi-join on "
    "the partition column prunes the scan) using the algebraic "
    "combiners max/sum — the a25_incremental_agg partial-agg merge, "
    "exercised for real: 37 delta groups overlap base groups at "
    "sf0.01, 2 flip the lateness flag — and "
    "dynamic-partition-overwrite of just the touched o_year= "
    "directories of the LIVE table (2 of 7 years at this cut; "
    "1995-1999 files are never rewritten). Idempotent: the merge reads "
    "the immutable base, never the live table. The graded query runs "
    "the full Q21 quantifier pipeline off the refreshed live MV (the "
    "per-order window rides the bucketing — exchange-free, one "
    "in-partition sort since buckets span partition dirs) against the "
    "full Q21 SQL on the PLAIN tables, so a grade value-proves "
    "base+delta = whole-history: any drift in the delta cut, the merge "
    "algebra, the partition overwrite, or partition discovery on "
    "re-registration breaks value equality. This is the warehouse "
    "pattern a 100 TB deployment runs hourly: refresh cost scales with "
    "the delta batch and its partition locality, never the base.",
)
def q21_preagg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..operators.bucketing import refresh_q21_preagg

    live = refresh_q21_preagg(spark, sf_dir)
    t = _t(spark, sf_dir, "supplier", "nation")
    nation_sup = (
        t["supplier"]
        .join(
            F.broadcast(t["nation"].filter(F.col("n_name") == "NATION_3")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    os_agg = spark.table(live)
    w = Window.partitionBy("l_orderkey")
    per = os_agg.select(
        "*",
        F.count(F.lit(1)).over(w).alias("n_supp"),
        F.sum("supp_late").over(w).alias("n_late_supp"),
    )
    sole = per.filter(
        (F.col("supp_late") == 1)
        & (F.col("n_supp") > 1)
        & (F.col("n_late_supp") == 1)
    )
    named = sole.join(
        broadcast_if_dim(nation_sup, bounded=False, why="supplier slice, SF-proportional"), F.col("s_suppkey") == F.col("l_suppkey")
    )
    return named.groupBy("s_name").agg(F.sum("late_rows").alias("numwait"))


@register(
    "a66_cuped",
    "A16 ⊕ (CUPED variance-reduced experiment readout)",
    """
    WITH per_user AS (
      SELECT o_custkey,
             CAST(sum(CASE WHEN o_orderdate < DATE '1998-01-01'
                      THEN CAST(floor(o_totalprice) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN o_orderdate >= DATE '1998-01-01'
                      THEN CAST(floor(o_totalprice) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS y,
             CAST(concat('0x', substring(md5(CAST(o_custkey AS VARCHAR)), 1, 6))
                  AS BIGINT) % 2 AS grp
      FROM orders GROUP BY o_custkey
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(count(*) FILTER (grp = 0) AS BIGINT) AS n_a,
             CAST(sum(x) FILTER (grp = 0) AS BIGINT) AS sx_a,
             CAST(sum(y) FILTER (grp = 0) AS BIGINT) AS sy_a,
             CAST(count(*) FILTER (grp = 1) AS BIGINT) AS n_b,
             CAST(sum(x) FILTER (grp = 1) AS BIGINT) AS sx_b,
             CAST(sum(y) FILTER (grp = 1) AS BIGINT) AS sy_b
      FROM per_user
    )
    SELECT n_a, n_b,
           round((sxy * 1.0 / n - (sx * 1.0 / n) * (sy * 1.0 / n))
                 / (sxx * 1.0 / n - (sx * 1.0 / n) * (sx * 1.0 / n)), 6)
             AS theta,
           round(sy_a * 1.0 / n_a, 6) AS mean_raw_a,
           round(sy_b * 1.0 / n_b, 6) AS mean_raw_b,
           round(sy_a * 1.0 / n_a
                 - (sxy * 1.0 / n - (sx * 1.0 / n) * (sy * 1.0 / n))
                   / (sxx * 1.0 / n - (sx * 1.0 / n) * (sx * 1.0 / n))
                   * (sx_a * 1.0 / n_a - sx * 1.0 / n), 6) AS mean_adj_a,
           round(sy_b * 1.0 / n_b
                 - (sxy * 1.0 / n - (sx * 1.0 / n) * (sy * 1.0 / n))
                   / (sxx * 1.0 / n - (sx * 1.0 / n) * (sx * 1.0 / n))
                   * (sx_b * 1.0 / n_b - sx * 1.0 / n), 6) AS mean_adj_b
    FROM s
    """,
    doc="CUPED (Controlled-experiment Using Pre-Experiment Data, Deng "
    "et al. WSDM'13 — the industry-standard variance-reduction "
    "adjustment): per active customer, pre-period spend x "
    "(orders before 1998; the fixture calendar runs 1995-2001) is the "
    "covariate for experiment-period "
    "spend y; θ = cov(x,y)/var(x) from pooled power sums, cohorts by "
    "the md5 coin (the sample_hash_split convention), and each "
    "cohort's adjusted mean is ȳ_g − θ(x̄_g − x̄). Everything before "
    "the final expressions is EXACT BIGINT — integer dollars via "
    "floor() (no rounding-mode exposure), per-user sums, x·y and x² "
    "products, FILTER-pivoted cohort sums — and the float algebra is "
    "one written-down expression tree evaluated identically by both "
    "engines (the a38/a65 pivot discipline). Scale shape: one "
    "custkey-keyed groupBy then a single 1-row fold, fully "
    "partial-aggregatable. θ is computed in NORMALIZED double space "
    "(each power sum / n first): the raw n·Σx² cross-product overflows "
    "BIGINT at the 32× probe already. The BIGINT power sums themselves "
    "hold exactness to ~10⁷ users at integer-dollar magnitudes; past "
    "that, per-partition double partials (or native covar_pop) take "
    "over and the entry's algebra stays the spec.",
)
def a66_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")["orders"]
    pre = F.col("o_orderdate") < F.lit("1998-01-01").cast("date")
    dollars = F.floor(F.col("o_totalprice")).cast("long")
    per_user = orders.groupBy("o_custkey").agg(
        F.sum(F.when(pre, dollars).otherwise(F.lit(0)))
        .cast("long")
        .alias("x"),
        F.sum(F.when(~pre, dollars).otherwise(F.lit(0)))
        .cast("long")
        .alias("y"),
    ).withColumn(
        "grp",
        F.conv(
            F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 6), 16, 10
        ).cast("long")
        % 2,
    )
    is_a, is_b = F.col("grp") == 0, F.col("grp") == 1
    s = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.count_if(is_a).cast("long").alias("n_a"),
        F.sum(F.when(is_a, F.col("x")).otherwise(F.lit(0))).cast("long").alias("sx_a"),
        F.sum(F.when(is_a, F.col("y")).otherwise(F.lit(0))).cast("long").alias("sy_a"),
        F.count_if(is_b).cast("long").alias("n_b"),
        F.sum(F.when(is_b, F.col("x")).otherwise(F.lit(0))).cast("long").alias("sx_b"),
        F.sum(F.when(is_b, F.col("y")).otherwise(F.lit(0))).cast("long").alias("sy_b"),
    )
    # theta in NORMALIZED double space: n*sxx overflows BIGINT at the
    # 32x probe (DuckDB errors, ANSI Spark would too) — divide each
    # power sum by n FIRST, identical expression tree both engines
    theta = (
        F.col("sxy") * F.lit(1.0) / F.col("n")
        - (F.col("sx") * F.lit(1.0) / F.col("n"))
        * (F.col("sy") * F.lit(1.0) / F.col("n"))
    ) / (
        F.col("sxx") * F.lit(1.0) / F.col("n")
        - (F.col("sx") * F.lit(1.0) / F.col("n"))
        * (F.col("sx") * F.lit(1.0) / F.col("n"))
    )
    def adj(sy_g, sx_g, n_g):
        return (
            F.col(sy_g) * F.lit(1.0) / F.col(n_g)
            - theta
            * (
                F.col(sx_g) * F.lit(1.0) / F.col(n_g)
                - F.col("sx") * F.lit(1.0) / F.col("n")
            )
        )
    return s.select(
        "n_a",
        "n_b",
        F.round(theta, 6).alias("theta"),
        F.round(F.col("sy_a") * F.lit(1.0) / F.col("n_a"), 6).alias("mean_raw_a"),
        F.round(F.col("sy_b") * F.lit(1.0) / F.col("n_b"), 6).alias("mean_raw_b"),
        F.round(adj("sy_a", "sx_a", "n_a"), 6).alias("mean_adj_a"),
        F.round(adj("sy_b", "sx_b", "n_b"), 6).alias("mean_adj_b"),
    )


@register(
    "t13_grouped_topk_merge",
    "T ⊕ (grouped top-k over a union of relations)",
    """
    WITH ents AS (
      SELECT c_nationkey AS nationkey, 'customer' AS entity,
             c_name AS name, c_acctbal AS acctbal
      FROM customer
      UNION ALL
      SELECT s_nationkey, 'supplier', s_name, s_acctbal FROM supplier
    ),
    ranked AS (
      SELECT nationkey, entity, name, acctbal,
             row_number() OVER (PARTITION BY nationkey
                                ORDER BY acctbal ASC, entity ASC, name ASC)
               AS rk
      FROM ents
    )
    SELECT CAST(nationkey AS BIGINT) AS nationkey, CAST(rk AS INTEGER) AS rk,
           entity, name, round(acctbal, 2) AS acctbal
    FROM ranked WHERE rk <= 3
    """,
    doc="Per-key k-smallest MERGED from two relations (round-10 VERDICT "
    "#8): the 3 lowest-balance counterparties per nation across "
    "customers AND suppliers — the grouped analog of t3's global top-k, "
    "over a heterogeneous union (the D1/D5 shape feeding W1 machinery). "
    "Total order (acctbal, entity, name) makes ranks deterministic "
    "under the double-typed balance ties the fixture actually contains. "
    "Scale shape: ONE window over the union — Spark's WindowGroupLimit "
    "rewrite inserts a per-partition rank<=k prune on EACH union branch "
    "BEFORE the exchange (asserted in tests/test_plans.py), so the "
    "shuffle carries at most k·groups rows per relation regardless of "
    "input size; no per-relation pre-prune is hand-written because the "
    "optimizer already plants exactly that.",
)
def t13_grouped_topk_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = _t(spark, sf_dir, "customer", "supplier")
    ents = t["customer"].select(
        F.col("c_nationkey").alias("nationkey"),
        F.lit("customer").alias("entity"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
    ).unionByName(
        t["supplier"].select(
            F.col("s_nationkey").alias("nationkey"),
            F.lit("supplier").alias("entity"),
            F.col("s_name").alias("name"),
            F.col("s_acctbal").alias("acctbal"),
        )
    )
    w = Window.partitionBy("nationkey").orderBy(
        F.asc("acctbal"), F.asc("entity"), F.asc("name")
    )
    return (
        ents.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            F.col("nationkey").cast("long").alias("nationkey"),
            F.col("rk").cast("int").alias("rk"),
            "entity",
            "name",
            F.round("acctbal", 2).alias("acctbal"),
        )
    )


@register(
    "t14_topk_dense_ties",
    "T ⊕ (top-k with ties: dense_rank cap)",
    """
    WITH ranked AS (
      SELECT p_brand, p_size, p_retailprice,
             dense_rank() OVER (PARTITION BY p_brand
                                ORDER BY p_size DESC) AS rk
      FROM part
    )
    SELECT p_brand, CAST(p_size AS INTEGER) AS p_size,
           CAST(rk AS INTEGER) AS rk,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(CAST(round(p_retailprice * 100) AS BIGINT)) AS BIGINT)
             AS price_c2
    FROM ranked WHERE rk <= 3
    GROUP BY p_brand, p_size, rk
    """,
    doc="Top-k WITH TIES (round-11 VERDICT #7, the thin T-family): every "
    "part whose size is among its brand's 3 LARGEST DISTINCT sizes — "
    "dense_rank <= k, the 'WITH TIES' semantics row_number-based top-k "
    "(t3/t13/w1) cannot express: tied rows all survive, and a value "
    "level shared by many rows still consumes ONE rank. Integer p_size "
    "guarantees real ties in the fixture (~5 parts per (brand, size) at "
    "sf0.01). Money is cents-exact BIGINT (the j18 discipline: "
    "p_retailprice has 2 decimals, round(x*100) is integer-exact). "
    "Scale shape: one window over the brand exchange — Spark's "
    "WindowGroupLimit rewrite prunes rank > k map-side for dense_rank "
    "exactly as for t13's row_number (per-partition rank cap before "
    "the exchange), then a map-side-combined rollup of the survivors; "
    "the shuffle never carries more than the per-partition top-k "
    "levels' rows.",
)
def t14_topk_dense_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    part = _t(spark, sf_dir, "part")["part"]
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_size"))
    return (
        part.select("p_brand", "p_size", "p_retailprice")
        .withColumn("rk", F.dense_rank().over(w))
        .filter(F.col("rk") <= 3)
        .groupBy("p_brand", "p_size", "rk")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum(F.round(F.col("p_retailprice") * 100).cast("long"))
            .cast("long")
            .alias("price_c2"),
        )
        .select(
            "p_brand",
            F.col("p_size").cast("int").alias("p_size"),
            F.col("rk").cast("int").alias("rk"),
            "n_parts",
            "price_c2",
        )
    )


@register(
    "t15_decile_profile",
    "T+A12 ⊕ (rank-based decile profile: the distributed ntile)",
    """
    WITH r AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             row_number() OVER (
               ORDER BY CAST(round(o_totalprice * 100) AS BIGINT),
                        o_orderkey) AS rn,
             count(*) OVER () AS n
      FROM orders
    )
    SELECT CAST(floor(CAST((rn - 1) * 10 AS DOUBLE) / n) AS INTEGER)
             AS decile,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(min(cents) AS BIGINT) AS lo_c2,
           CAST(max(cents) AS BIGINT) AS hi_c2,
           CAST(sum(cents) AS BIGINT) AS sum_c2
    FROM r GROUP BY 1
    """,
    doc="Equal-COUNT decile profile by RANK arithmetic — ntile(10) "
    "semantics without ntile's plan (a global window = ONE task "
    "scanning the whole relation, the §9a t8-class trap): "
    "packing.global_rank range-partitions the (cents, orderkey) total "
    "order across every core (per-partition running counts + a "
    "≤#partitions-row offset prefix sum — the distributed ntile), "
    "decile = floor((rank-1)·10/n), then a map-side-combined rollup. "
    "Complements a39's equi-depth histogram, which buckets by QUANTILE "
    "VALUE boundaries: rank-based deciles split ties across buckets to "
    "hold counts exactly equal — the form batch schedulers and "
    "stratified splitters want. Money is cents-exact BIGINT; the one "
    "float step is floor((rn-1)·10/n) where the integer operands are "
    "exact in double and an exactly-representable quotient is returned "
    "exactly by IEEE division on both engines; n arrives as a 1-row "
    "broadcast (the q17 scalar pattern), never a global window on the "
    "data frame.",
)
def t15_decile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import global_rank

    orders = _t(spark, sf_dir, "orders")["orders"]
    cents = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey",
    )
    ranked = global_rank(cents, ["cents", "o_orderkey"], rank_name="_rn")
    n1 = cents.agg(F.count(F.lit(1)).alias("_n"))
    return (
        ranked.crossJoin(F.broadcast(n1))
        .withColumn(
            "decile",
            F.floor(
                ((F.col("_rn") - 1) * 10).cast("double") / F.col("_n")
            ).cast("int"),
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.min("cents").cast("long").alias("lo_c2"),
            F.max("cents").cast("long").alias("hi_c2"),
            F.sum("cents").cast("long").alias("sum_c2"),
        )
    )


@register(
    "w21_interval_coverage",
    "W ⊕ (interval-union coverage: gaps and islands)",
    """
    WITH ints AS (
      SELECT l_suppkey AS s,
             date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))
               AS st,
             date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))
               + (CAST(l_quantity AS BIGINT) % 14) + 1 AS en
      FROM lineitem
    ),
    flagged AS (
      SELECT s, st, en,
             CASE WHEN st > coalesce(
               max(en) OVER (PARTITION BY s ORDER BY st, en
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING), -1)
             THEN 1 ELSE 0 END AS new_island
      FROM ints
    ),
    islands AS (
      SELECT s, st, en,
             sum(new_island) OVER (PARTITION BY s ORDER BY st, en
                                   ROWS UNBOUNDED PRECEDING) AS isl
      FROM flagged
    ),
    per_isl AS (
      SELECT s, isl, max(en) - min(st) AS cov, count(*) AS n
      FROM islands GROUP BY s, isl
    )
    SELECT CAST(s AS BIGINT) AS suppkey,
           CAST(sum(cov) AS BIGINT) AS covered_days,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(n) AS BIGINT) AS n_shipments
    FROM per_isl GROUP BY s
    """,
    doc="Interval-UNION length per key — the gaps-and-islands shape "
    "(overlapping in-transit windows [ship, ship+transit) per supplier; "
    "transit is a deterministic 1-14-day function of quantity since the "
    "fixture carries no receipt date): how many distinct days did each "
    "supplier have at least one shipment in flight, and in how many "
    "contiguous busy stretches. The sweep is the running-max-of-ends "
    "island detector: an interval starts a new island iff its start "
    "exceeds every previous end (max(en) OVER rows-to-1-preceding), "
    "islands are the running sum of those flags, and coverage is "
    "max(en)-min(st) per island — pure integer day arithmetic, "
    "engine-identical. Scale shape: ONE hash exchange on the supplier "
    "key; both windows ride a single sort of (s, st, en); the island "
    "rollup is map-side combinable. The naive alternative — exploding "
    "each interval into its days and count(DISTINCT day) — is "
    "O(total duration) rows; this is O(intervals).",
)
def w21_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    st = F.datediff(F.to_date("l_shipdate"), F.lit("1992-01-01").cast("date"))
    ints = li.select(
        F.col("l_suppkey").alias("s"),
        st.alias("st"),
        (st + (F.col("l_quantity").cast("long") % 14) + 1).alias("en"),
    )
    w = Window.partitionBy("s").orderBy("st", "en")
    prev_max_end = F.max("en").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = ints.select(
        "s",
        "st",
        "en",
        F.when(F.col("st") > F.coalesce(prev_max_end, F.lit(-1)), 1)
        .otherwise(0)
        .alias("new_island"),
    )
    islands = flagged.select(
        "s",
        "st",
        "en",
        F.sum("new_island")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("isl"),
    )
    per_isl = islands.groupBy("s", "isl").agg(
        (F.max("en") - F.min("st")).alias("cov"),
        F.count(F.lit(1)).alias("n"),
    )
    return per_isl.groupBy(F.col("s").cast("long").alias("suppkey")).agg(
        F.sum("cov").cast("long").alias("covered_days"),
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.sum("n").cast("long").alias("n_shipments"),
    )


@register(
    "a67_cohens_kappa",
    "A ⊕ (inter-rater agreement: Cohen's kappa)",
    """
    WITH labeled AS (
      SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS ra,
             CASE WHEN CAST(o_orderdate AS DATE) < DATE '1998-01-01'
                  THEN 1 ELSE 0 END AS rb
      FROM orders
    ),
    cm AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(ra * rb) AS BIGINT) AS n11,
             CAST(sum(ra * (1 - rb)) AS BIGINT) AS n10,
             CAST(sum((1 - ra) * rb) AS BIGINT) AS n01,
             CAST(sum((1 - ra) * (1 - rb)) AS BIGINT) AS n00
      FROM labeled
    )
    SELECT n, n11, n10, n01, n00,
           round((n11 + n00) * 1.0 / n, 6) AS po,
           round(((n11 + n10) * 1.0 / n) * ((n11 + n01) * 1.0 / n)
                 + ((n01 + n00) * 1.0 / n) * ((n10 + n00) * 1.0 / n), 6)
             AS pe,
           round(((n11 + n00) * 1.0 / n
                  - (((n11 + n10) * 1.0 / n) * ((n11 + n01) * 1.0 / n)
                     + ((n01 + n00) * 1.0 / n) * ((n10 + n00) * 1.0 / n)))
                 / (1.0 - (((n11 + n10) * 1.0 / n) * ((n11 + n01) * 1.0 / n)
                           + ((n01 + n00) * 1.0 / n)
                             * ((n10 + n00) * 1.0 / n))),
                 6) AS kappa
    FROM cm
    """,
    doc="Cohen's kappa between two deterministic binary raters "
    "(order-finished flag vs pre-1998 order date) — the label-quality / "
    "annotator-agreement statistic an eval pipeline reports beside raw "
    "agreement (a61's Cramér's V measures association strength; kappa "
    "corrects OBSERVED agreement for chance agreement from the "
    "marginals, the distinction that matters when classes are "
    "imbalanced). One full-scan aggregation producing an exact integer "
    "2×2 confusion matrix; po/pe/kappa are a fixed tree of IEEE "
    "divisions on those integers, identical in both engines, rounded "
    "at 6. Scale shape: single map-side-combined global aggregate — "
    "no shuffle beyond the 32-partial fold, no joins.",
)
def a67_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")["orders"]
    ra = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    rb = F.when(
        F.to_date("o_orderdate") < F.lit("1998-01-01").cast("date"), 1
    ).otherwise(0)
    cm = orders.select(ra.alias("ra"), rb.alias("rb")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("ra") * F.col("rb")).cast("long").alias("n11"),
        F.sum(F.col("ra") * (1 - F.col("rb"))).cast("long").alias("n10"),
        F.sum((1 - F.col("ra")) * F.col("rb")).cast("long").alias("n01"),
        F.sum((1 - F.col("ra")) * (1 - F.col("rb"))).cast("long").alias("n00"),
    )
    n = F.col("n")
    po = (F.col("n11") + F.col("n00")) * F.lit(1.0) / n
    pe = ((F.col("n11") + F.col("n10")) * F.lit(1.0) / n) * (
        (F.col("n11") + F.col("n01")) * F.lit(1.0) / n
    ) + ((F.col("n01") + F.col("n00")) * F.lit(1.0) / n) * (
        (F.col("n10") + F.col("n00")) * F.lit(1.0) / n
    )
    return cm.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round((po - pe) / (F.lit(1.0) - pe), 6).alias("kappa"),
    )


@register(
    "a68_mutual_information",
    "A ⊕ (mutual information + normalized MI of two categoricals)",
    """
    WITH cells AS (
      SELECT r.r_name AS x, o.o_orderpriority AS y, count(*) AS c
      FROM orders o
      JOIN customer cu ON cu.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = cu.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY 1, 2
    ),
    marg AS (
      SELECT x, y, c,
             sum(c) OVER (PARTITION BY x) AS rx,
             sum(c) OVER (PARTITION BY y) AS cy,
             sum(c) OVER () AS n
      FROM cells
    )
    SELECT CAST(max(n) AS BIGINT) AS n,
           round(sum((c * 1.0 / n) * ln((c * 1.0 * n) / (rx * 1.0 * cy))), 6)
             AS mi_nats,
           round(-sum(CASE WHEN y = min_y THEN (rx * 1.0 / n)
                           * ln(rx * 1.0 / n) ELSE 0.0 END), 6) AS h_x,
           round(-sum(CASE WHEN x = min_x THEN (cy * 1.0 / n)
                           * ln(cy * 1.0 / n) ELSE 0.0 END), 6) AS h_y
    FROM (SELECT *, min(y) OVER (PARTITION BY x) AS min_y,
                    min(x) OVER (PARTITION BY y) AS min_x
          FROM marg)
    """,
    doc="Mutual information I(X;Y) between customer region and order "
    "priority, with the marginal entropies H(X), H(Y) — the "
    "information-theoretic dependence measure beside a28's chi-square "
    "and a61's Cramér's V (MI is the one that feeds feature selection "
    "and drift dashboards directly; NMI = mi/min(h_x, h_y) is one "
    "division away for the caller). All counts exact integers from one "
    "contingency rollup; marginals are window sums over the tiny cell "
    "table; each term is the same IEEE tree (c/n)·ln(c·n/(rx·cy)) in "
    "both engines, summed over ~25 cells and rounded at 6 (ln parity "
    "precedent: u6_token_entropy). The per-marginal entropy terms are "
    "de-duplicated with a min-witness flag instead of a second "
    "aggregate, so the whole statistic is ONE pass over the cells. "
    "Scale shape: one rollup shuffle on (region, priority) with "
    "map-side combine; everything after is 25 rows.",
)
def a68_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = _t(spark, sf_dir, "orders", "customer", "nation", "region")
    cells = (
        t["orders"]
        .join(
            t["customer"].select("c_custkey", "c_nationkey"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            F.broadcast(
                t["nation"]
                .join(t["region"], F.col("n_regionkey") == F.col("r_regionkey"))
                .select("n_nationkey", "r_name")
            ),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .groupBy(F.col("r_name").alias("x"), F.col("o_orderpriority").alias("y"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    marg = cells.select(
        "x",
        "y",
        "c",
        F.sum("c").over(Window.partitionBy("x")).alias("rx"),
        F.sum("c").over(Window.partitionBy("y")).alias("cy"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
        F.min("y").over(Window.partitionBy("x")).alias("min_y"),
        F.min("x").over(Window.partitionBy("y")).alias("min_x"),
    )
    n = F.col("n")
    mi_term = (F.col("c") * 1.0 / n) * F.log(
        (F.col("c") * 1.0 * n) / (F.col("rx") * 1.0 * F.col("cy"))
    )
    hx_term = F.when(
        F.col("y") == F.col("min_y"),
        (F.col("rx") * 1.0 / n) * F.log(F.col("rx") * 1.0 / n),
    ).otherwise(F.lit(0.0))
    hy_term = F.when(
        F.col("x") == F.col("min_x"),
        (F.col("cy") * 1.0 / n) * F.log(F.col("cy") * 1.0 / n),
    ).otherwise(F.lit(0.0))
    return marg.agg(
        F.max("n").cast("long").alias("n"),
        F.round(F.sum(mi_term), 6).alias("mi_nats"),
        F.round(-F.sum(hx_term), 6).alias("h_x"),
        F.round(-F.sum(hy_term), 6).alias("h_y"),
    )
