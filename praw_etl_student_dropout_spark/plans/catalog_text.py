"""Text-analysis + ETL-surface catalog entries (SURVEY.md §2.9 U6 ⊕,
§2.3 J2/J3, §2.1 multimodal plumbing, as-of/range joins).

The text operators are the LLM-data-pipeline mandate (language ID,
quality scoring, token counting, fingerprinting) expressed as native
expressions over ``documents``; each pairs with a DuckDB oracle that
reproduces the exact same arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    STOPWORDS,
    doc_fingerprint,
    lang_id,
    quality_score,
    tokens,
)
from ..operators.etl import build_dim, build_fact
from ..operators.joins import asof_join, range_bucket_join
from .catalog import SQL_CLEAN, SQL_TOKEN_COUNT, SQL_TOKS, _sql_hits, _t, register

# BPE-ish pre-tokenizer: letter runs | digit runs | single non-space symbol
BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


@register(
    "u6_text_stats",
    "U6+F10",
    f"""
    SELECT doc_id,
           CAST(len({SQL_TOKS.format(col='text')}) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct({SQL_TOKS.format(col='text')})) AS INTEGER) AS n_unique_tokens,
           CAST(length(text) AS INTEGER) AS n_chars_text,
           CAST(list_aggregate(list_transform({SQL_TOKS.format(col='text')}, t -> length(t)), 'sum')
                AS BIGINT) AS total_token_chars
    FROM documents
    """,
    doc="Token statistics as integer-exact native expressions (no division, "
    "no UDF) — the whitespace token counting path.",
)
def u6_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    toks = tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
        F.length("text").alias("n_chars_text"),
        F.aggregate(
            F.transform(toks, lambda t: F.length(t).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("total_token_chars"),
    )


@register(
    "u6_token_count_bpe",
    "U6",
    f"""
    SELECT doc_id, CAST(len(regexp_extract_all(text, '{BPE_PATTERN}')) AS INTEGER) AS n_bpe_tokens
    FROM documents
    """,
    doc="BPE-ish regex pre-tokenizer count (letter runs / digit runs / symbols).",
)
def u6_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(BPE_PATTERN), 0)).alias("n_bpe_tokens"),
    )


def _lang_scalar_sql() -> str:
    """DuckDB mirror of functions.text.lang_id as a per-doc scalar
    subquery (doc_id, lang_guess): marker-token hit argmax, alphabetical
    code tiebreak, CJK codepoint override, no hits → 'und'."""
    from ..functions.text import _LANG_MARKERS

    toks = SQL_TOKS.format(col="lower(text)")
    parts = {
        code: _sql_hits(toks, markers) for code, markers in _LANG_MARKERS.items() if markers
    }
    hits = ", ".join(f"({sql}) AS s_{code}" for code, sql in parts.items())
    g = "greatest(" + ", ".join(f"s_{c}" for c in parts) + ")"
    # CASE checks in alphabetical order = smallest code wins ties
    cases = " ".join(f"WHEN s_{c} = g THEN '{c}'" for c in sorted(parts))
    return f"""
      SELECT doc_id,
             CASE WHEN coalesce(regexp_matches(text, '[一-鿿]'), false) THEN 'zh'
                  WHEN g = 0 THEN 'und'
                  {cases} END AS lang_guess
      FROM (SELECT doc_id, text, {g} AS g, *
            FROM (SELECT doc_id, text, {hits} FROM documents))
    """


def _lang_sql() -> str:
    return f"""
    SELECT lang_guess, count(*) AS cnt
    FROM ({_lang_scalar_sql()}) GROUP BY lang_guess
    """


@register(
    "u6_lang_id",
    "U6",
    _lang_sql(),
    doc="N-gram-heuristic language ID (marker tokens + CJK codepoints), "
    "deterministic argmax — distribution of guesses.",
)
def u6_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import _spread

    docs = _t(spark, sf_dir, "documents")["documents"]
    # Round-14 (guide §2.5): the single-row-group fixture scan runs the
    # lang_id stopword-hit expressions on one core; spread first (no-op
    # when the scan already has enough splits). 0.485 -> 0.325 s at
    # sf0.1-local[32], values identical.
    return (
        _spread(docs.select("doc_id", "text"), "doc_id")
        .select(lang_id(F.col("text")).alias("lang_guess"))
        .groupBy("lang_guess")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _quality_sql() -> str:
    toks = SQL_TOKS.format(col="text")
    stop_hits = _sql_hits(toks, STOPWORDS)
    return f"""
    SELECT doc_id, round((
        (CASE WHEN len({toks}) BETWEEN 5 AND 5000 THEN 1.0 ELSE 0.0 END)
      + (CASE WHEN length(regexp_replace(text, '\\s+', '', 'g')) > 0
              THEN length(regexp_replace(regexp_replace(text, '\\s+', '', 'g'), '[^a-zA-Z]', '', 'g'))
                   * 1.0 / length(regexp_replace(text, '\\s+', '', 'g'))
              ELSE 0.0 END)
      + least(({stop_hits}) * 1.0 / greatest(len({toks}), 1), 0.5) * 2.0
    ) / 3.0, 6) AS quality
    FROM documents
    """


@register(
    "u6_quality_score",
    "U6",
    _quality_sql(),
    doc="Pretraining-data quality heuristic (length sanity + alpha ratio + "
    "stopword signal), pure expressions.",
)
def u6_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    return docs.select("doc_id", quality_score(F.col("text")).alias("quality"))


@register(
    "u6_fingerprint",
    "U6+D3",
    f"""
    SELECT doc_id,
           md5(array_to_string(list_sort({SQL_TOKS.format(col=SQL_CLEAN.format(col='text'))}), ' '))
             AS fingerprint
    FROM documents
    """,
    doc="Order-insensitive md5 fingerprint over the sorted cleaned-token bag.",
)
def u6_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    return docs.select("doc_id", doc_fingerprint(F.col("text")).alias("fingerprint"))


@register(
    "u6_vocab_coverage",
    "U6 ⊕ (tokenizer vocabulary coverage / OOV report)",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest({SQL_TOKS.format(col='text')}) AS tok
      FROM documents
    ),
    cnt AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    vocab AS (SELECT tok FROM cnt ORDER BY c DESC, tok ASC LIMIT 200),
    per_doc AS (
      SELECT doc_id, lang, count(*) AS n,
             sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS o
      FROM toks LEFT JOIN vocab v USING (tok)
      GROUP BY doc_id, lang
    )
    SELECT lang,
           CAST(sum(n) AS BIGINT) AS total_tokens,
           CAST(sum(o) AS BIGINT) AS oov_tokens,
           round(CAST(sum(o) AS DOUBLE) / sum(n), 6) AS oov_rate,
           CAST(count(*) FILTER (o * 1.0 / n > 0.5) AS BIGINT)
             AS high_oov_docs
    FROM per_doc GROUP BY lang
    """,
    doc="Tokenizer vocabulary coverage: per-language OOV mass against the "
    "top-200 corpus vocabulary — the report that decides whether a "
    "tokenizer's vocab (or a fixed vocab's corpus) needs retraining "
    "before a run burns compute on <unk> soup; high_oov_docs counts "
    "documents whose majority is out-of-vocabulary (candidate drops). "
    "The vocabulary is derived in-query (count desc, token asc — total "
    "order, so the 200-cutoff is deterministic) and broadcast back onto "
    "the token stream; corpus-level rates divide exact integer counts "
    "once (no order-dependent float accumulation). A trained BPE vocab "
    "(operators/bpe.py) drops into the same shape as a literal table.",
)
def u6_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens

    docs = _t(spark, sf_dir, "documents")["documents"]
    toks = docs.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(200)
        .select("tok", F.lit(True).alias("__in_vocab"))
    )
    per_doc = (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)).alias("o"),
        )
    )
    return per_doc.groupBy("lang").agg(
        F.sum("n").alias("total_tokens"),
        F.sum("o").alias("oov_tokens"),
        F.round(F.sum("o").cast("double") / F.sum("n"), 6).alias("oov_rate"),
        F.count_if(F.col("o") * 1.0 / F.col("n") > 0.5).alias("high_oov_docs"),
    )


@register(
    "multimodal_meta",
    "S-multimodal",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    """,
    doc="Opaque-binary column plumbing: payload byte length + content digest "
    "(the typed-metadata side of the multimodal column model; decode stubs "
    "live in operators.multimodal).",
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    payload = F.encode("text", "utf-8")
    return docs.select(
        "doc_id",
        F.octet_length(payload).alias("n_bytes"),
        F.md5("text").alias("content_md5"),
    )


@register(
    "multimodal_features",
    "S-multimodal+U5",
    """
    SELECT doc_id AS media_id,
           CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
           16 AS n_features,
           CAST(CASE WHEN octet_length(encode(text)) = 0 THEN 0.0 ELSE 1.0 END
                AS DOUBLE) AS feature_mass
    FROM documents
    """,
    doc="Decode + feature-extract over opaque binary payloads via Arrow "
    "mapInPandas (operators.multimodal.extract_features). The fake decoder "
    "emits a normalized byte histogram, so feature mass is exactly 1 per "
    "non-empty payload — which the oracle can state in SQL even though the "
    "histogram itself is not SQL-expressible.",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import documents_as_media, extract_features

    media = documents_as_media(_t(spark, sf_dir, "documents")["documents"])
    feats = extract_features(media)
    return feats.select(
        "media_id",
        "n_bytes",
        F.size("features").alias("n_features"),
        F.round(F.aggregate("features", F.lit(0.0), lambda a, x: a + x), 6).alias(
            "feature_mass"
        ),
    )


@register(
    "multimodal_frame_sample",
    "S-multimodal+U5",
    """
    SELECT doc_id AS media_id,
           CAST(ceil(greatest(octet_length(encode(text)), 1) / 1024.0) AS INT)
             AS n_frames,
           CAST(least(greatest(octet_length(encode(text)), 1), 256) AS INT)
             AS first_frame_bytes
    FROM documents
    """,
    doc="Frame-sampling fan-out (one payload row -> many frame rows inside "
    "the executor, operators.multimodal.sample_frames), folded back to "
    "per-media frame counts + first-frame size so DuckDB can verify the "
    "fan-out arithmetic.",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import documents_as_media, sample_frames

    media = documents_as_media(_t(spark, sf_dir, "documents")["documents"])
    frames = sample_frames(media, frame_size=256, stride=1024)
    return frames.groupBy("media_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_frames"),
        F.max(
            F.when(F.col("frame_no") == 0, F.octet_length("frame_bytes"))
        ).cast("int").alias("first_frame_bytes"),
    )


# =====================================================================
# ETL surface: star-schema build + incremental idempotent load
# =====================================================================


@register(
    "etl_star_schema",
    "J2+J3+A8",
    """
    WITH dim_source AS (
      SELECT CAST(dense_rank() OVER (ORDER BY source) AS INTEGER) AS source_id, source
      FROM (SELECT DISTINCT source FROM documents)
    ),
    dim_lang AS (
      SELECT CAST(dense_rank() OVER (ORDER BY lang) AS INTEGER) AS lang_id, lang
      FROM (SELECT DISTINCT lang FROM documents)
    )
    SELECT s.source_id, l.lang_id, count(*) AS n_docs,
           CAST(sum(d.n_chars) AS BIGINT) AS total_chars
    FROM documents d
    JOIN dim_source s ON d.source = s.source
    JOIN dim_lang l ON d.lang = l.lang
    GROUP BY s.source_id, l.lang_id
    """,
    doc="The reference's full Load stage (etl_pipeline.py:94-127): distinct→"
    "dim build with deterministic surrogate keys, broadcast key swap, fact "
    "aggregate — zero driver-side loops.",
)
def etl_star_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    dim_source = build_dim(docs, "source", "source_id")
    dim_lang = build_dim(docs, "lang", "lang_id")
    fact = build_fact(
        docs,
        [
            (dim_source, "source", "source", "source_id"),
            (dim_lang, "lang", "lang", "lang_id"),
        ],
        ["doc_id", "n_chars", "source_id", "lang_id"],
    )
    return fact.groupBy("source_id", "lang_id").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )


# =====================================================================
# Advanced joins: as-of + banded range (events)
# =====================================================================


@register(
    "j5_asof_join",
    "J4⊕",
    """
    SELECT p.event_id, p.user_id, p.value, c.click_value
    FROM (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN
         (SELECT user_id, ts, value AS click_value FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    doc="As-of join (latest click at-or-before each purchase, per user) as a "
    "union+window composition — one shuffle on the key, no nested loop.",
)
def j5_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value").alias("click_value")
    )
    out = asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_values=["click_value"],
    )
    return out.select("event_id", "user_id", "value", "click_value")


@register(
    "j16_asof_tolerance",
    "J4⊕ (as-of join with max-staleness tolerance)",
    """
    SELECT p.event_id, p.user_id, p.value,
           CASE WHEN CAST(floor(epoch(p.ts)) AS BIGINT)
                     - CAST(floor(epoch(c.ts)) AS BIGINT) <= 3600
                THEN c.click_value END AS click_value,
           CASE WHEN CAST(floor(epoch(p.ts)) AS BIGINT)
                     - CAST(floor(epoch(c.ts)) AS BIGINT) <= 3600
                THEN CAST(floor(epoch(p.ts)) AS BIGINT)
                     - CAST(floor(epoch(c.ts)) AS BIGINT) END AS staleness_s
    FROM (SELECT event_id, user_id, ts, value FROM events
          WHERE event_type = 'purchase') p
    ASOF LEFT JOIN
         (SELECT user_id, ts, value AS click_value FROM events
          WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    doc="As-of join with a max-staleness tolerance (pandas merge_asof "
    "tolerance semantics; Flink temporal joins and kdb+ wj carry the "
    "same knob): the latest click at-or-before each purchase counts "
    "ONLY if it is at most 1 hour old — older matches null out while "
    "the purchase row survives, and the reported staleness comes from "
    "the matched row itself (the carried struct includes the right "
    "timestamp, so per-column carries can never mix rows). Same "
    "union+window plan and single user_id shuffle as j5; the tolerance "
    "is a post-carry filter, not a join-shape change.",
)
def j16_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("value").alias("click_value"),
        F.col("ts").alias("click_ts"),
    )
    out = asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_values=["click_value", "click_ts"],
        tolerance_seconds=3600,
    )
    return out.select(
        "event_id",
        "user_id",
        "value",
        "click_value",
        (F.unix_timestamp("ts") - F.unix_timestamp("click_ts"))
        .cast("long")
        .alias("staleness_s"),
    )


@register(
    "j6_range_join",
    "J4⊕",
    """
    SELECT a.event_id AS error_id, b.event_id AS view_id, a.user_id
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') a
    JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') b
      ON a.user_id = b.user_id
     AND abs(CAST(floor(epoch(a.ts)) AS BIGINT) - CAST(floor(epoch(b.ts)) AS BIGINT)) <= 600
    """,
    doc="Range (band) join decomposed into an equi-join on time buckets + "
    "residual filter — shuffle join instead of O(n·m) nested loop.",
)
def j6_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), "user_id", F.col("ts").alias("error_ts")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", F.col("ts").alias("view_ts")
    )
    joined = range_bucket_join(
        errors, views, "error_ts", "view_ts", max_gap_seconds=600, extra_keys=["user_id"]
    )
    return joined.select("error_id", "view_id", "user_id")


@register(
    "u6_chunk_documents",
    "U6+chunking",
    rf"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ),
    n AS (
      SELECT doc_id, toks,
             CAST(greatest(ceil((len(toks) - 16) / 48.0), 1) AS INT) AS n_chunks
      FROM t
    )
    SELECT doc_id,
           CAST(chunk_no AS INT) AS chunk_no,
           array_to_string(toks[(chunk_no*48 + 1):(chunk_no*48 + 64)], ' ') AS chunk_text,
           len(toks[(chunk_no*48 + 1):(chunk_no*48 + 64)]) AS n_chunk_tokens
    FROM n, LATERAL unnest(range(n_chunks)) AS u(chunk_no)
    """,
    doc="Token-window chunking (64-token chunks, 16 overlap) — the "
    "clean->chunk->embed pipeline step, fanned out executor-side via "
    "sequence+explode+slice with zero Python and zero shuffle.",
)
def u6_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.chunking import chunk_by_tokens

    docs = _t(spark, sf_dir, "documents")["documents"]
    out = chunk_by_tokens(docs, chunk_size=64, overlap=16)
    return out.select(
        "doc_id", F.col("chunk_no").cast("int").alias("chunk_no"),
        "chunk_text", F.col("n_chunk_tokens").cast("long").alias("n_chunk_tokens"),
    )


@register(
    "u6_redact_pii",
    "U6 ⊕ (PII redaction)",
    r"""
    WITH contacts AS (
      SELECT c_custkey,
             concat_ws(' ', c_name,
                       'user' || CAST(c_custkey AS VARCHAR) || '@example.com',
                       '+1-555-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0'),
                       'ref ' || CAST(c_custkey * 1000003 AS VARCHAR)) AS contact
      FROM customer WHERE c_custkey < 3000
    )
    SELECT c_custkey, contact,
           regexp_replace(regexp_replace(regexp_replace(contact,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\+?[0-9]{1,4}[\- (][0-9()\- ]{5,}[0-9]', '<PHONE>', 'g'),
               '[0-9]{6,}', '<NUM>', 'g') AS redacted,
           CAST(len(regexp_extract_all(contact,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER)
             AS n_emails
    FROM contacts
    """,
    doc="Curation-time PII scrub over a synthesized contact string "
    "(fixture text is digit-free, so the query builds one from customer "
    "keys): email -> phone -> long-number passes, most-specific first. "
    "Chained native regexp_replace stays in codegen — the whole scrub is "
    "a projection over a pruned 2-column scan with no shuffle at all; "
    "patterns are RE2/Java-portable so both engines redact identically.",
)
def u6_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import PII_EMAIL, redact_pii

    cust = _t(spark, sf_dir, "customer")["customer"]
    contact = F.concat_ws(
        " ",
        F.col("c_name"),
        F.concat(
            F.lit("user"), F.col("c_custkey").cast("string"), F.lit("@example.com")
        ),
        F.concat(
            F.lit("+1-555-"),
            F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
        ),
        F.concat(F.lit("ref "), (F.col("c_custkey") * 1000003).cast("string")),
    )
    return (
        cust.filter(F.col("c_custkey") < 3000)
        .select("c_custkey", contact.alias("contact"))
        .select(
            "c_custkey",
            "contact",
            redact_pii(F.col("contact")).alias("redacted"),
            F.regexp_count(F.col("contact"), F.lit(PII_EMAIL))
            .cast("int")
            .alias("n_emails"),
        )
    )


@register(
    "u10_tfidf_topterms",
    "U6 ⊕ (TF-IDF term scoring)",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({SQL_TOKS.format(col=SQL_CLEAN.format(col='text'))}) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM toks WHERE term != '' GROUP BY doc_id, term
    ), df AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
    ), n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             CAST(tf.tf AS BIGINT) AS tf,
             CAST(df.df AS BIGINT) AS df,
             round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf, CAST(rk AS INTEGER) AS rk FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term ASC) AS rk
      FROM scored
    ) WHERE rk <= 3
    """,
    doc="TF-IDF top-3 terms per document — the classic keyword/relevance "
    "scorer. Term frequencies and document frequencies are exact integer "
    "aggregations; idf = ln((N+1)/(df+1)) is the one transcendental, so "
    "the rank window orders by the ROUNDED score (identical on both "
    "engines) with a term tiebreak — last-ulp ln() differences between "
    "libm implementations cannot reorder ranks. Scale shape: per-doc "
    "term counts are computed ROW-LOCALLY (term_counts: sorted-run "
    "lengths inside bound transforms — no explode+groupBy, so the raw "
    "token stream never shuffles); df comes from a SECOND tokenize of "
    "the same spread (doc_id,text) exchange — ReuseExchange "
    "materializes the scan once (round-6 chose re-tokenize over a "
    "persisted tf table under cache-fair timing; round-14's shared "
    "spread removed the duplicate parquet scan too), "
    "map-side combined to vocabulary size and "
    "skew-safe on hot terms — a df-via-window would buffer an entire "
    "stopword partition; AQE broadcasts the vocab-sized df side back "
    "onto tf, and WindowGroupLimit prunes to 3 rows per doc before "
    "the one large exchange. N arrives as a broadcast 1-row cross join, "
    "keeping the whole plan lazy (no driver-side count action).",
)
def u10_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.text import clean_text

    from ..functions.text import term_counts

    from ..operators.dedup import _spread

    # Round-14 (guide §2.5, unsplittable input): the fixture table is one
    # parquet row group = a single scan task, so both tokenize passes ran
    # on one core. _spread hash-repartitions (doc_id, text) across the
    # cores ONLY when the scan's partitioning is deficient (no-op on a
    # real multi-split corpus), and because tf/df/n hang off the SAME
    # spread subtree, ReuseExchange materializes the scan+shuffle once —
    # the former duplicate parquet scan is gone. 0.975 -> 0.682 s at
    # sf0.1-local[32], values identical
    # (`git show 443f299:tools/r14_spread_probe.py`).
    docs = _spread(
        _t(spark, sf_dir, "documents")["documents"].select("doc_id", "text"),
        "doc_id",
    )
    toks_arr = F.array_remove(F.split(clean_text(F.col("text")), r"\s+"), "")
    # Round-6: tf and df are INDEPENDENT scans instead of one persisted
    # (doc,term,tf) table read twice. The df branch only needs each
    # doc's DISTINCT terms (array_distinct, no per-row run counting),
    # so the second tokenize pass is cheaper than the cache
    # write+read it replaces — measured 1.24 -> 1.01 s at sf0.1 and
    # 4.2 -> 4.1 s on the Zipf corpus under cache-fair timing, and the
    # plan no longer needs cache_registry ownership at all. The
    # remaining cost is the 60x row-expansion explode itself (isolated:
    # ~2.2 s of the Zipf total for 3.09M rows; tokenize alone is
    # 0.12 s), which is inherent to materializing per-(doc,term) rows.
    tf = docs.select("doc_id", F.explode(term_counts(toks_arr)).alias("p")).select(
        "doc_id",
        F.col("p.term").alias("term"),
        F.col("p.tf").cast("long").alias("tf"),
    )
    df_ = (
        docs.select(F.explode(F.array_distinct(toks_arr)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    # No broadcast hint on df_: vocab-sized, so AQE broadcasts it at
    # this scale but can demote to shuffle if a real corpus's vocabulary
    # outgrows the threshold.
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.select("*", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf", "rk")
    )


@register(
    "u6_intra_doc_repetition",
    "U6 ⊕ (repetition-fraction quality rule)",
    r"""
    WITH g AS (
      SELECT doc_id,
             list_transform(
               range(1, greatest(len(regexp_split_to_array(trim(text), '\s+')) - 3, 0) + 2),
               i -> array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+2], ' ')
             ) AS grams
      FROM documents
    )
    SELECT doc_id,
           CAST(len(grams) AS BIGINT) AS n_grams,
           CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
           round(1.0 - len(list_distinct(grams)) * 1.0 / len(grams), 6) AS rep_frac,
           CAST(1.0 - len(list_distinct(grams)) * 1.0 / len(grams) > 0.2 AS BOOLEAN)
             AS flag_repetitive
    FROM g
    """,
    doc="Intra-document repetition fraction (the Gopher/C4-family "
    "boilerplate rule the inter-document dedups can't see): 1 - "
    "distinct/total word-3-grams, flagged above 0.2. Pure higher-order "
    "array expressions over each row — sequence/transform/slice + "
    "array_distinct, no explode, no shuffle, no UDF: the quality gate "
    "stays embarrassingly parallel and fuses into whatever scan "
    "feeds it.",
)
def u6_intra_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    toks = F.split(F.trim(F.col("text")), r"\s+")
    k = F.size(toks)
    # Round-14: same zip_with fold as operators/dedup.word_shingles (the
    # per-position slice-in-transform allocated an array per gram and
    # profiled 8.5x slower on the Zipf corpus); this entry keeps the
    # DUPLICATE grams, so no array_distinct here — n_grams counts them.
    grams = toks
    for j in range(1, 3):
        grams = F.zip_with(
            grams,
            F.slice(toks, j + 1, F.greatest(k - j, F.lit(0))),
            lambda x, y: F.concat_ws(" ", x, y),
        )
    # NULL text produced [""] under the old sequence+transform form
    # (size(null) = -1 arithmetic); keep that contract.
    grams = F.coalesce(
        F.slice(grams, 1, F.greatest(k - 2, F.lit(1))), F.array(F.lit(""))
    )
    n_g = F.size(grams)
    n_d = F.size(F.array_distinct(grams))
    rep = 1.0 - n_d * F.lit(1.0) / n_g
    return docs.select(
        "doc_id",
        n_g.cast("long").alias("n_grams"),
        n_d.cast("long").alias("n_distinct"),
        F.round(rep, 6).alias("rep_frac"),
        (rep > 0.2).alias("flag_repetitive"),
    )


@register(
    "u6_vocab_oov",
    "U6 ⊕ (vocabulary coverage / OOV rate)",
    r"""
    WITH toks AS (
      SELECT doc_id, source,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      FROM documents
    ), vocab AS (
      SELECT term FROM (
        SELECT term, count(*) AS cnt FROM toks GROUP BY term
        ORDER BY cnt DESC, term ASC LIMIT 100
      )
    )
    SELECT source,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS oov_tokens,
           round(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS oov_rate
    FROM toks LEFT JOIN vocab v USING (term)
    GROUP BY source
    """,
    doc="Out-of-vocabulary rate per source against the corpus top-100 "
    "vocabulary — the tokenizer-prep statistic that tells you which "
    "sources a fixed vocab serves worst. Vocabulary selection is "
    "deterministic (count desc, term asc); the per-source rate is a "
    "MICRO-average from exact integer token counts, never an average "
    "of per-doc ratios (float sums of ratios are accumulation-order "
    "dependent; integer sums are not). Scale shape: one explode, one "
    "term-count shuffle, then the 100-row vocab BROADCASTS back onto "
    "the token stream — membership costs no second shuffle.",
)
def u6_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    toks = docs.select(
        "doc_id",
        "source",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term"),
    )
    vocab = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(100)
        .select("term", F.lit(True).alias("in_vocab"))
    )
    tagged = toks.join(F.broadcast(vocab), "term", "left")
    return tagged.groupBy("source").agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("total_tokens"),
        F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("oov_tokens"),
        F.round(
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            * F.lit(1.0)
            / F.count(F.lit(1)),
            6,
        ).alias("oov_rate"),
    )


@register(
    "u6_pseudonymize",
    "U6 ⊕ (deterministic pseudonymization)",
    """
    SELECT substring(md5('pepper-2026:' || CAST(user_id AS VARCHAR)), 1, 16)
             AS user_token,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
    FROM events WHERE user_id < 100
    GROUP BY user_token
    """,
    doc="Deterministic pseudonymization: raw user ids are replaced by a "
    "keyed-hash token (md5 over a pepper || id) BEFORE analytics, so "
    "downstream joins and group-bys still line up on the token while "
    "the raw id never leaves the trusted boundary — the "
    "privacy-pipeline twin of u6_redact_pii's free-text scrubbing. "
    "Same-input determinism is the point (unlike salted-per-run "
    "anonymization): tokens are stable across runs and engines, which "
    "is also what makes the oracle check possible. Pure projection + "
    "one grouped count; rotating the pepper re-keys the whole corpus "
    "in one scan.",
)
def u6_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    token = F.substring(
        F.md5(F.concat(F.lit("pepper-2026:"), F.col("user_id").cast("string"))), 1, 16
    )
    return (
        ev.filter(F.col("user_id") < 100)
        .select(token.alias("user_token"), "event_type")
        .groupBy("user_token")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("event_type").alias("n_types"),
        )
    )


@register(
    "u11_unigram_logprob",
    "U6+A1 ⊕ (corpus-LM perplexity proxy)",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({SQL_TOKS.format(col='text')}) AS tok FROM documents
    ),
    cnt AS (
      SELECT doc_id, tok, count(*) AS ctf FROM tok GROUP BY doc_id, tok
    ),
    freq AS (
      SELECT tok, sum(ctf) AS c FROM cnt GROUP BY tok
    ),
    tot AS (SELECT sum(c) AS n FROM freq)
    SELECT doc_id,
           round(sum(ctf * ln(c * 1.0 / n)) / sum(ctf), 6) AS mean_logprob,
           CAST(sum(ctf) AS BIGINT) AS n_tokens
    FROM cnt JOIN freq USING (tok) CROSS JOIN tot
    GROUP BY doc_id
    """,
    doc="Perplexity-proxy quality score without an external LM: the "
    "corpus's own unigram distribution scores each document's mean "
    "token log-probability — the cheap first tier of the perplexity "
    "filtering ladder (unigram → KenLM → neural LM), and the only tier "
    "that is self-contained and oracle-checkable. Docs far below the "
    "corpus-typical mean are token soup; far above are boilerplate "
    "(only ultra-common tokens). Scale shape: per-row run-length term "
    "counts (term_counts — no explode of the raw token stream), so the "
    "unigram table aggregates (doc,term) rows instead of every token "
    "occurrence, and the frequency join touches the same compact rows "
    "— the weighted mean Σtf·ln(c/N)/Σtf equals the per-token mean, "
    "with the oracle computing the IDENTICAL weighted algebra. "
    "Exchanges: the vocab-sized freq agg (AQE-broadcast back) and the "
    "per-doc regroup of (doc,term) rows.",
)
def u11_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    # Round-6 rewrite: plain explode + hash agg replaced the row-local
    # term_counts + tracked persist (3.65 -> ~1.2 s on the Zipf corpus).
    # The map-side partial combine collapses the token stream to
    # vocab-sized partials before the freq shuffle, and the per-doc
    # regroup combines to one partial row per doc map-side — so the
    # pre-counting sort and the cache both only added work (the u10
    # lesson, applied to counting).
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = freq.agg(F.sum("c").alias("n"))
    weights = freq.crossJoin(F.broadcast(tot)).select(
        "tok", F.log(F.col("c") / F.col("n")).alias("lw")
    )
    return (
        tok.join(weights, "tok")
        .groupBy("doc_id")
        .agg(
            F.round(F.sum("lw") / F.count(F.lit(1)), 6).alias("mean_logprob"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )


@register(
    "u6_token_entropy",
    "U6+A1 ⊕ (distributional quality signal)",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({SQL_TOKS.format(col='text')}) AS tok FROM documents
    ),
    cnt AS (
      SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok
    ),
    agg AS (
      SELECT doc_id, sum(c) AS n, sum(c * ln(c)) AS slc FROM cnt GROUP BY doc_id
    )
    SELECT doc_id,
           round(ln(n) - slc / n, 6) AS entropy,
           CAST(n AS BIGINT) AS n_tokens
    FROM agg
    """,
    doc="Shannon entropy of each document's token distribution — the "
    "quality signal orthogonal to length and stopword ratios: "
    "copy-paste loops and keyword stuffing score LOW (mass on few "
    "tokens) even when length and alpha-ratio gates pass, and "
    "high-entropy outliers are often multilingual soup. ZERO-shuffle "
    "plan: per-row run-length term counts (term_counts — sort + run "
    "boundaries, O(n log n) inside the row) feed the closed form "
    "H = ln(n) - Σc·ln(c)/n as a pure array fold, so per-doc entropy "
    "over a 100 TB corpus is one narrow map stage — no explode, no "
    "(doc,token) exchange, nothing leaves its partition. Both engines "
    "evaluate the SAME closed-form algebra (the oracle mirrors it) so "
    "rounding at 6 decimals agrees.",
)
def u6_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import term_counts

    docs = _t(spark, sf_dir, "documents")["documents"]
    # Bound chain: term_counts evaluates ONCE (transform-array binding),
    # its aggregates once, and the two output columns come out of a
    # single inline() Generate — emitting them as two select exprs would
    # duplicate the whole tree per column (CSE stops at HOF boundaries).
    # NULL text drops the doc (matches the oracle's unnest, which emits
    # no rows for a NULL token array) — without the filter the inline()
    # below would emit a (doc_id, NULL, NULL) row the oracle lacks.
    docs = docs.filter(F.col("text").isNotNull())
    tc = term_counts(tokens(F.col("text")))
    stats = F.transform(
        F.array(tc),
        lambda pairs: F.struct(
            F.aggregate(pairs, F.lit(0), lambda acc, p: acc + p["tf"]).alias("n"),
            F.aggregate(
                pairs,
                F.lit(0.0),
                lambda acc, p: acc
                + p["tf"].cast("double") * F.log(p["tf"].cast("double")),
            ).alias("slc"),
        ),
    )[0]
    row = F.transform(
        F.array(stats),
        lambda s: F.struct(
            F.round(F.log(s["n"].cast("double")) - s["slc"] / s["n"], 6).alias(
                "entropy"
            ),
            s["n"].cast("long").alias("n_tokens"),
        ),
    )[0]
    return docs.select("doc_id", F.inline(F.array(row)))


@register(
    "u12_corpus_health",
    "U6+A2 ⊕ (per-source corpus health report)",
    f"""
    WITH q AS ({_quality_sql()}),
    l AS ({_lang_scalar_sql()})
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(q.quality), 6) AS avg_quality,
           CAST(count(*) FILTER (WHERE q.quality < 0.5) AS BIGINT)
             AS n_low_quality,
           CAST(count(*) FILTER (WHERE l.lang_guess = 'und') AS BIGINT)
             AS n_lang_unknown,
           round(avg({SQL_TOKEN_COUNT.format(col='d.text')}), 6) AS avg_tokens
    FROM documents d
    JOIN q ON d.doc_id = q.doc_id
    JOIN l ON d.doc_id = l.doc_id
    GROUP BY d.source
    """,
    doc="The per-source health dashboard a crawl operator watches: doc "
    "count, mean quality, low-quality and language-unknown counts, "
    "mean length — every signal computed in the SAME single pass over "
    "the corpus (one projection evaluates quality, lang-id, and token "
    "count per row; one grouped agg collapses per source). The "
    "reference rescans its frame once per insight "
    "(etl_pipeline.py:194-198); at 100 TB one-pass-many-metrics is "
    "the difference between one corpus scan and five.",
)
def u12_corpus_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import lang_id, quality_score, token_count

    docs = _t(spark, sf_dir, "documents")["documents"]
    per_doc = docs.select(
        "source",
        quality_score(F.col("text")).alias("q"),
        lang_id(F.col("text")).alias("lg"),
        token_count(F.col("text")).alias("nt"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("q"), 6).alias("avg_quality"),
        F.count_if(F.col("q") < 0.5).alias("n_low_quality"),
        F.count_if(F.col("lg") == "und").alias("n_lang_unknown"),
        F.round(F.avg("nt"), 6).alias("avg_tokens"),
    )


# --------------------------------------------------------------------------
# Tokenizer-training surface (BPE) + memorization audit.
# --------------------------------------------------------------------------

@register(
    "u6_bpe_pairs",
    "U6 ⊕ (tokenizer training: BPE pair statistics)",
    r"""
    WITH words AS (
      SELECT w, count(*) AS cnt FROM (
        SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        FROM documents
      ) GROUP BY w
    ),
    syms AS (
      SELECT list_append(
               list_transform(range(1, length(w) + 1),
                              i -> substring(w, CAST(i AS INT), 1)),
               '</w>') AS s,
             cnt
      FROM words
    ),
    pairs AS (
      SELECT unnest(list_transform(range(1, len(s)),
                                   i -> struct_pack(l := s[i], r := s[i+1]))) AS p,
             cnt
      FROM syms
    )
    SELECT p.l AS left_sym, p.r AS right_sym, CAST(sum(cnt) AS BIGINT) AS pair_count
    FROM pairs GROUP BY 1, 2
    ORDER BY pair_count DESC, left_sym, right_sym LIMIT 30
    """,
    doc="First BPE merge-round pair statistics (Sennrich et al. 2016) over "
    "the corpus: ONE corpus-sized shuffle collapses the token stream to "
    "the distinct-word histogram, then adjacent character-pair counts "
    "(with the classical </w> end-of-word marker) aggregate over the "
    "vocabulary-sized table only. The top-30 pairs are the merge "
    "candidates a tokenizer trainer would consume; full iterative "
    "training is u6_bpe_train.",
)
def u6_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import init_symbols, pair_counts, word_histogram

    docs = _t(spark, sf_dir, "documents")["documents"]
    return (
        pair_counts(init_symbols(word_histogram(docs)))
        .orderBy(F.desc("pair_count"), "left_sym", "right_sym")
        .limit(30)
    )


@register(
    "u6_bpe_train",
    "U6 ⊕ (tokenizer training: iterative BPE merges)",
    None,  # iterative argmax fixpoint — not ANSI-SQL-expressible; pinned
    # byte-equal to a pure-Python reference BPE in tests/test_bpe.py
    doc="Learn a BPE merge table from the corpus: map-reduce BPE. Each "
    "round explodes adjacent symbol pairs over the vocabulary-sized "
    "word table (one vocab-sized shuffle), takes the global argmax "
    "(1-row collect — the merge decision IS the output), and applies "
    "the merge as a narrow HOF fold. The only corpus-sized pass is the "
    "initial word count; the merge fold is left-to-right greedy "
    "non-overlapping, byte-equal to the reference scan implementation.",
)
def u6_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_train, merges_df

    docs = _t(spark, sf_dir, "documents")["documents"]
    return merges_df(spark, bpe_train(docs, n_merges=12, min_pair_count=2))


@register(
    "u6_repeated_ngrams",
    "U6 ⊕ (memorization audit: repeated n-grams)",
    r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
    ),
    ng AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t) - 6),
                                   i -> array_to_string(t[i:i+7], ' '))) AS ngram
      FROM toks WHERE len(t) >= 8
    )
    SELECT ngram,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq,
           CAST(count(*) AS BIGINT) AS occurrences
    FROM ng GROUP BY ngram
    ORDER BY doc_freq DESC, occurrences DESC, ngram LIMIT 20
    """,
    doc="Memorization-risk audit: the 20 most-duplicated word 8-grams "
    "across the corpus with document frequency and total occurrence "
    "count — the sequences a trained model is most likely to regurgitate "
    "verbatim. Sliding 8-gram windows are generated as a narrow "
    "transform over each doc's token array (no explode of the token "
    "stream itself), then ONE shuffle aggregates by n-gram; at 100 TB "
    "the same plan holds because the n-gram space is the shuffle key, "
    "never a pairwise comparison.",
)
def u6_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    toks = F.split(F.trim(F.col("text")), r"\s+")
    ngrams = F.expr(
        "transform(sequence(1, size(t) - 7), i -> array_join(slice(t, i, 8), ' '))"
    )
    return (
        docs.select("doc_id", toks.alias("t"))
        .where(F.size("t") >= 8)
        .select("doc_id", F.explode(ngrams).alias("ngram"))
        .groupBy("ngram")
        .agg(
            F.countDistinct("doc_id").alias("doc_freq"),
            F.count(F.lit(1)).alias("occurrences"),
        )
        .orderBy(F.desc("doc_freq"), F.desc("occurrences"), "ngram")
        .limit(20)
    )


def _gopher_sql() -> str:
    toks = SQL_TOKS.format(col="text")
    n = SQL_TOKEN_COUNT.format(col="text")
    stop_distinct = (
        "len(list_distinct(list_filter("
        + toks
        + ", w -> list_contains(["
        + ", ".join(f"'{w}'" for w in STOPWORDS)
        + "], w))))"
    )
    alpha = f"len(list_filter({toks}, w -> regexp_matches(w, '[a-zA-Z]')))"
    total_chars = f"list_aggregate(list_transform({toks}, t -> length(t)), 'sum')"
    return f"""
    SELECT doc_id,
           CAST({n} AS INTEGER) AS n_words,
           round(CASE WHEN ({n}) = 0 THEN 0.0
                      ELSE ({total_chars}) * 1.0 / ({n}) END, 6) AS mean_word_len,
           ({n}) BETWEEN 50 AND 100000 AS r_word_count,
           CASE WHEN ({n}) = 0 THEN false
                ELSE ({total_chars}) * 1.0 / ({n}) BETWEEN 3 AND 10 END
             AS r_mean_word_len,
           ({stop_distinct}) >= 2 AS r_stopwords,
           CASE WHEN ({n}) = 0 THEN false
                ELSE ({alpha}) * 1.0 / ({n}) >= 0.8 END AS r_alpha,
           (({n}) BETWEEN 50 AND 100000)
             AND (CASE WHEN ({n}) = 0 THEN false
                       ELSE ({total_chars}) * 1.0 / ({n}) BETWEEN 3 AND 10 END)
             AND (({stop_distinct}) >= 2)
             AND (CASE WHEN ({n}) = 0 THEN false
                       ELSE ({alpha}) * 1.0 / ({n}) >= 0.8 END) AS gopher_pass
    FROM documents
    """


@register(
    "u6_gopher_rules",
    "U6 ⊕ (rule-based quality filter: Gopher rules)",
    _gopher_sql(),
    doc="Gopher-style rule-based quality filter (Rae et al. 2021 §A1.1, "
    "adapted to the engine's whitespace tokenizer): per-doc named rule "
    "flags — word count in [50, 100k], mean word length in [3, 10], "
    ">= 2 distinct stopwords, >= 80% alphabetic words — plus the "
    "conjunction gopher_pass. All flags evaluate in ONE narrow "
    "projection per row (no shuffle at all); complements the scored "
    "u6_quality_score with the named-rule API curation stacks filter on.",
)
def u6_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import token_count

    docs = _t(spark, sf_dir, "documents")["documents"]
    toks = tokens(F.col("text"))
    n = token_count(F.col("text"))
    total_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    stop_vocab = F.array(*[F.lit(w) for w in STOPWORDS])
    stop_distinct = F.size(
        F.array_distinct(F.filter(toks, lambda t: F.array_contains(stop_vocab, t)))
    )
    alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
    mean_len = F.when(n == 0, F.lit(0.0)).otherwise(total_chars * 1.0 / n)
    alpha_frac_ok = F.when(n == 0, F.lit(False)).otherwise(alpha * 1.0 / n >= 0.8)
    mean_len_ok = F.when(n == 0, F.lit(False)).otherwise(
        (total_chars * 1.0 / n >= 3) & (total_chars * 1.0 / n <= 10)
    )
    r_wc = (n >= 50) & (n <= 100000)
    r_stop = stop_distinct >= 2
    return docs.select(
        "doc_id",
        n.alias("n_words"),
        F.round(mean_len, 6).alias("mean_word_len"),
        r_wc.alias("r_word_count"),
        mean_len_ok.alias("r_mean_word_len"),
        r_stop.alias("r_stopwords"),
        alpha_frac_ok.alias("r_alpha"),
        (r_wc & mean_len_ok & r_stop & alpha_frac_ok).alias("gopher_pass"),
    )


@register(
    "u11_bigram_logprob",
    "U6+A1 ⊕ (conditional bigram-LM scoring)",
    f"""
    WITH toks AS (
      SELECT doc_id, {SQL_TOKS.format(col='text')} AS t FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i+1])) AS bg
      FROM toks
    ),
    freq2 AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY bg),
    freq1 AS (
      SELECT split_part(bg, ' ', 1) AS w1, sum(c2) AS c1
      FROM freq2 GROUP BY w1
    )
    SELECT b.doc_id,
           round(sum(ln(f2.c2 * 1.0 / f1.c1)) / count(*), 6)
             AS mean_bigram_logprob,
           CAST(count(*) AS BIGINT) AS n_bigrams
    FROM bg b
    JOIN freq2 f2 USING (bg)
    JOIN freq1 f1 ON f1.w1 = split_part(b.bg, ' ', 1)
    GROUP BY b.doc_id
    """,
    doc="Second rung of the perplexity-filter ladder (unigram → n-gram "
    "→ neural): the corpus's own CONDITIONAL bigram model "
    "p(w2|w1) = c(w1 w2)/c(w1 ·) scores each document's mean bigram "
    "log-probability — sensitive to scrambled word ORDER that "
    "u11_unigram_logprob (a bag-of-words score) cannot see. Bigrams "
    "are built row-locally (zip of the token array with its own tail — "
    "no self-join, no positional shuffle; the size>=2 CASE guards "
    "Spark's DESCENDING sequence(1,0) sharp edge, operators/bpe.py "
    "precedent). Exchanges: bigram-vocab agg, first-word marginal agg "
    "(both AQE-broadcast back), one per-doc regroup. Docs with <2 "
    "tokens have no bigrams and drop out, on both engines.",
)
def u11_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    # Materialize the token array BEFORE any lambda touches it: an
    # element_at(tokens(text), i) inside a HOF re-runs the regex split
    # per element (HOF boundaries defeat subexpression elimination — the
    # lang_id lesson), turning each doc O(len²); measured 150 s → 3 s on
    # the 52k Zipf corpus. Bigrams are then one zip of the array with
    # its own tail — three O(len) array ops per row.
    toked = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    n = F.size("t")
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice("t", 1, n - 1),
            F.slice("t", 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bg = toked.select("doc_id", F.explode(bigrams).alias("bg"))
    freq2 = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    freq1 = freq2.groupBy(
        F.split(F.col("bg"), " ").getItem(0).alias("w1")
    ).agg(F.sum("c2").alias("c1"))
    scored = (
        bg.join(freq2, "bg")
        .withColumn("w1", F.split(F.col("bg"), " ").getItem(0))
        .join(freq1, "w1")
    )
    return scored.groupBy("doc_id").agg(
        F.round(
            F.sum(F.log(F.col("c2") / F.col("c1"))) / F.count(F.lit(1)), 6
        ).alias("mean_bigram_logprob"),
        F.count(F.lit(1)).alias("n_bigrams"),
    )


_TRI_COIN_SQL = (
    "CAST(concat('0x', substring(md5(concat(CAST(doc_id AS VARCHAR), "
    "'#17')), 1, 8)) AS BIGINT) % 1048576 / 1048576.0"
)


@register(
    "u11_trigram_backoff",
    "U6+A1 ⊕ (stupid-backoff trigram LM, held-out scoring)",
    f"""
    WITH toked AS (
      SELECT doc_id, {SQL_TOKS.format(col='text')} AS t,
             {_TRI_COIN_SQL} AS coin
      FROM documents WHERE trim(text) <> ''
    ),
    c3 AS (
      SELECT tg, count(*) AS c3 FROM (
        SELECT unnest(list_transform(range(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS tg
        FROM toked WHERE coin < 0.5 AND len(t) >= 3
      ) GROUP BY tg
    ),
    c2 AS (
      SELECT bgm, count(*) AS c2 FROM (
        SELECT unnest(list_transform(range(1, len(t)),
                 i -> t[i] || ' ' || t[i+1])) AS bgm
        FROM toked WHERE coin < 0.5 AND len(t) >= 2
      ) GROUP BY bgm
    ),
    c1 AS (
      SELECT w, count(*) AS c1 FROM (
        SELECT unnest(t) AS w FROM toked WHERE coin < 0.5
      ) GROUP BY w
    ),
    n AS (SELECT sum(c1) AS n_total FROM c1),
    parts AS (
      SELECT doc_id, tg,
             split_part(tg, ' ', 1) || ' ' || split_part(tg, ' ', 2) AS ctx,
             split_part(tg, ' ', 2) || ' ' || split_part(tg, ' ', 3) AS last2,
             split_part(tg, ' ', 2) AS w2,
             split_part(tg, ' ', 3) AS w3
      FROM (
        SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS tg
        FROM toked WHERE coin >= 0.5 AND len(t) >= 3
      )
    ),
    scored AS (
      SELECT p.doc_id,
             CASE WHEN f3.c3 IS NOT NULL THEN ln(f3.c3 * 1.0 / fc.c2)
                  WHEN fl.c2 IS NOT NULL THEN ln(0.4 * fl.c2 / f1b.c1)
                  WHEN f1c.c1 IS NOT NULL THEN ln(0.16 * f1c.c1 / n.n_total)
                  ELSE ln(0.16 * 1.0 / n.n_total) END AS lp,
             CASE WHEN f3.c3 IS NOT NULL THEN 0
                  WHEN fl.c2 IS NOT NULL THEN 1
                  WHEN f1c.c1 IS NOT NULL THEN 2
                  ELSE 3 END AS lvl
      FROM parts p
      LEFT JOIN c3 f3 ON p.tg = f3.tg
      LEFT JOIN c2 fc ON p.ctx = fc.bgm
      LEFT JOIN c2 fl ON p.last2 = fl.bgm
      LEFT JOIN c1 f1b ON p.w2 = f1b.w
      LEFT JOIN c1 f1c ON p.w3 = f1c.w
      CROSS JOIN n
    )
    SELECT doc_id,
           round(sum(lp) / count(*), 6) AS mean_backoff_logprob,
           CAST(count(*) AS BIGINT) AS n_trigrams,
           CAST(count(*) FILTER (WHERE lvl = 0) AS BIGINT) AS n_tri_hits,
           CAST(count(*) FILTER (WHERE lvl = 1) AS BIGINT) AS n_big_backoff,
           CAST(count(*) FILTER (WHERE lvl = 2) AS BIGINT) AS n_uni_backoff,
           CAST(count(*) FILTER (WHERE lvl = 3) AS BIGINT) AS n_oov
    FROM scored GROUP BY doc_id
    """,
    doc="Third rung of the perplexity-filter ladder (unigram → bigram → "
    "trigram): STUPID BACKOFF (Brants et al. 2007, 'Large Language "
    "Models in Machine Translation') — S(w3|w1w2) = c3/c2 when the "
    "trigram was seen, else 0.4·c2(w2w3)/c1(w2), else 0.4²·c1(w3)/N, "
    "with a 1/N OOV floor. Unlike u11_uni/bigram (which score the "
    "corpus against itself, so every n-gram is trivially 'seen'), this "
    "entry TRAINS on the md5-coin half of the corpus and scores the "
    "HELD-OUT half — the backoff levels genuinely fire, and the "
    "per-level hit counts (integer-exact) come back as columns. "
    "Trigrams are built row-locally (two zips of the materialized token "
    "array with its own tails — the u11_bigram HOF-recompute lesson; no "
    "self-join, no positional shuffle). Count tables are vocab-sized → "
    "AQE broadcasts every lookup join; N rides a 1-row scalar cross "
    "join (u11_unigram precedent). At 100 TB: the corpus shuffles only "
    "to build the three count tables (hash agg on the n-gram key), the "
    "scoring pass is scan + broadcast lookups.",
)
def u11_trigram_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import hash_coin

    docs = _t(spark, sf_dir, "documents")["documents"]
    toked = (
        docs.filter(F.trim("text") != "")
        .select(
            "doc_id",
            tokens(F.col("text")).alias("t"),
            hash_coin(F.col("doc_id"), 17, "md5").alias("coin"),
        )
    )
    train = toked.filter(F.col("coin") < 0.5)
    test = toked.filter(F.col("coin") >= 0.5)

    n = F.size("t")
    # Row-local n-gram construction: zip the MATERIALIZED token array
    # with its own tails (never element_at(tokens(text), i) inside a
    # lambda — the HOF boundary would re-run the regex split per
    # element, the measured 150 s u11_bigram trap). The size guards
    # sidestep Spark's DESCENDING sequence(1, 0) sharp edge.
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice("t", 1, n - 1),
            F.slice("t", 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    trigrams = F.when(
        n >= 3,
        F.zip_with(
            F.zip_with(
                F.slice("t", 1, n - 2),
                F.slice("t", 2, n - 2),
                lambda a, b: F.concat(a, F.lit(" "), b),
            ),
            F.slice("t", 3, n - 2),
            lambda ab, c: F.concat(ab, F.lit(" "), c),
        ),
    ).otherwise(F.array().cast("array<string>"))

    c3 = (
        train.select(F.explode(trigrams).alias("tg"))
        .groupBy("tg")
        .agg(F.count(F.lit(1)).alias("c3"))
    )
    c2 = (
        train.select(F.explode(bigrams).alias("bgm"))
        .groupBy("bgm")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    c1 = (
        train.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    n_total = c1.agg(F.sum("c1").alias("n_total"))

    parts = test.select("doc_id", F.explode(trigrams).alias("tg")).select(
        "doc_id",
        "tg",
        F.concat_ws(
            " ", F.split("tg", " ").getItem(0), F.split("tg", " ").getItem(1)
        ).alias("ctx"),
        F.concat_ws(
            " ", F.split("tg", " ").getItem(1), F.split("tg", " ").getItem(2)
        ).alias("last2"),
        F.split("tg", " ").getItem(1).alias("w2"),
        F.split("tg", " ").getItem(2).alias("w3"),
    )
    scored = (
        parts.join(c3, "tg", "left")
        .join(c2.select(F.col("bgm").alias("ctx"), F.col("c2").alias("c2_ctx")), "ctx", "left")
        .join(c2.select(F.col("bgm").alias("last2"), F.col("c2").alias("c2_last")), "last2", "left")
        .join(c1.select(F.col("w").alias("w2"), F.col("c1").alias("c1_w2")), "w2", "left")
        .join(c1.select(F.col("w").alias("w3"), F.col("c1").alias("c1_w3")), "w3", "left")
        .crossJoin(F.broadcast(n_total))
    )
    lp = (
        F.when(
            F.col("c3").isNotNull(), F.log(F.col("c3") * 1.0 / F.col("c2_ctx"))
        )
        .when(
            F.col("c2_last").isNotNull(),
            F.log(F.lit(0.4) * F.col("c2_last") / F.col("c1_w2")),
        )
        .when(
            F.col("c1_w3").isNotNull(),
            F.log(F.lit(0.16) * F.col("c1_w3") / F.col("n_total")),
        )
        .otherwise(F.log(F.lit(0.16) * F.lit(1.0) / F.col("n_total")))
    )
    lvl = (
        F.when(F.col("c3").isNotNull(), 0)
        .when(F.col("c2_last").isNotNull(), 1)
        .when(F.col("c1_w3").isNotNull(), 2)
        .otherwise(3)
    )
    return (
        scored.select("doc_id", lp.alias("lp"), lvl.alias("lvl"))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum("lp") / F.count(F.lit(1)), 6).alias(
                "mean_backoff_logprob"
            ),
            F.count(F.lit(1)).alias("n_trigrams"),
            F.sum(F.when(F.col("lvl") == 0, 1).otherwise(0)).alias("n_tri_hits"),
            F.sum(F.when(F.col("lvl") == 1, 1).otherwise(0)).alias("n_big_backoff"),
            F.sum(F.when(F.col("lvl") == 2, 1).otherwise(0)).alias("n_uni_backoff"),
            F.sum(F.when(F.col("lvl") == 3, 1).otherwise(0)).alias("n_oov"),
        )
    )


@register(
    "u6_readability",
    "U6 ⊕ (Flesch reading-ease scoring)",
    f"""
    WITH toked AS (
      SELECT doc_id, {SQL_TOKS.format(col='text')} AS t,
             CAST({SQL_TOKEN_COUNT.format(col='text')} AS INTEGER) AS n_words,
             greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences
      FROM documents
    )
    SELECT doc_id, n_words,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(CASE WHEN n_words = 0 THEN 0 ELSE
             list_aggregate(list_transform(t,
               tok -> greatest(len(regexp_extract_all(tok, '[aeiouyAEIOUY]+')), 1)),
               'sum') END AS BIGINT) AS n_syllables,
           CASE WHEN n_words = 0 THEN CAST(NULL AS DOUBLE) ELSE
             round(206.835
                   - 1.015 * (n_words * 1.0 / n_sentences)
                   - 84.6 * (CAST(list_aggregate(list_transform(t,
                       tok -> greatest(len(regexp_extract_all(tok, '[aeiouyAEIOUY]+')), 1)),
                       'sum') AS DOUBLE) / n_words), 4)
           END AS fre
    FROM toked
    """,
    doc="Flesch reading-ease (public formula, Flesch 1948): 206.835 − "
    "1.015·(words/sentences) − 84.6·(syllables/word), with the standard "
    "cheap syllable proxy (vowel-group runs per word, floor 1) and "
    "sentence count from terminal-punctuation runs (floor 1). A classic "
    "curation signal alongside u6_quality_score/u6_gopher_rules — "
    "too-hard and too-trivial documents both get filtered by FRE bands. "
    "Entirely row-local (one narrow projection, zero shuffle; the "
    "per-token regexp runs on the MATERIALIZED token array — the "
    "u11_bigram HOF lesson). Counts come back integer-exact; the score "
    "is one fixed-shape double expression, identical on both engines.",
)
def u6_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import token_count

    docs = _t(spark, sf_dir, "documents")["documents"]
    toked = docs.select(
        "doc_id",
        tokens(F.col("text")).alias("t"),
        token_count(F.col("text")).alias("n_words"),
        F.greatest(
            F.regexp_count("text", F.lit(r"[.!?]+")), F.lit(1)
        ).cast("long").alias("n_sentences"),
    )
    syl = F.aggregate(
        F.transform(
            F.col("t"),
            lambda tok: F.greatest(
                F.regexp_count(tok, F.lit("[aeiouyAEIOUY]+")), F.lit(1)
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_syllables = F.when(F.col("n_words") == 0, F.lit(0).cast("long")).otherwise(syl)
    fre = F.when(F.col("n_words") == 0, F.lit(None).cast("double")).otherwise(
        F.round(
            F.lit(206.835)
            - F.lit(1.015) * (F.col("n_words") * 1.0 / F.col("n_sentences"))
            - F.lit(84.6) * (syl.cast("double") / F.col("n_words")),
            4,
        )
    )
    return toked.select(
        "doc_id", "n_words", "n_sentences",
        n_syllables.alias("n_syllables"), fre.alias("fre"),
    )


@register(
    "u6_kwic_snippets",
    "U6 ⊕ (keyword-in-context snippets)",
    """
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents
    ),
    hits AS (
      SELECT doc_id, t, list_position(t, 'scan') AS pos, len(t) AS n
      FROM toks
      WHERE list_position(t, 'scan') > 0
    )
    SELECT doc_id,
           CAST(pos AS BIGINT) AS pos,
           array_to_string(
             t[greatest(1, pos - 3):least(n, pos + 3)], ' ') AS snippet
    FROM hits
    """,
    doc="Keyword-in-context (KWIC) snippet extraction: for every "
    "document containing the term, the FIRST occurrence position and a "
    "±3-token context window — the search-result-preview / corpus-QA "
    "op (inspect how a term is used without shipping whole documents). "
    "Row-local: tokenize once, one array_position, one slice — zero "
    "shuffles, trivially parallel at any scale; the snippet column is "
    "bounded (7 tokens) no matter how large the documents are, which "
    "is the point: the op ships context windows, not documents.",
)
def u6_kwic_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens

    docs = _t(spark, sf_dir, "documents")["documents"]
    t = tokens(F.col("text"))
    with_pos = docs.select(
        "doc_id",
        t.alias("t"),
        F.array_position(t, "scan").alias("pos"),
        F.size(t).alias("n"),
    ).filter(F.col("pos") > 0)
    start = F.greatest(F.lit(1), F.col("pos") - 3)
    end = F.least(F.col("n"), F.col("pos") + 3)
    return with_pos.select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.array_join(
            F.slice(F.col("t"), start, end - start + 1), " "
        ).alias("snippet"),
    )


@register(
    "u6_zipf_fit",
    "U6 ⊕ (corpus health: Zipf rank-frequency fit)",
    f"""
    WITH freq AS (
      SELECT tok, count(*) AS c
      FROM (SELECT unnest({SQL_TOKS.format(col='text')}) AS tok FROM documents)
      WHERE tok <> ''
      GROUP BY tok
    ),
    top AS (
      SELECT tok, c,
             row_number() OVER (ORDER BY c DESC, tok) AS rnk
      FROM freq ORDER BY c DESC, tok LIMIT 200
    ),
    pts AS (
      SELECT ln(rnk * 1.0) AS lx, ln(c * 1.0) AS ly FROM top
    ),
    sums AS (
      SELECT count(*) AS n, sum(lx) AS sx, sum(ly) AS sy,
             sum(lx * ly) AS sxy, sum(lx * lx) AS sxx, sum(ly * ly) AS syy
      FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_ranks,
           round((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) AS zipf_slope,
           round(sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n) * sx / n, 6)
             AS intercept,
           round((sxy - sx * sy / n) * (sxy - sx * sy / n)
                 / ((sxx - sx * sx / n) * (syy - sy * sy / n)), 6) AS r_squared
    FROM sums
    """,
    doc="Zipf's-law fit over the corpus token rank-frequency curve: "
    "log-log OLS slope/intercept/R² on the top-200 ranks — the "
    "corpus-health screen that flags template/boilerplate-dominated or "
    "synthetic corpora (natural text slopes ≈ -1; flat heads or cliffs "
    "betray generation artifacts), complementing u12_corpus_health and "
    "llm_corpus_drift. Regression via explicit power sums (the a16 "
    "rule: native regr_* aggregates have engine-specific update "
    "orders). Ranks are made deterministic by the (count DESC, token) "
    "tiebreak. Scale shape: token counts are ONE shuffle on token; the "
    "top-200 plans as TakeOrderedAndProject; the regression is a "
    "200-row aggregate. ln args are exact ints; only the 200-term "
    "power sums are float, rounded at 6 after the slope algebra.",
)
def u6_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens

    docs = _t(spark, sf_dir, "documents")["documents"]
    freq = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = freq.orderBy(F.desc("c"), F.asc("tok")).limit(200)
    from pyspark.sql import Window

    ranked = top.select(
        F.row_number()
        .over(Window.orderBy(F.desc("c"), F.asc("tok")))
        .alias("rnk"),
        "c",
    )
    pts = ranked.select(
        F.log(F.col("rnk") * F.lit(1.0)).alias("lx"),
        F.log(F.col("c") * F.lit(1.0)).alias("ly"),
    )
    sums = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
        F.sum(F.col("ly") * F.col("ly")).alias("syy"),
    )
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    vy = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    return sums.select(
        F.col("n").cast("long").alias("n_ranks"),
        F.round(cov / vx, 6).alias("zipf_slope"),
        F.round(
            F.col("sy") / F.col("n") - cov / vx * F.col("sx") / F.col("n"), 6
        ).alias("intercept"),
        F.round(cov * cov / (vx * vy), 6).alias("r_squared"),
    )


@register(
    "llm_tokenizer_fertility",
    "U6 ⊕ (tokenizer fertility by source)",
    f"""
    WITH per_doc AS (
      SELECT source,
             CAST(len(regexp_extract_all(text, '{{bpe}}')) AS BIGINT) AS n_bpe,
             CAST({{tc}} AS BIGINT) AS n_ws
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_bpe) AS BIGINT) AS total_bpe,
           CAST(sum(n_ws) AS BIGINT) AS total_words,
           round(sum(n_bpe) * 1.0 / sum(n_ws), 6) AS fertility,
           CAST(count(*) FILTER (WHERE n_bpe * 2 > n_ws * 3) AS BIGINT)
             AS n_high_fertility
    FROM per_doc WHERE n_ws > 0
    GROUP BY source
    """.format(bpe=BPE_PATTERN, tc=SQL_TOKEN_COUNT.format(col="text")),
    doc="Tokenizer fertility per source: BPE-ish subword tokens per "
    "whitespace word — the metric tokenizer papers report per language "
    "(fertility >> 1 flags scripts/domains the vocabulary serves badly, "
    "i.e. where token budgets explode and effective context shrinks). "
    "Corpus-level fertility is a ratio of exact integer totals; the "
    "high-fertility doc count uses the integer cross-multiplication "
    "n_bpe*2 > n_ws*3 (fertility > 1.5) so not even the per-doc flag "
    "touches floats. One grouped pass; counts are row-local.",
)
def llm_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import token_count

    docs = _t(spark, sf_dir, "documents")["documents"]
    per_doc = docs.select(
        "source",
        F.size(F.regexp_extract_all("text", F.lit(BPE_PATTERN), 0))
        .cast("long")
        .alias("n_bpe"),
        token_count(F.col("text")).cast("long").alias("n_ws"),
    ).filter(F.col("n_ws") > 0)
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_bpe").cast("long").alias("total_bpe"),
        F.sum("n_ws").cast("long").alias("total_words"),
        F.round(F.sum("n_bpe") * 1.0 / F.sum("n_ws"), 6).alias("fertility"),
        F.sum(
            F.when(F.col("n_bpe") * 2 > F.col("n_ws") * 3, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_high_fertility"),
    )


@register(
    "llm_perplexity_buckets",
    "U11 ⊕ (CCNet-style perplexity bucketing)",
    f"""
    WITH toks AS (
      SELECT doc_id, {SQL_TOKS.format(col='text')} AS t FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i+1])) AS bg
      FROM toks
    ),
    freq2 AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY bg),
    freq1 AS (
      SELECT split_part(bg, ' ', 1) AS w1, sum(c2) AS c1
      FROM freq2 GROUP BY w1
    ),
    scored AS (
      SELECT b.doc_id,
             round(sum(ln(f2.c2 * 1.0 / f1.c1)) / count(*), 6) AS lp
      FROM bg b
      JOIN freq2 f2 USING (bg)
      JOIN freq1 f1 ON f1.w1 = split_part(b.bg, ' ', 1)
      GROUP BY b.doc_id
    ),
    s AS (
      SELECT scored.doc_id, d.source, scored.lp
      FROM scored JOIN documents d USING (doc_id)
    ),
    samp AS (
      SELECT * FROM s
      WHERE CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                 AS BIGINT) % 10 < 3
    ),
    ranked AS (
      SELECT source, doc_id, lp,
             row_number() OVER (PARTITION BY source ORDER BY lp, doc_id) AS rn,
             count(*) OVER (PARTITION BY source) AS ns
      FROM samp
    ),
    thr AS (
      SELECT source,
             max(CASE WHEN rn = CAST(ceil(ns / 3.0) AS BIGINT)
                      THEN lp END) AS t1,
             max(CASE WHEN rn = CAST(ceil(2 * ns / 3.0) AS BIGINT)
                      THEN lp END) AS t2
      FROM ranked GROUP BY source
    )
    SELECT s.source,
           CASE WHEN thr.t1 IS NULL THEN 'unsampled'
                WHEN s.lp <= thr.t1 THEN 'tail'
                WHEN s.lp <= thr.t2 THEN 'middle'
                ELSE 'head' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CAST(round(s.lp * 1000000) AS BIGINT))
                // count(*) AS BIGINT) AS mean_lp_micro
    FROM s LEFT JOIN thr ON thr.source = s.source
    GROUP BY 1, 2
    """,
    doc="CCNet-style perplexity bucketing (Wenzek et al. 2020): score "
    "every document with the corpus's own bigram LM (u11's rung), "
    "estimate per-source head/middle/tail TERCILE THRESHOLDS on a "
    "deterministic md5 30% hash sample, then bucket the full corpus "
    "against those constants — the production shape where thresholds "
    "come from a bounded sample, never a full-corpus sort (the sample "
    "is the only thing ranked; at 100 TB you'd cap its absolute size "
    "too — documented contract, same family as discover_fractions). "
    "Everything is a pure function of the data: md5 sample coin, "
    "(lp, doc_id) total-order ranks, round-6 logprobs from exact "
    "count ratios. Exercises model-score → threshold → route, the "
    "quality-filter pattern behind CCNet/Gopher corpus curation. "
    "Bucket means report in exact integer micro-logprob units (integral "
    "division of micro-scaled round-6 scores — a float avg ties at the "
    "6th decimal across engines).",
)
def llm_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")["documents"]
    scored = u11_bigram_logprob(spark, sf_dir).select(
        "doc_id", F.col("mean_bigram_logprob").alias("lp")
    )
    s = scored.join(docs.select("doc_id", "source"), "doc_id")
    coin = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("long")
        % 10
    )
    samp = s.filter(coin < 3)
    w = Window.partitionBy("source").orderBy("lp", "doc_id")
    wc = Window.partitionBy("source")
    ranked = samp.select(
        "source",
        "lp",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("ns"),
    )
    thr = ranked.groupBy("source").agg(
        F.max(
            F.when(
                F.col("rn") == F.ceil(F.col("ns") / 3.0).cast("long"), F.col("lp")
            )
        ).alias("t1"),
        F.max(
            F.when(
                F.col("rn") == F.ceil(2 * F.col("ns") / 3.0).cast("long"),
                F.col("lp"),
            )
        ).alias("t2"),
    )
    bucket = (
        F.when(F.col("t1").isNull(), F.lit("unsampled"))
        .when(F.col("lp") <= F.col("t1"), F.lit("tail"))
        .when(F.col("lp") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("head"))
    )
    return (
        s.join(F.broadcast(thr), "source", "left")
        .select("source", bucket.alias("bucket"), "lp")
        .select(
            "source",
            "bucket",
            F.round(F.col("lp") * 1000000).cast("long").alias("lp6"),
        )
        .groupBy("source", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.expr("sum(lp6) div count(*)").cast("long").alias("mean_lp_micro"),
        )
    )


@register(
    "u6_code_detect",
    "U6 ⊕ (code-vs-prose routing)",
    r"""
    WITH per_doc AS (
      SELECT source, doc_id,
             length(text) AS n_chars,
             length(text)
               - length(regexp_replace(text, '[{}();=<>\[\]|&_]', '', 'g'))
               AS n_codechars,
             len(regexp_extract_all(lower(text),
                 '\b(def|class|return|import|function|var|const|void|int|'
                 || 'public|static|struct|lambda|elif|endif)\b')) AS kw_hits
      FROM documents WHERE length(text) > 0
    ),
    flagged AS (
      SELECT source,
             CASE WHEN n_codechars * 50 > n_chars
                       OR (kw_hits >= 2 AND n_codechars * 200 > n_chars)
                  THEN 1 ELSE 0 END AS is_code
      FROM per_doc
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(is_code) AS BIGINT) AS n_code,
           round(sum(is_code) * 1.0 / count(*), 6) AS code_share
    FROM flagged GROUP BY source
    """,
    doc="Code-vs-prose routing per source — the corpus-composition "
    "screen LLM pipelines run before choosing tokenizers and mixture "
    "weights (code wants different dedup, different quality rules, and "
    "its own budget line): structural-character density ({};()=<> etc., "
    "computed by length difference after character-class strip) plus a "
    "15-keyword hit count, combined through INTEGER cross-"
    "multiplications (density > 2% ⇒ code, or ≥2 keywords with density "
    "> 0.5%) so the per-doc decision never touches a float; only the "
    "final per-source share divides. Row-local scan, one grouped "
    "rollup — the u6_lang_id scale shape.",
)
def u6_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    kw = (
        r"\b(def|class|return|import|function|var|const|void|int|"
        r"public|static|struct|lambda|elif|endif)\b"
    )
    n_chars = F.length("text")
    n_codechars = n_chars - F.length(
        F.regexp_replace("text", r"[{}();=<>\[\]|&_]", "")
    )
    kw_hits = F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(kw), 0))
    is_code = F.when(
        (n_codechars * 50 > n_chars)
        | ((kw_hits >= 2) & (n_codechars * 200 > n_chars)),
        1,
    ).otherwise(0)
    return (
        docs.filter(n_chars > 0)
        .select("source", is_code.alias("is_code"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("is_code").cast("long").alias("n_code"),
            F.round(F.sum("is_code") * 1.0 / F.count(F.lit(1)), 6).alias(
                "code_share"
            ),
        )
    )


@register(
    "u6_hapax_ttr",
    "U6 ⊕ (lexical richness: TTR + hapax legomena)",
    f"""
    WITH toks AS (
      SELECT source, unnest({SQL_TOKS.format(col='text')}) AS tok
      FROM documents WHERE length(trim(text)) > 0
    ),
    tf AS (SELECT source, tok, count(*) AS c FROM toks GROUP BY 1, 2)
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS n_hapax,
           round(count(*) * 1.0 / sum(c), 6) AS ttr,
           round(count(*) FILTER (WHERE c = 1) * 1.0 / count(*), 6)
             AS hapax_ratio
    FROM tf GROUP BY source
    """,
    doc="Per-source lexical richness: type-token ratio and hapax-"
    "legomena share — the vocabulary-diversity screen a corpus mix "
    "needs next to u6_zipf_fit's head-fit (a source whose TTR "
    "collapses is template spam even when its Zipf slope looks "
    "normal; a hapax share near 1 is OCR noise or ID-like junk). "
    "Whitespace tokens (the shared SQL_TOKS discipline), one "
    "(source, token)-keyed count, then a source-keyed fold; every "
    "statistic is an exact integer until the two final divisions, "
    "rounded at 6. Scale shape: token explode -> one vocab-domain "
    "shuffle -> source-domain fold; no windows, no self-joins, the "
    "u11/llm_corpus_drift aggregation family.",
)
def u6_hapax_ttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens

    docs = _t(spark, sf_dir, "documents")["documents"]
    tf = (
        docs.filter(F.length(F.trim("text")) > 0)
        .select("source", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return tf.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.count_if(F.col("c") == 1).cast("long").alias("n_hapax"),
        F.round(F.count(F.lit(1)) * 1.0 / F.sum("c"), 6).alias("ttr"),
        F.round(F.count_if(F.col("c") == 1) * 1.0 / F.count(F.lit(1)), 6).alias(
            "hapax_ratio"
        ),
    )
