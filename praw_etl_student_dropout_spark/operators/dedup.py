"""Document deduplication operators (SURVEY.md §2.7 D2/D3 ⊕).

Training-data dedup at 100 TB, implemented natively (no Python UDFs in
the hot path — every stage is exploded arrays + hash expressions +
groupBy, all codegen'd):

- ``exact_dedup``         hash-groupBy on a normalized fingerprint
- ``minhash_dedup_pairs`` MinHash signatures + LSH banding → candidate
                          pairs → exact-Jaccard verify (the classic
                          shingle→minhash→band→bucket-join pipeline)
- ``simhash_signatures``  64-bit SimHash + banded near-dup pairs
- ``ngram_jaccard_pairs`` exact n-gram Jaccard via shingle inverted index
- ``embedding_dup_pairs`` cosine near-dup over embeddings via
                          random-hyperplane LSH buckets

Each LSH family has ONE pipeline parameterized by its coin: the md5
MinHash twin (``minhash_md5_pairs``) runs ``_minhash_core`` with the md5
signature fold and decimal band keys, and both SRP-embedding functions
(Gaussian planes, md5 Rademacher planes) run the ``_srp_candidates``
banding kernel. The md5 coins exist so a DuckDB oracle can reproduce
every value of the pipeline.

Scale notes: every pairwise step goes through an equi-join on a bucket
key (band signature / LSH bucket), never an all-pairs product; candidate
verification touches only bucket-collision pairs. Over-full buckets are
dropped by one whole-bucket cap (``_drop_hot``). Shingle-set columns
stay with the doc (no driver collection).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import clean_text, doc_fingerprint, tokens
from ..plans.cache_registry import track
from .joins import broadcast_if_dim


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column, as array<string>.

    Texts shorter than n tokens yield one whole-text shingle; NULL text
    yields ``[""]`` (both inherited from the original formulation and
    relied on by every oracle).

    Round-14 (guide §1.2 step 2, per-task work): built by folding n-1
    ``zip_with`` passes over j-shifted copies of the token array —
    O(n·k) work and n-1 array copies total. The previous
    ``transform(sequence(...), i -> concat_ws(" ", slice(toks, i+1,
    n)))`` allocated a fresh n-element array per POSITION inside a
    lambda (non-codegen path), which profiled as ~85% of
    u8_decontaminate on the Zipf corpus: 5.9 -> 0.67 s for the shingle
    build, 8.5x, values identical on the full corpus and on
    null/empty/short/unicode edge cases (``concat_ws`` skips the nulls
    ``zip_with`` pads trailing positions with, so partial tail grams
    match the old slice-truncated ones before the final length cut).
    """
    toks = tokens(col)
    k = F.size(toks)
    grams = toks
    for j in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(toks, j + 1, F.greatest(k - j, F.lit(0))),
            lambda x, y: F.concat_ws(" ", x, y),
        )
    grams = F.slice(grams, 1, F.greatest(k - n + 1, F.lit(1)))
    # NULL text: the old sequence+transform form produced [""] (size()
    # is -1 on null, sequence(0,0) -> [0], concat_ws over a null slice
    # -> ""); keep that contract.
    return F.coalesce(F.array_distinct(grams), F.array(F.lit("")))


def md5_index_coin(i: int) -> int:
    """The fixed 60-bit XOR constant for min-hash index ``i``: first 15
    hex digits of md5("mh:<i>"), computed driver-side with hashlib —
    bit-identical to ``CAST(concat('0x', substring(md5('mh:<i>'), 1,
    15)) AS BIGINT)`` in any SQL engine, the same hoisting move as the
    SRP Rademacher coin (round-10)."""
    import hashlib

    return int(hashlib.md5(f"mh:{i}".encode()).hexdigest()[:15], 16)


def _spread(df: DataFrame, id_col: str) -> DataFrame:
    """Repartition by id before explode-heavy stages.

    Fixture tables arrive as one small parquet file = one partition; the
    shingle explode + hash work would otherwise run on a single core. At
    real scale the scan already has many partitions and this is a no-op
    cost-wise (hash partitioning on the id also co-locates each doc's
    shingles for the signature groupBy).
    """
    try:
        parallelism = df.sparkSession.sparkContext.defaultParallelism
        n_parts = df.rdd.getNumPartitions()
    except Exception:
        # Spark Connect sessions expose neither sparkContext nor df.rdd;
        # fall through to the planner's own partitioning.
        return df
    if n_parts < parallelism:
        return df.repartition(parallelism, id_col)
    return df


def _drop_hot(index: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """``index`` without the rows of every ``keys`` group holding more
    than ``cap`` rows: one groupBy count, then an anti join against the
    hot set. The hot set is tiny by construction (only boilerplate mass
    exceeds a sane cap), and the drop is a pure function of the index —
    no sampling, so capped pipelines keep their value oracles."""
    hot = (
        index.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > cap)
        .select(*keys)
    )
    return index.join(broadcast_if_dim(hot, bounded=False, why="hot-set cardinality grows with the corpus; AQE decides"), keys, "left_anti")


def _shingled(df: DataFrame, text_col: str, id_col: str, shingle_n: int) -> DataFrame:
    """``(id, sh)`` distinct-shingle sets, spread over the cores."""
    return _spread(df.select(F.col(id_col), F.col(text_col)), id_col).select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_n).alias("sh")
    )


def _band_pairs(banded: DataFrame, id_col: str) -> DataFrame:
    """Distinct ``(id_a, id_b)``, id_a < id_b, colliding in any band of
    an ``(id, band, band_sig)`` LSH index: one equi-self-join on the
    bucket, never all-pairs."""
    l, r = banded.alias("l"), banded.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_sig") == F.col("r.band_sig"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )


def shingle_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exploded ``(id, shingle)`` inverted index over word n-grams.

    With ``max_doc_freq``, shingles appearing in MORE than that many
    documents are dropped before any join: one groupBy count over the
    index, then a broadcast ANTI join against the hot set. The hot set is
    tiny by construction (only ubiquitous boilerplate phrases exceed a
    sane cap), so the anti join is a broadcast; the rare-shingle bulk of
    the index never reshuffles. This bounds the fan-out of any downstream
    shingle self-join to ``max_doc_freq`` per shingle — without it a
    single stop-phrase shared by k docs materializes k·(k-1)/2 candidate
    pairs, quadratic at corpus scale.

    ``word_shingles`` is distinct-per-doc, so ``count(*)`` per shingle is
    exactly its document frequency.
    """
    sh = _spread(df.select(F.col(id_col), F.col(text_col)), id_col).select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), n)).alias("shingle")
    )
    if max_doc_freq is None:
        return sh
    return _drop_hot(sh, ["shingle"], max_doc_freq)


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """D3 stage 0 — exact dedup on the order-insensitive fingerprint
    (md5 of sorted cleaned tokens). Survivor = min id per fingerprint —
    deterministic, one shuffle on the 128-bit hash (uniform, unskewed).
    """
    fp = doc_fingerprint(F.col(text_col)).alias("fingerprint")
    return (
        _spread(df.select(F.col(id_col), F.col(text_col)), id_col)
        .select(F.col(id_col), fp)
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
        .select(id_col, "fingerprint", "dup_count")
    )


def _xxhash_fold(sh: Column, num_hashes: int) -> Column:
    """``array<long>[num_hashes]`` signature of a shingle array, h_i = min
    over shingles of xxhash64(shingle, i).

    Single-pass array fold — NO explode, NO shuffle: ``aggregate`` walks
    the shingle array once, ``zip_with``+``least`` updates all
    ``num_hashes`` running minima per shingle. ~14x faster than the
    explode+groupBy form and embarrassingly parallel: signature state
    never leaves the doc's row.
    """
    long_max = (1 << 63) - 1
    return F.aggregate(
        sh,
        F.array_repeat(F.lit(long_max), num_hashes),
        lambda acc, s: F.zip_with(
            acc,
            F.array(*[F.xxhash64(s, F.lit(i)) for i in range(num_hashes)]),
            lambda a, b: F.least(a, b),
        ),
    )


def _md5_fold(sh: Column, num_hashes: int) -> Column:
    """The engine-portable signature of a shingle array: base(s) = first
    15 hex digits of md5(shingle) as a 60-bit long, h_i(s) = base(s) XOR
    :func:`md5_index_coin` (i), h_i = min over shingles.

    ONE md5 per shingle instead of num_hashes of them: the per-index
    functions are the XOR-shift family h_i = base ^ c_i — each a
    bijection of the base hash, with constants hoisted driver-side — a
    standard universal-hashing derivation whose LSH recall stays within
    the xxhash parity band the Zipf test pins. Same single-pass fold as
    :func:`_xxhash_fold`.
    """
    sentinel = 1 << 62  # above any 60-bit hash value
    coins = [md5_index_coin(i) for i in range(num_hashes)]
    # materialize the base hashes as their own array FIRST — one md5 per
    # shingle structurally, rather than relying on subexpression
    # elimination inside the fold lambda
    bases = F.transform(
        sh, lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    )
    return F.aggregate(
        bases,
        F.array_repeat(F.lit(sentinel).cast("long"), num_hashes),
        lambda acc, b: F.zip_with(
            acc,
            F.array(*[b.bitwiseXOR(F.lit(c)) for c in coins]),
            lambda a, x: F.least(a, x),
        ),
    )


def _xxhash_band_key(band: int, rows: Column) -> Column:
    """Band key of one signature slice: xxhash64(band, slice)."""
    return F.xxhash64(F.lit(band), rows)


def _md5_band_key(band: int, rows: Column) -> Column:
    """Band key of one signature slice: the PLAIN space-joined decimal
    string of its minima — no second hash, so the SQL twin is a
    concat_ws of the same BIGINT minima. (The band index is the
    posexplode position, so it need not enter the key.)"""
    del band
    return F.array_join(rows.cast("array<string>"), " ")


def _banded(
    sigs: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    band_key: Callable[[int, Column], Column],
) -> DataFrame:
    """Exploded ``(id, band, band_sig)`` LSH index of an ``(id, sig)``
    frame: ``bands`` slices of ``num_hashes // bands`` minima, each keyed
    by ``band_key`` — at scale this is the table you'd write out and
    bucket by (band, band_sig)."""
    rows_per_band = num_hashes // bands
    keys = F.array(
        *[
            band_key(b, F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band))
            for b in range(bands)
        ]
    )
    return sigs.select(F.col(id_col), F.posexplode(keys).alias("band", "band_sig"))


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = 32, shingle_n: int = 3
) -> DataFrame:
    """MinHash signature per doc as ``sig: array<long>[num_hashes]``
    (h_i = min over shingles of xxhash64(shingle, i); see
    :func:`_xxhash_fold`)."""
    return _shingled(df, text_col, id_col, shingle_n).select(
        F.col(id_col), _xxhash_fold(F.col("sh"), num_hashes).alias("sig")
    )


def _minhash_banded(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
) -> DataFrame:
    """Exploded ``(id, band, band_sig)`` xxhash64 LSH index shared by the
    incremental screen and the hot-bucket report."""
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    return _banded(sigs, id_col, num_hashes, bands, _xxhash_band_key)


def _hot_bucket_report(banded: DataFrame, max_bucket_size: int) -> DataFrame:
    """(band, band_sig, bucket_size, pairs_skipped) for every bucket of
    a prebuilt banded index exceeding ``max_bucket_size`` — the single
    definition of the user-facing report. The capped join drops exactly
    these buckets (``_drop_hot`` over the same index with the same
    ``count > cap`` predicate), so the two views can never disagree on
    parameterization."""
    sz = F.col("bucket_size")
    return (
        banded.groupBy("band", "band_sig")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .filter(sz > max_bucket_size)
        .select(
            "band",
            "band_sig",
            "bucket_size",
            (sz * (sz - 1) / 2).cast("long").alias("pairs_skipped"),
        )
    )


def minhash_hot_buckets(
    df: DataFrame | None,
    text_col: str,
    id_col: str,
    max_bucket_size: int,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    banded: DataFrame | None = None,
) -> DataFrame:
    """Dropped-mass report for the capped LSH join: one row per
    (band, band_sig) bucket whose membership exceeds ``max_bucket_size``,
    with ``bucket_size`` (docs in the bucket) and ``pairs_skipped``
    (candidate pairs the cap refuses to materialize). Run alongside a
    capped :func:`minhash_dedup_pairs` so truncation is REPORTED, never
    silent — a huge dropped mass means the corpus still carries exact
    duplicates and :func:`exact_dedup` must run first.

    Parameterization safety: the report is only meaningful under the
    SAME (num_hashes, bands, shingle_n) as the capped join it describes
    — mismatched banding yields different buckets and a silently wrong
    report. Prefer :func:`minhash_dedup_pairs_with_report`, which builds
    the index once and returns both views; or pass the prebuilt
    ``banded`` index here (at scale, the stored table both the pair join
    and this report point at) to skip the rebuild AND pin the banding.
    """
    if banded is None:
        banded = _minhash_banded(df, text_col, id_col, num_hashes, bands, shingle_n)
    return _hot_bucket_report(banded, max_bucket_size)


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """D3 — near-dup pairs via MinHash + LSH banding, verified exactly.

    bands×rows = num_hashes; a pair collides if any band signature
    matches (P[collide] ≈ 1-(1-j^r)^b). Candidates then verify with the
    TRUE Jaccard over distinct shingle sets, so output has no false
    positives; recall is the LSH curve. Returns (id_a, id_b, jaccard)
    with id_a < id_b and jaccard >= threshold.

    ``max_bucket_size`` bounds the self-join fan-out the way
    :func:`shingle_index`'s ``max_doc_freq`` does for n-gram Jaccard: a
    (band, band_sig) bucket holding B docs materializes B·(B-1)/2
    candidate pairs, and a degenerate corpus (mass EXACT duplicates —
    what raw crawl data looks like) puts all B copies in the same bucket
    in every band. With the cap, over-full buckets are dropped from the
    join (broadcast anti join on the tiny hot-bucket set) and
    :func:`minhash_hot_buckets` reports exactly what was skipped. The
    contract for capped runs: :func:`exact_dedup` runs FIRST, so
    surviving near-dup buckets are genuinely small; capping then only
    sheds pathological boilerplate clusters, never normal near-dups.
    """
    return _minhash_core(
        df, text_col, id_col, threshold, num_hashes, bands, shingle_n, max_bucket_size
    )[0]


def minhash_dedup_pairs_with_report(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_bucket_size: int,
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Capped MinHash dedup plus its dropped-mass report, from ONE
    banded index: returns ``(pairs, hot_buckets)`` where ``pairs`` is
    exactly :func:`minhash_dedup_pairs` with ``max_bucket_size`` set and
    ``hot_buckets`` is :func:`minhash_hot_buckets` — guaranteed to share
    the banding parameterization (and the cached index) with the join,
    because both are derived from the same banded index.
    This is the production entry point for capped runs: the cap is never
    silent, and the report can never describe different buckets than the
    join skipped."""
    return _minhash_core(
        df, text_col, id_col, threshold, num_hashes, bands, shingle_n, max_bucket_size
    )


def _minhash_core(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    num_hashes: int,
    bands: int,
    shingle_n: int,
    max_bucket_size: int | None,
    fold: Callable[[Column, int], Column] = _xxhash_fold,
    band_key: Callable[[int, Column], Column] = _xxhash_band_key,
) -> tuple[DataFrame, DataFrame | None]:
    """The one MinHash pipeline — band → cap → self-join → exact-Jaccard
    verify — behind every MinHash pair function. ``fold`` and
    ``band_key`` pick the coin: xxhash64 (the default), or the md5 coin
    of :func:`minhash_md5_pairs` that the SQL twin reproduces.

    Returns (verified_pairs, hot_report_or_None). ONE ``(id, sh, sig)``
    frame is persisted through ``track``, so ``release_session_caches()``
    frees it (SCALING.md's cache contract): the bucket census, both sides
    of the candidate self-join and the verify all read it, so the corpus
    is shingled and signed exactly once."""
    frame = track(
        _shingled(df, text_col, id_col, shingle_n).select(
            F.col(id_col), "sh", fold(F.col("sh"), num_hashes).alias("sig")
        )
    )
    banded = _banded(frame, id_col, num_hashes, bands, band_key)
    report = None
    if max_bucket_size is not None:
        report = _hot_bucket_report(banded, max_bucket_size)
        banded = _drop_hot(banded, ["band", "band_sig"], max_bucket_size)
    verified = (
        _band_pairs(banded, id_col)
        .join(frame.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(frame.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return verified, report


def minhash_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """The persistable MinHash index: ``(banded, shingles)`` where
    ``banded`` is the exploded (id, band, band_sig) LSH table and
    ``shingles`` the (id, sh) distinct-shingle sets for exact verify.
    Write both out (bucketed by (band, band_sig) at scale) and screen
    arrivals against them with :func:`minhash_pairs_incremental` — the
    corpus is hashed ONCE, never re-self-joined per ingest."""
    shingles = _shingled(df, text_col, id_col, shingle_n)
    sigs = shingles.select(F.col(id_col), _xxhash_fold(F.col("sh"), num_hashes).alias("sig"))
    return _banded(sigs, id_col, num_hashes, bands, _xxhash_band_key), shingles


def minhash_pairs_incremental(
    new_docs: DataFrame,
    corpus_banded: DataFrame,
    corpus_shingles: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Screen NEW documents against a persisted banded MinHash index —
    the ingestion-time form of near-dup dedup (the shared-span
    ``shared_span_pairs_incremental`` pattern applied to the flagship
    MinHash family): per-arrival cost is linear in the batch (signature
    fold + band equi-join + exact verify on candidates), the corpus side
    is read-only, and the (num_hashes, bands, shingle_n)
    parameterization MUST match the index build or the band keys are
    meaningless. Returns (new_id, corpus_id, jaccard >= threshold);
    same no-false-positive contract as :func:`minhash_dedup_pairs`.

    ID-SPACE CONTRACT (ADVICE r7): new-doc ids MUST be disjoint from
    corpus ids. Candidates with ``new_id == corpus_id`` are excluded as
    self-matches (re-screening a corpus doc against its own index entry
    is not a dup), so if the ingest id space overlapped the corpus id
    space for DIFFERENT documents, a true near-dup pair whose ids
    happened to collide would be silently dropped — a false negative
    against the screening contract. Callers re-screening mutated corpus
    docs must re-key them (the tests shift ingest ids by 1M/2M).
    """
    new_banded = _minhash_banded(
        new_docs, text_col, id_col, num_hashes, bands, shingle_n
    )
    cands = (
        new_banded.alias("n")
        .join(
            corpus_banded.alias("c"),
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.band_sig") == F.col("c.band_sig")),
        )
        .select(
            F.col(f"n.{id_col}").alias("new_id"),
            F.col(f"c.{id_col}").alias("corpus_id"),
        )
        .filter(F.col("new_id") != F.col("corpus_id"))
        .distinct()
    )
    new_sh = new_docs.select(
        F.col(id_col).alias("new_id"),
        word_shingles(F.col(text_col), shingle_n).alias("sh_n"),
    )
    corpus_sh = corpus_shingles.select(
        F.col(id_col).alias("corpus_id"), F.col("sh").alias("sh_c")
    )
    return (
        cands.join(new_sh, "new_id")
        .join(corpus_sh, "corpus_id")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_n", "sh_c"))
            / F.size(F.array_union("sh_n", "sh_c")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_md5_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signatures on the ENGINE-PORTABLE md5 coin (see
    :func:`_md5_fold`): the hash_coin / token_bucket md5 road, so ANY SQL
    engine reproduces the identical signature, banded candidate set, and
    therefore verified pair list. The xxhash64 variant
    (:func:`minhash_signatures`) stays the production default
    (JVM-native hash, ~md5-free per-shingle cost); this coin exists so
    the flagship near-dup operator has a FULL value-equality oracle
    instead of a rows-only grade — recall parity between the two coins
    is pinned on the Zipf corpus (tests/test_zipf_dedup.py).
    """
    return _shingled(df, text_col, id_col, shingle_n).select(
        F.col(id_col), _md5_fold(F.col("sh"), num_hashes).alias("sig")
    )


def minhash_md5_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """D3 — near-dup pairs via md5-coin MinHash + LSH banding, verified
    with the true Jaccard (same contract as :func:`minhash_dedup_pairs`:
    (id_a, id_b, jaccard), id_a < id_b, jaccard >= threshold, no false
    positives; recall = the (bands, rows) LSH curve).

    The same pipeline as :func:`minhash_dedup_pairs` (``_minhash_core``)
    with the md5 signature fold and band keys that are the PLAIN
    space-joined decimal strings of each band's signature slice. Every
    value here (md5 → 60-bit long → min → string key → equi-join → exact
    Jaccard) is reproducible in ANSI-ish SQL, which is the whole point: an
    oracle grade of the catalog entry is a value-equality proof over the
    complete LSH pipeline, not just a row count.

    ``max_bucket_size`` applies the same WHOLE-BUCKET drop as
    :func:`minhash_dedup_pairs`. The drop is a pure function of the
    deterministic signatures — no coin, no sampling — so the capped
    pipeline keeps the full cross-engine value oracle: the capped
    production entry's grade is a value proof of the cap mechanism
    itself, not a rows-only count.

    Ids are assumed non-null (the corpus primary key): rows with a null
    ``id_col`` are filtered out before signing, so they never enter the
    bucket census, the cap, or the pair output.
    """
    return _minhash_core(
        df.filter(F.col(id_col).isNotNull()),
        text_col,
        id_col,
        threshold,
        num_hashes,
        bands,
        shingle_n,
        max_bucket_size,
        fold=_md5_fold,
        band_key=_md5_band_key,
    )[0]


def contamination_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    min_shared: int = 3,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Benchmark decontamination — corpus docs sharing ``>= min_shared``
    distinct word n-gram shingles with any benchmark doc.

    Shingle inverted-index equi-join (never corpus × benchmark): the
    benchmark side is typically tiny relative to the corpus, so Catalyst
    broadcasts its exploded shingle index and the corpus side never
    shuffles. Returns (corpus_id, bench_id, shared_shingles).

    ``max_doc_freq`` drops shingles whose CORPUS document frequency
    exceeds the cap before the join (see :func:`shingle_index`): a
    stop-phrase shared by k corpus docs and any benchmark doc fans out
    k-fold per benchmark hit, and at 100 TB such phrases dominate the
    join while certifying nothing — with the cap, evidence counts only
    RARE shared shingles, which is the semantics a decontamination pass
    wants anyway.
    """
    c = shingle_index(corpus, text_col, id_col, shingle_n, max_doc_freq).select(
        F.col(id_col).alias("corpus_id"), "shingle"
    )
    b = benchmark.select(
        F.col(id_col).alias("bench_id"),
        F.explode(word_shingles(F.col(text_col), shingle_n)).alias("shingle"),
    )
    return (
        c.join(b, "shingle")
        .groupBy("corpus_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
        .filter(F.col("shared_shingles") >= min_shared)
    )


def simhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 64,
    feature: str = "token",
    shingle_n: int = 3,
) -> DataFrame:
    """64-bit SimHash per doc: per-bit majority vote over feature hashes.

    ``feature``: ``"token"`` votes one ±1 vector per token OCCURRENCE —
    cheap, but on Zipfian text the stopword head dominates the counters
    and unrelated documents land within a few hamming bits of each other
    (measured on the 12k-vocab corpus: hamming<=3 admits millions of
    non-duplicate pairs). ``"shingle"`` votes per DISTINCT word
    ``shingle_n``-gram — the features are nearly unique per document, so
    signatures are close only when the documents genuinely share
    content. Use shingles for near-dup detection on natural text; tokens
    only when the corpus vocabulary is known to be high-entropy.

    Single-pass array fold like ``minhash_signatures``: feature →
    xxhash64 once, then ``zip_with`` adds its ±1 bit-vector into a
    64-counter accumulator; the sign vector packs back into one long
    (shiftleft keeps bit 63 in JVM long space — a Python 1<<63 literal
    overflows the signed py4j boundary). No explode, no shuffle.
    """
    if feature == "shingle":
        feats = word_shingles(F.col(text_col), shingle_n)
    elif feature == "token":
        feats = tokens(clean_text(F.col(text_col)))
    else:
        raise ValueError(f"unknown simhash feature: {feature}")
    counters = F.aggregate(
        F.transform(feats, lambda t: F.xxhash64(t)),
        F.array_repeat(F.lit(0).cast("long"), bits),
        # bit loops unrolled with literal indices (shiftright's bit count
        # must be a Python int); ±1 via bit*2-1
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    (F.shiftright(h, i).bitwiseAND(F.lit(1)) * 2 - 1).cast("long")
                    for i in range(bits)
                ]
            ),
            lambda a, b: a + b,
        ),
    )
    with_counters = _spread(df.select(F.col(id_col), F.col(text_col)), id_col).select(
        F.col(id_col), counters.alias("cnt")
    )
    packed = sum(
        [
            F.when(
                F.element_at("cnt", i + 1) > 0, F.shiftleft(F.lit(1).cast("long"), i)
            ).otherwise(F.lit(0).cast("long"))
            for i in range(bits)
        ],
        F.lit(0).cast("long"),
    )
    return with_counters.select(F.col(id_col), packed.alias("simhash"))


def simhash_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    feature: str = "token",
    shingle_n: int = 3,
    blocks: tuple[int, int] | None = None,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Default banding is the PIGEONHOLE split: 64 bits into ``bands``
    chunks; any pair within hamming d < bands shares at least one exact
    chunk → equi-join per chunk, then exact popcount verify. No
    all-pairs scan — but the chunk space is only ``2^(64/bands)``
    (65,536 values at bands=4), so once the corpus outgrows it, birthday
    collisions make the candidate join quadratic again (measured on the
    52k-doc Zipfian corpus: the pigeonhole join materializes tens of
    millions of candidates).

    ``blocks=(m, k)`` switches to MULTI-INDEX banding (Norouzi et al.,
    "Fast Search in Hamming Space with Multi-Index Hashing", CVPR'12):
    split 64 bits into ``m`` blocks; a pair within hamming d touches at
    most d blocks, so it agrees on some ``k <= m - d`` block subset —
    join once per C(m, k) subset on the simhash MASKED to that subset's
    bits. Same exactness guarantee (no candidate within the radius is
    ever missed), but the join key carries ``k * 64/m`` bits (40 at
    (8,5)) instead of 16, so buckets stay sparse at corpus scale. Cost:
    C(m, k) index rows per doc (56 at (8,5)) — the classic
    index-size-for-join-sparsity trade. Requires ``k <= m - max_hamming``.

    ``feature="shingle"`` is the recommended pairing for natural text
    (see :func:`simhash_signatures`): distinctive features keep
    signatures — and therefore buckets — uncorrelated.

    SCOPE (measured on the Zipfian corpus, BASELINE.md): with honest
    (shingle) features, hamming<=3 on 64 bits certifies only
    NEAR-IDENTICAL documents — exact dups and boilerplate with a few
    edited tokens (recall 1.0 on planted exact dups, 15k pairs, 25 s).
    A 2% token mutation already costs ~7 expected hamming bits, so
    Jaccard-0.7..0.9 near-dups are OUT of simhash's radius; use
    :func:`minhash_dedup_pairs` for those (planted-band recall 1.0).
    Token features appear to widen the radius but only via correlated
    signatures, which simultaneously admit millions of false candidate
    pairs (8.4M at 52k docs) — a precision collapse, not recall.
    """
    sigs = simhash_signatures(df, text_col, id_col, feature=feature, shingle_n=shingle_n)
    if blocks is not None:
        from itertools import combinations

        m, k = blocks
        if 64 % m != 0:
            raise ValueError(f"blocks m={m} must divide 64")
        if k > m - max_hamming:
            raise ValueError(
                f"blocks=(m={m}, k={k}) cannot certify hamming<= {max_hamming}: "
                f"need k <= m - max_hamming = {m - max_hamming}"
            )
        width = 64 // m
        block_mask = (1 << width) - 1
        combo_masks = []
        for combo in combinations(range(m), k):
            mask_val = 0
            for b in combo:
                mask_val |= block_mask << (b * width)
            # Python ints with bit 63 set overflow the signed py4j long
            # boundary — wrap to two's complement
            if mask_val >= 1 << 63:
                mask_val -= 1 << 64
            combo_masks.append(mask_val)
        chunks = F.array(
            *[
                F.struct(
                    F.lit(i).alias("band"),
                    F.col("simhash").bitwiseAND(F.lit(mask_val)).alias("chunk"),
                )
                for i, mask_val in enumerate(combo_masks)
            ]
        )
    else:
        width = 64 // bands
        mask = (1 << width) - 1
        chunks = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright(F.col("simhash"), b * width).bitwiseAND(F.lit(mask)).alias("chunk"),
                )
                for b in range(bands)
            ]
        )
    banded = track(
        sigs.select(F.col(id_col), F.col("simhash"), F.explode(chunks).alias("c"))
        .select(id_col, "simhash", F.col("c.band").alias("band"), F.col("c.chunk").alias("chunk"))
    )
    l, r = banded.alias("l"), banded.alias("r")
    cands = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l.simhash").alias("sig_a"),
            F.col("r.simhash").alias("sig_b"),
        )
        .distinct()
    )
    return (
        cands.withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via a shingle inverted index.

    explode shingles → self-join on shingle (the inverted index) →
    count shared shingles per pair → jaccard = shared/(|A|+|B|-shared).
    Only pairs sharing ≥1 shingle are ever materialized.

    ``max_doc_freq`` bounds the self-join fan-out (see
    :func:`shingle_index`): candidates come from the CAPPED index — a
    shingle in k docs contributes at most cap·(cap-1)/2 pairs instead of
    k·(k-1)/2 — and the reported Jaccard is then verified EXACTLY over
    the full shingle arrays, so capping never distorts a reported value;
    it can only miss pairs whose entire overlap is ubiquitous
    boilerplate (which a near-dup pass should not pair on anyway).
    """
    if max_doc_freq is None:
        sh = track(_spread(df.select(F.col(id_col), F.col(text_col)), id_col).select(
            F.col(id_col), F.explode(word_shingles(F.col(text_col), n)).alias("shingle")
        ))
        sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
        l, r = sh.alias("l"), sh.alias("r")
        shared = (
            l.join(r, (F.col("l.shingle") == F.col("r.shingle")) & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
            .groupBy(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("shared"))
        )
        return (
            shared.join(sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("na")), "id_a")
            .join(sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb")), "id_b")
            .withColumn("jaccard", F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        )
    idx = track(shingle_index(df, text_col, id_col, n, max_doc_freq))
    l, r = idx.alias("l"), idx.alias("r")
    cands = (
        l.join(r, (F.col("l.shingle") == F.col("r.shingle")) & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )
    full = track(_spread(df.select(F.col(id_col), F.col(text_col)), id_col).select(
        F.col(id_col), word_shingles(F.col(text_col), n).alias("sh")
    ))
    return (
        cands.join(full.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(full.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def _srp_candidates(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    planes: Sequence[Sequence[float]],
    bands: int,
    max_bucket_size: int | None,
) -> DataFrame:
    """The one banded SRP-LSH kernel: distinct candidate pairs
    ``(id_a, id_b, _va, _vb)``, id_a < id_b, with both vectors attached
    for the caller's exact-cosine verify.

    ``planes`` is the hyperplane matrix (one row per sign bit, ``dim``
    entries each), injected as a literal: ``transform`` over it folds
    each plane against the vector in ONE expression (pure codegen, no
    UDF, a LEFT FOLD from a 0.0 seed, so IEEE summation order is fixed
    and matches any engine folding the same way). The sign bits are
    packed into ``bands`` r-bit band signatures, r = len(planes)/bands;
    the banded frame is persisted through ``track`` (it feeds the
    hot-bucket census plus both self-join sides — three reads).

    ``max_bucket_size`` drops whole over-full (band, band_sig) buckets:
    r-bit signatures give only 2^r buckets per band, so on UNSTRUCTURED
    corpora bucket occupancy grows ~n/2^r and the candidate self-join
    grows QUADRATICALLY in corpus size — the cap bounds it structurally.
    On dup-structured corpora genuine near-dup clusters are small and
    survive; uniform mass is what sheds.
    """
    r_bits = len(planes) // bands
    vec = F.col(vec_col).cast("array<double>")
    planes_lit = F.array(
        *[F.array(*[F.lit(float(x)) for x in row]) for row in planes]
    )
    dots = F.transform(
        planes_lit,
        lambda p: F.aggregate(
            F.zip_with(vec, p, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    band_sigs = F.array(
        *[
            sum(
                (
                    F.when(
                        F.element_at("_dots", b * r_bits + j + 1) > 0,
                        F.lit(1 << j),
                    ).otherwise(F.lit(0))
                    for j in range(r_bits)
                ),
                F.lit(0),
            )
            for b in range(bands)
        ]
    )
    banded = track(df.select(F.col(id_col), dots.alias("_dots")).select(
        F.col(id_col), F.posexplode(band_sigs).alias("band", "band_sig")
    ))
    if max_bucket_size is not None:
        banded = _drop_hot(banded, ["band", "band_sig"], max_bucket_size)
    vecs = df.select(F.col(id_col), F.col(vec_col))
    return (
        _band_pairs(banded, id_col)
        .join(vecs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va")), "id_a")
        .join(vecs.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb")), "id_b")
    )


def embedding_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    num_planes: int = 64,
    bands: int = 8,
    seed: int = 42,
    dim: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding cosine near-dup via BANDED random-hyperplane LSH.

    ``num_planes`` sign bits (bit i = sign(v · plane_i)) split into
    ``bands`` band signatures of ``r = num_planes/bands`` bits each; a
    pair is a candidate if ANY band matches exactly (equi-self-join on
    (band, band_sig), the MinHash-LSH shape), then verified with EXACT
    cosine — no false positives ever; recall is the banding curve
    1-(1-p^r)^b with p = 1 - θ/π. At cosine 0.95 (θ≈0.318, p≈0.899) the
    default r=8, b=8 gives ≈0.99 recall vs ≈0.10 for the old single
    16-bit full-signature bucket. ``r`` sets bucket granularity (2^r
    buckets per band bounds unrelated-pair collisions), ``b`` buys back
    recall: at corpus scale raise BOTH (r=16, b=12 keeps recall ≈0.90
    with 65536 buckets per band). Planes are Gaussian, a deterministic
    function of (seed, dim) so runs reproduce. ``max_bucket_size`` is the
    whole-bucket drop of :func:`_srp_candidates`.
    """
    import numpy as np

    from ..functions.arrays import cosine_similarity

    if num_planes % bands != 0:
        raise ValueError("num_planes must be divisible by bands")
    if dim is None:
        # One-row peek only as a fallback; callers on hot paths should pass
        # dim explicitly (schema metadata can't carry array length).
        row = df.select(vec_col).first()
        if row is None or row[0] is None:
            return (
                df.select(
                    F.col(id_col).alias("id_a"),
                    F.col(id_col).alias("id_b"),
                    F.lit(0.0).alias("cosine"),
                ).limit(0)
            )
        dim = len(row[0])
    planes = np.random.default_rng(seed).standard_normal((num_planes, dim))
    return (
        _srp_candidates(df, vec_col, id_col, planes, bands, max_bucket_size)
        .select(
            "id_a",
            "id_b",
            F.round(cosine_similarity(F.col("_va"), F.col("_vb")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def embedding_dup_md5_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.35,
    num_planes: int = 16,
    bands: int = 8,
    dim: int = 64,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding near-dup via banded SRP-LSH on the ENGINE-PORTABLE md5
    coin — the :func:`minhash_md5_pairs` move applied to the hyperplane
    family, so the LAST rows-only approximate-dedup shape gains a FULL
    value-equality oracle.

    Plane p's component d is a Rademacher ±1 coin (a standard signed
    random projection; Achlioptas 2003 shows ±1 entries preserve the
    Gaussian family's guarantees): +1 iff the first hex digit of
    md5("srp:<p>:<d>") is odd. Every step — coin, per-plane dot product
    (LEFT FOLD, so IEEE summation order matches cross-engine), sign
    bits, r-bit band signatures, candidate equi-join, exact-cosine
    verify — is reproducible in DuckDB SQL, so a driver grade proves the
    whole pipeline's VALUES, not a row count. Float parity holds because
    both engines fold double products left-to-right from a 0.0 seed:
    identical op sequence → bit-identical doubles → identical signs.

    The coin is a pure function of (plane, dim) — NOT of the row — so it
    is hoisted driver-side with hashlib.md5 (bit-identical to
    Spark's/DuckDB's md5 of the same string) and injected as literal
    ±1.0 arrays; Spark pays no md5 per row, while the DuckDB oracle still
    derives the same coins via md5() in SQL.

    The Gaussian-plane variant (:func:`embedding_dup_pairs`) stays the
    production default with recall pinned by tests/test_dedup.py; both
    run the same banding kernel (:func:`_srp_candidates`). This verify
    filters on the RAW cosine and rounds only the reported value.
    """
    import hashlib

    from ..functions.arrays import cosine_similarity

    if num_planes % bands != 0:
        raise ValueError("num_planes must be divisible by bands")

    def _coin(p: int, d: int) -> float:
        h = hashlib.md5(f"srp:{p}:{d}".encode()).hexdigest()
        return 1.0 if int(h[0], 16) % 2 == 1 else -1.0

    planes = [[_coin(p, d) for d in range(dim)] for p in range(num_planes)]
    raw_cos = cosine_similarity(F.col("_va"), F.col("_vb"))
    return (
        _srp_candidates(df, vec_col, id_col, planes, bands, max_bucket_size)
        .filter(raw_cos >= threshold)
        .select("id_a", "id_b", F.round(raw_cos, 6).alias("cosine"))
    )


def jaccard_prefix_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via PREFIX FILTERING (the All-Pairs /
    PPJoin family: Bayardo et al. WWW'07, Xiao et al. WWW'08).

    Same output as :func:`ngram_jaccard_pairs` — every pair with true
    Jaccard >= threshold, no misses — from a fraction of the inverted
    index: order each doc's shingles by ascending GLOBAL document
    frequency (ties by shingle), and index only the first
    ``|A| - ceil(t*|A|) + 1`` of them. Two sets with Jaccard >= t must
    overlap in >= t/(1+t)*(|A|+|B|) elements, so they cannot avoid each
    other's prefixes — sharing a prefix shingle is NECESSARY, making
    this lossless, unlike MinHash banding. Because prefixes hold each
    doc's RAREST shingles, hot boilerplate shingles fall out of the
    index entirely for long docs — the same quadratic fan-out the
    max_doc_freq cap fights, but with zero recall cost and no tuning
    knob. The length filter least(na,nb) >= t*greatest(na,nb) prunes
    candidates before the verify join. Candidates still verify against
    full shingle arrays, so reported values are exact.

    Scale shape: one groupBy for document frequencies, one per-doc
    window (bottom-prefix_len by (df, shingle) — a keyed shuffle of the
    exploded index, no array rebuild), a self-equi-join on the (much
    smaller) prefix index, then the usual verify joins. The window form
    is ~2x the collect_list+re-sort form it replaced: rows stay narrow
    through the shuffle and never round-trip through an array.

    MEASURED default guidance (Zipfian corpus, BASELINE.md round 5): on
    natural text this is both LOSSLESS and FASTER than the df-capped
    inverted index (14.1 s vs 28.4 s at t=0.7 on 52k docs, complete
    pair set including boilerplate clusters) — prefer it when every
    pair matters. The 31-token driver fixture is its worst case
    (no rare shingles → nothing prunes); the df cap remains the right
    tool when boilerplate mass is pathological and rare-shingle
    evidence is the wanted semantics.
    """
    if not 0 < threshold <= 1:
        raise ValueError("threshold must be in (0, 1]")
    from pyspark.sql import Window

    base = track(_spread(df.select(F.col(id_col), F.col(text_col)), id_col).select(
        F.col(id_col), word_shingles(F.col(text_col), n).alias("sh")
    ))
    sh = base.select(F.col(id_col), F.explode("sh").alias("shingle"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    w = Window.partitionBy(id_col).orderBy("_df", "shingle")
    wc = Window.partitionBy(id_col)
    prefix_len = F.col("_n") - F.ceil(F.lit(threshold) * F.col("_n")).cast("int") + 1
    pre = (
        sh.join(dfreq, "shingle")
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(wc))
        .filter(F.col("_rn") <= prefix_len)
        .select(F.col(id_col), F.col("_n"), "shingle")
    )
    l, r = pre.alias("l"), pre.alias("r")
    cands = (
        l.join(
            r,
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
            & (
                F.least(F.col("l._n"), F.col("r._n"))
                >= F.lit(threshold) * F.greatest(F.col("l._n"), F.col("r._n"))
            ),
        )
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )
    return (
        cands.join(base.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(base.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def winnowed_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    include_pos: bool = False,
) -> DataFrame:
    """Winnowed rolling-window fingerprints: the scalable index behind
    exact-SUBSTRING dedup (round-6 ⊕; no reference-repo counterpart —
    this is the repeated-span detector the n-gram/MinHash family cannot
    express, since those compare token BAGS, not contiguous runs).

    Per document, every k-token window is hashed (md5 of the
    space-joined window — engine-portable, so a SQL oracle computes the
    same bits), then WINNOWED (Schleimer-Wilkerson-Aiken, SIGMOD'03):
    for EVERY run of ``w`` consecutive window hashes, select that run's
    minimum (ties broken by leftmost position — deterministic and
    identical to a SQL struct-min). Guarantee: any contiguous span of
    at least ``k + w - 1`` tokens shared by two documents contains a
    full w-run of in-span hashes, whose minimum hash is selected in
    BOTH documents — the downstream equi-join cannot miss a long shared
    span (no probabilistic recall bound; exact for the span length).
    NOTE the selection must be per-WINDOW argmin, not "position equals
    min of its trailing window": the latter lets a smaller OFF-span
    hash suppress the in-span minimum in one document only, silently
    breaking the guarantee (caught by
    tests/test_dedup.py::test_shared_span_guarantee_and_edges).

    Scale shape: hashing AND selection are row-local array expressions
    (one pass, no token-stream shuffle); only the ~2/(w+1)-dense
    selected fingerprints are exploded. Returns DISTINCT
    (id_col, fp) — a document repeating its own span indexes it once —
    or, with ``include_pos``, (id_col, fp, pos) where pos is the
    print's FIRST 1-based window position (span localization for
    cleaners).
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")

    def fps_of(t: Column) -> Column:
        n = F.size(t)
        # Round-14: the per-position slice-in-transform form
        # (transform(positions, i -> md5(concat_ws(" ", slice(t, i,
        # k))))) allocated a k-element array per position on a
        # non-codegen path; the zip_with fold below builds the same
        # k-gram strings with k-1 array copies total — 6.7-7.5 ->
        # 1.7-2.0 s for the k=8 hash pass over the Zipf corpus,
        # fingerprints identical on every document (and on empty/short
        # docs: the n >= k guard keeps the same empty-array contract).
        grams = t
        for j in range(1, k):
            grams = F.zip_with(
                grams,
                F.slice(t, j + 1, F.greatest(n - j, F.lit(0))),
                lambda x, y: F.concat_ws(" ", x, y),
            )
        # The whole fold sits INSIDE the n >= k branch: CASE WHEN
        # short-circuits per row, so docs shorter than the span skip the
        # k-1 zip_with passes entirely (the old sequence form's empty-
        # positions fast path, restored).
        grams = F.when(n >= k, F.slice(grams, 1, n - k + 1)).otherwise(
            F.array().cast("array<string>")
        )
        return F.transform(grams, lambda g: F.md5(g))

    # Both HOF results are bound once (F.transform(F.array(x))[0]): the
    # token split and the hash array would otherwise re-evaluate per
    # reference across the HOF boundary (the lang_id lesson).
    fps = F.transform(F.array(toks), fps_of)[0]

    def selected(fp: Column) -> Column:
        m = F.size(fp)
        # Window starts 1..m-w+1; a doc with 1 <= m < w hashes gets one
        # (short) window over all of them, so it still indexes its min.
        starts = F.when(
            m >= 1, F.sequence(F.lit(1), F.greatest(m - w + 1, F.lit(1)))
        ).otherwise(F.array().cast("array<int>"))
        wins = F.transform(
            starts,
            lambda s: F.array_min(
                F.transform(
                    F.sequence(s, F.least(s + w - 1, m)),
                    lambda j: F.struct(
                        F.element_at(fp, j).alias("f"), j.alias("p")
                    ),
                )
            ),
        )
        return F.array_distinct(wins)

    sel = F.transform(F.array(fps), selected)[0]
    exploded = (
        _spread(docs.select(F.col(id_col), sel.alias("_sel")), id_col)
        .select(id_col, F.explode("_sel").alias("s"))
        .select(
            id_col,
            F.col("s.f").alias("fp"),
            F.col("s.p").cast("long").alias("pos"),
        )
    )
    if include_pos:
        # One row per (doc, print) with its FIRST window position —
        # deterministic, and the groupBy reuses _spread's id
        # partitioning (ClusteredDistribution(id, fp) is satisfied by
        # HashPartitioning(id)): no extra exchange.
        return exploded.groupBy(id_col, "fp").agg(F.min("pos").alias("pos"))
    return exploded.select(id_col, "fp").distinct()


def shared_span_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    max_doc_freq: int | None = None,
    min_shared: int = 2,
) -> DataFrame:
    """Exact shared-span (repeated-substring) duplicate pairs.

    Document pairs sharing at least ``min_shared`` distinct winnowed
    window fingerprints — i.e. pairs with long VERBATIM overlapping
    runs (boilerplate, licence blocks, copy-paste, near-identical
    revisions), which bag-of-shingles similarity dilutes away on long
    documents. Built on :func:`winnowed_fingerprints` (guarantee: a
    shared contiguous run of ≥ k+w-1 tokens is never missed).

    ``max_doc_freq`` drops fingerprints selected by MORE than that many
    documents before the self-join (the hot-shingle cap pattern:
    corpus-wide boilerplate would otherwise fan out quadratically in
    one bucket; the drop is deterministic and the cap is the df table's
    own aggregate — no second index build). The pair join is an
    equi-join on the fingerprint, never all-pairs.

    Returns (doc_a, doc_b, n_shared_fps), doc_a < doc_b.
    """
    sel = winnowed_fingerprints(docs, text_col, id_col, k, w)
    if max_doc_freq is not None:
        sel = _drop_hot(sel, ["fp"], max_doc_freq)
    a = sel.select(F.col(id_col).alias("doc_a"), F.col("fp").alias("fp_a"))
    b = sel.select(F.col(id_col).alias("doc_b"), F.col("fp").alias("fp_b"))
    return (
        a.join(
            b,
            (F.col("fp_a") == F.col("fp_b")) & (F.col("doc_a") < F.col("doc_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= min_shared)
    )


def shared_span_regions(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    max_doc_freq: int | None = None,
    min_shared: int = 2,
) -> DataFrame:
    """:func:`shared_span_pairs` with SPAN LOCALIZATION — the bounds a
    cleaner needs to actually CUT the shared region (licence header,
    boilerplate block) rather than drop a whole document.

    For each qualifying pair, reports the convex hull of the matched
    window positions on each side: ``a_start``..``a_end`` (1-based
    token offsets, end inclusive = last matched window start + k - 1)
    and likewise ``b_start``/``b_end``. Honest scoping: the hull of
    MULTIPLE disjoint shared regions overestimates (one interval is
    reported, not a list) — for the dominant use cases (one licence
    block / one copied passage) the hull IS the region, and the
    ``n_shared_fps`` count tells a cleaner how contiguous the evidence
    is. All-aggregate shape (min/max over the same fingerprint join as
    the pair variant), so the full result is SQL-oracle-checkable.
    """
    sel = winnowed_fingerprints(docs, text_col, id_col, k, w, include_pos=True)
    if max_doc_freq is not None:
        sel = _drop_hot(sel, ["fp"], max_doc_freq)
    a = sel.select(
        F.col(id_col).alias("doc_a"), F.col("fp").alias("fp_a"), F.col("pos").alias("pos_a")
    )
    b = sel.select(
        F.col(id_col).alias("doc_b"), F.col("fp").alias("fp_b"), F.col("pos").alias("pos_b")
    )
    return (
        a.join(
            b,
            (F.col("fp_a") == F.col("fp_b")) & (F.col("doc_a") < F.col("doc_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared_fps"),
            F.min("pos_a").alias("a_start"),
            (F.max("pos_a") + k - 1).alias("a_end"),
            F.min("pos_b").alias("b_start"),
            (F.max("pos_b") + k - 1).alias("b_end"),
        )
        .filter(F.col("n_shared_fps") >= min_shared)
    )


def shared_span_pairs_incremental(
    new_docs: DataFrame,
    corpus_prints: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    max_doc_freq: int | None = None,
    min_shared: int = 2,
) -> DataFrame:
    """Incremental shared-span screening: a NEW batch against a
    PERSISTED print index — the deployment shape at 100 TB, where the
    corpus's winnowed index (:func:`winnowed_fingerprints` output,
    written out bucketed by ``fp``) is maintained once and each
    arriving batch joins against it instead of re-self-joining the
    corpus. Cost is |batch index| ⋈ |corpus index| on the fingerprint
    key — linear in the batch, never quadratic in the corpus.

    ``corpus_prints``: (id, fp) as produced by ``winnowed_fingerprints``
    with the SAME (k, w) — the guarantee only composes across equal
    parameters. ``max_doc_freq`` caps on the CORPUS side's document
    frequency (the side that has boilerplate mass). Returns
    (new_id, corpus_id, n_shared_fps); a doc id present in both inputs
    is reported like any other collision — pre-filter if re-screening
    in-place.
    """
    new_prints = winnowed_fingerprints(new_docs, text_col, id_col, k, w)
    if max_doc_freq is not None:
        corpus_prints = _drop_hot(corpus_prints, ["fp"], max_doc_freq)
    n = new_prints.select(F.col(id_col).alias("new_id"), F.col("fp").alias("fp_n"))
    c = corpus_prints.select(
        F.col(id_col).alias("corpus_id"), F.col("fp").alias("fp_c")
    )
    return (
        n.join(c, F.col("fp_n") == F.col("fp_c"))
        .groupBy("new_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= min_shared)
    )


# ---------------------------------------------------------------------------
# Cross-document line-level dedup (CCNet / RefinedWeb-style boilerplate
# removal): drop every line that occurs in >= min_doc_freq distinct docs,
# keeping each surviving doc's remaining lines in original order.
# ---------------------------------------------------------------------------


def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_doc_freq: int = 2,
    delimiter: str = "\n",
) -> DataFrame:
    """Remove boilerplate lines shared across documents (CCNet-style).

    A "line" is a ``delimiter``-separated segment; its document frequency
    is the number of DISTINCT docs containing it. Lines with doc_freq >=
    ``min_doc_freq`` are dropped everywhere; each doc's survivors are
    re-joined in original position order. Returns
    ``(id, n_lines, n_kept, text_clean)`` for EVERY input doc (a doc whose
    lines are all boilerplate comes back with ``text_clean = ''``, it is
    never silently lost).

    Execution shape (scale-first): posexplode lines (narrow) -> ONE
    shuffle aggregates per-line doc frequency -> equi-join frequency back
    onto the exploded lines (AQE broadcasts it when the distinct-line set
    is small) -> ONE grouped reassembly per doc. Frequency is keyed by
    the line text itself so the join needs no driver-side state; at
    100 TB this is the standard sharded line-hash removal, with the
    line string as the shard key.
    """
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), delimiter)).alias("pos", "line"),
    )
    freq = lines.groupBy("line").agg(
        F.countDistinct(id_col).alias("line_doc_freq")
    )
    kept = (
        lines.join(freq, "line")
        .select(
            id_col,
            "pos",
            "line",
            (F.col("line_doc_freq") < F.lit(min_doc_freq)).alias("is_kept"),
        )
    )
    return kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.count_if(F.col("is_kept")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("is_kept"), F.struct(F.col("pos"), F.col("line")))
                    )
                ),
                lambda s: s["line"],
            ),
            delimiter,
        ).alias("text_clean"),
    )


def semdedup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_clusters: int = 64,
    kmeans_iters: int = 1,
    nprobe: int = 1,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic near-dup
    pairs via k-means cluster-bounded EXACT cosine.

    The quadratic pair space is bounded by clustering first: k-means
    partitions the corpus (deterministic hash-spread seeds +
    ``kmeans_iters`` Lloyd rounds, all DataFrame ops — see
    ``similarity.kmeans_refine``), then pairs are generated ONLY within
    a cluster (equi-self-join on centroid_id, id_a < id_b) and verified
    with exact cosine — no false positives ever; misses are exactly the
    dup pairs k-means splits across clusters (the paper's documented
    recall trade). ``nprobe > 1`` assigns each vector to its top-nprobe
    centroids — the multi-probe fix for boundary splits: a pair is a
    candidate if ANY probed cluster is shared, which on near-isotropic
    64-d vectors lifts 0.99-cosine recall from ~0.9 to ~1.0 at ~nprobe²×
    join cost (measured, tests/test_semdedup.py).

    Scale contract (100 TB): keep k ∝ corpus size so expected cluster
    size n/k stays constant — the join cost is Σ|cluster|², linear in n
    at fixed n/k. A runaway cluster (embedding-space hub) is bounded by
    ``max_cluster_size``: clusters over the cap are deterministically
    truncated to the ``max_cluster_size`` lowest-md5(id) members per
    probed cluster for pair generation (same convention as the MinHash
    hot-bucket cap — truncation is by stable hash, never by physical
    row order).

    Returns ``(id_a, id_b, cosine)``.
    """
    from pyspark.sql import Window

    from ..functions.arrays import cosine_similarity
    from .similarity import kmeans_refine, sample_centroids

    cents = sample_centroids(df, num_clusters, corpus_id=id_col, corpus_vec=vec_col)
    if kmeans_iters > 0:
        cents = kmeans_refine(
            df, cents, iterations=kmeans_iters, corpus_id=id_col, corpus_vec=vec_col
        )
    # Top-nprobe assignment via a LITERAL centroid matrix (the PQ-codebook
    # precedent: k·dim floats is driver-bounded by construction, so the
    # collect is legitimate). All k cosines per vector fold in ONE codegen
    # expression over the row — the corpus is never duplicated k ways the
    # way a crossJoin-with-centroids would; it stays narrow until the
    # (centroid_id)-keyed candidate join below. Together with the
    # hoisted-norm pair verify this took the 21k-vector Zipf run from
    # 171 s to 55 s (k=128, nprobe=2).
    cent_rows = sorted(
        cents.select("centroid_id", "centroid_vec").collect(),
        key=lambda r: r.centroid_id,
    )
    if not cent_rows:
        return df.select(
            F.col(id_col).alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.lit(0.0).alias("cosine"),
        ).limit(0)
    cent_ids = F.array(*[F.lit(int(r.centroid_id)) for r in cent_rows])
    cent_mat = F.array(
        *[F.array(*[F.lit(float(x)) for x in r.centroid_vec]) for r in cent_rows]
    )
    vec = F.col(vec_col).cast("array<double>")
    scores = F.transform(cent_mat, lambda c: cosine_similarity(vec, c))
    exploded = df.select(
        F.col(id_col), F.posexplode(scores).alias("__pos", "__score")
    )
    wp = Window.partitionBy(id_col).orderBy(F.desc("__score"), F.asc("__pos"))
    assigned = (
        exploded.withColumn("__r", F.row_number().over(wp))
        .filter(F.col("__r") <= nprobe)
        .select(
            F.col(id_col),
            F.element_at(cent_ids, F.col("__pos") + 1).alias("centroid_id"),
        )
    )
    if max_cluster_size is not None:
        wc = Window.partitionBy("centroid_id").orderBy(
            F.md5(F.col(id_col).cast("string"))
        )
        assigned = (
            assigned.withColumn("__r", F.row_number().over(wc))
            .filter(F.col("__r") <= max_cluster_size)
            .drop("__r")
        )
    left = assigned.select(F.col("centroid_id"), F.col(id_col).alias("id_a"))
    right = assigned.select(F.col("centroid_id"), F.col(id_col).alias("id_b"))
    cands = (
        left.join(right, "centroid_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()  # a pair sharing several probed clusters verifies once
    )
    # Norms hoisted per ROW before the pair join (brute_force_topk
    # pattern): each of the |pairs| verifications then costs one dot
    # product instead of dot + two norms — ~3× less HOF work on the
    # dominant stage.
    from ..functions.arrays import cosine_from_norms, dot_product, l2_norm

    vecs = df.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__v"),
        l2_norm(F.col(vec_col).cast("array<double>")).alias("__n"),
    )
    return (
        cands.join(
            vecs.select(
                F.col(id_col).alias("id_a"),
                F.col("__v").alias("_va"),
                F.col("__n").alias("_na"),
            ),
            "id_a",
        )
        .join(
            vecs.select(
                F.col(id_col).alias("id_b"),
                F.col("__v").alias("_vb"),
                F.col("__n").alias("_nb"),
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(
                cosine_from_norms(
                    dot_product(F.col("_va"), F.col("_vb")),
                    F.col("_na"),
                    F.col("_nb"),
                ),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def semdedup_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "vec_id",
) -> DataFrame:
    """Keep one representative per semantic-dup group.

    ``pairs`` is the output of :func:`semdedup_pairs` (or any
    (id_a, id_b) edge list). Transitive closure via
    ``clusters.connected_components`` (a~b, b~c collapse even when a~c
    was split across clusters and never emitted), survivor = the
    component's min id — the repo-wide dedup convention. Rows not in any
    pair pass through untouched; output schema = input schema.
    """
    from .clusters import connected_components

    comps = connected_components(pairs)
    losers = comps.filter(F.col("comp") != F.col("id")).select("id")
    return df.join(
        losers, df[id_col] == losers["id"], "left_anti"
    )


def passjoin_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    max_dist: int = 1,
) -> DataFrame:
    """Edit-distance self-join with LOSSLESS segment blocking — PassJoin
    (Li, Deng, Feng, VLDB 2011), the edit-distance sibling of the
    prefix-filtered Jaccard join (jaccard_prefix_pairs).

    Pigeonhole: partition a string into ``max_dist + 1`` segments; at
    most ``max_dist`` edit operations can touch at most ``max_dist``
    segments, so any string within edit distance ``max_dist`` CONTAINS
    at least one segment verbatim. Candidates are therefore an
    EQUI-join — every row's segments (index side) against every row's
    substrings of the compatible lengths (probe side) — never an
    all-pairs theta join; exact ``levenshtein`` verifies, so false
    positives are impossible and the brute-force oracle proves zero
    false negatives by value equality.

    Scale shape: segment content is the join key (the LSH-band shape);
    probe-side expansion is O(len × lengths-probed) per row and both
    sides shuffle once on the segment hash. Refinements a production
    tuner would add (position windows, length-aware segment selection)
    only PRUNE candidates — the pigeonhole completeness argument is
    unchanged. Caveat: strings shorter than ``max_dist + 1`` produce
    empty segments that match everything (still lossless, just
    unselective) — filter or route those to a direct join.

    Returns ``(id_a, id_b, edit_dist)`` with id_a < id_b.
    """
    k = max_dist
    nseg = k + 1
    name = F.col(name_col)
    L = F.length(name)
    base = F.floor(L / nseg).cast("int")
    rem = (L % nseg).cast("int")
    # segment i (0-based): the first (nseg - rem) segments have length
    # `base`, the rest `base + 1`; start positions are the running sum.
    seg_structs = F.transform(
        F.sequence(F.lit(0), F.lit(k)),
        lambda i: F.struct(
            F.substring(
                name,
                (
                    i * base
                    + F.greatest(F.lit(0), i - (F.lit(nseg) - rem))
                    + 1
                ).cast("int"),
                (base + F.when(i >= (F.lit(nseg) - rem), 1).otherwise(0)).cast(
                    "int"
                ),
            ).alias("seg")
        ),
    )
    index_side = df.select(
        F.col(id_col).alias("id_b"),
        name.alias("__name_b"),
        L.alias("__len_b"),
        F.explode(seg_structs).alias("__s"),
    ).select("id_b", "__name_b", "__len_b", F.col("__s.seg").alias("__key"))
    # probe side: all substrings of every length a compatible partner's
    # segments can have: lengths floor(L'/nseg)..floor(L'/nseg)+1 for
    # L' in [L-k, L+k] → the closed range below covers them all.
    lo_len = F.greatest(F.lit(0), F.floor((L - k) / nseg)).cast("int")
    hi_len = F.least(L, F.floor((L + k) / nseg) + 1).cast("int")
    subs = F.flatten(
        F.transform(
            F.sequence(lo_len, hi_len),
            lambda l: F.transform(
                F.sequence(F.lit(1), L - l + 1),
                lambda p: F.substring(name, p.cast("int"), l.cast("int")),
            ),
        )
    )
    probe_side = df.select(
        F.col(id_col).alias("id_a"),
        name.alias("__name_a"),
        L.alias("__len_a"),
        F.explode_outer(F.array_distinct(subs)).alias("__key"),
    )
    cands = (
        probe_side.join(index_side, "__key")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("__len_a") - F.col("__len_b")) <= k)
        )
        .select("id_a", "__name_a", "id_b", "__name_b")
        .distinct()
    )
    dist = F.levenshtein("__name_a", "__name_b")
    return (
        cands.filter(dist <= k)
        .select("id_a", "id_b", dist.cast("int").alias("edit_dist"))
    )


def shingle_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """ASYMMETRIC shingle containment: |S(src) ∩ S(dst)| / |S(src)|.

    Jaccard (ngram_jaccard_pairs) misses the quote/excerpt case — a
    short document wholly embedded in a long one has tiny Jaccard but
    containment ≈ 1 from the short side. Emits DIRECTED pairs
    (src contained-in dst), so an A⊂B relationship appears once with
    src=A — the signal dedup pipelines use to keep the superset copy
    and drop excerpts (Broder 1997's 'containment' resemblance twin).

    Same inverted-index shape as the Jaccard path: equi-join on
    shingle (never all-pairs), one pair-keyed aggregation; with
    ``max_doc_freq`` the candidate join runs on the capped index and
    the containment is verified exactly over full shingle arrays
    (values never distorted; only pairs overlapping solely on
    boilerplate can be missed — documented cap contract).
    """
    if max_doc_freq is None:
        sh = track(_spread(df.select(F.col(id_col), F.col(text_col)), id_col).select(
            F.col(id_col),
            F.explode(word_shingles(F.col(text_col), n)).alias("shingle"),
        ))
        sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
        l, r = sh.alias("l"), sh.alias("r")
        shared = (
            l.join(
                r,
                (F.col("l.shingle") == F.col("r.shingle"))
                & (F.col(f"l.{id_col}") != F.col(f"r.{id_col}")),
            )
            .groupBy(
                F.col(f"l.{id_col}").alias("src_id"),
                F.col(f"r.{id_col}").alias("dst_id"),
            )
            .agg(F.count(F.lit(1)).alias("shared"))
        )
        return (
            shared.join(
                sizes.select(F.col(id_col).alias("src_id"), F.col("n_sh").alias("n_src")),
                "src_id",
            )
            .withColumn("containment", F.col("shared") / F.col("n_src"))
            .filter(F.col("containment") >= threshold)
            .select(
                "src_id", "dst_id", F.round("containment", 6).alias("containment")
            )
        )
    idx = track(shingle_index(df, text_col, id_col, n, max_doc_freq))
    l, r = idx.alias("l"), idx.alias("r")
    cands = (
        l.join(
            r,
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col(f"l.{id_col}") != F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("src_id"),
            F.col(f"r.{id_col}").alias("dst_id"),
        )
        .distinct()
    )
    full = track(_spread(df.select(F.col(id_col), F.col(text_col)), id_col).select(
        F.col(id_col), word_shingles(F.col(text_col), n).alias("sh")
    ))
    return (
        cands.join(
            full.select(F.col(id_col).alias("src_id"), F.col("sh").alias("sh_a")),
            "src_id",
        )
        .join(
            full.select(F.col(id_col).alias("dst_id"), F.col("sh").alias("sh_b")),
            "dst_id",
        )
        .withColumn(
            "containment",
            F.size(F.array_intersect("sh_a", "sh_b")) / F.size("sh_a"),
        )
        .filter(F.col("containment") >= threshold)
        .select("src_id", "dst_id", F.round("containment", 6).alias("containment"))
    )


def simhash_md5_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 60,
    shingle_n: int = 3,
) -> DataFrame:
    """SimHash on the ENGINE-PORTABLE md5 coin (the d3_minhash_md5
    precedent applied to the signed-projection family): per distinct
    word shingle, h = first 15 hex digits of md5(shingle) as a 60-bit
    long; per-bit majority vote over shingles; sign vector packed into
    one BIGINT. Every step (md5 → bit test → ±1 vote → sign → pack) is
    integer-exact and ANSI-SQL-reproducible, so the signature — and any
    hamming-radius pair list built on it — carries a FULL value-equality
    oracle, where the xxhash64 form (:func:`simhash_signatures`, the
    production default) is rows-only by nature.

    Same single-pass array fold: no explode, no shuffle; the 60-counter
    accumulator never leaves the row.
    """
    # hash ONCE per shingle via transform, THEN fold bit votes over the
    # hash array — referencing h(s) inside the 60-element vote array
    # would recompute the md5 60x per shingle (the HOF common-
    # subexpression trap, SURVEY §9a; measured 5.0 s -> sub-second at
    # sf0.1). Bit extraction from the materialized hash is cheap.
    hashes = F.transform(
        word_shingles(F.col(text_col), shingle_n),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
    )
    counters = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, hv: F.zip_with(
            acc,
            F.array(
                *[
                    (F.shiftright(hv, i).bitwiseAND(F.lit(1)) * 2 - 1).cast("long")
                    for i in range(bits)
                ]
            ),
            lambda a, b: a + b,
        ),
    )
    with_counters = _spread(df.select(F.col(id_col), F.col(text_col)), id_col).select(
        F.col(id_col), counters.alias("cnt")
    )
    packed = sum(
        [
            F.when(
                F.element_at("cnt", i + 1) > 0, F.shiftleft(F.lit(1).cast("long"), i)
            ).otherwise(F.lit(0).cast("long"))
            for i in range(bits)
        ],
        F.lit(0).cast("long"),
    )
    return with_counters.select(F.col(id_col), packed.alias("simhash"))


def simhash_md5_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    bits: int = 60,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash_md5) <= max_hamming, found by
    BANDED equi-join, verified exactly: split the 60-bit signature into
    ``bands`` contiguous slices — any pair within hamming ``bands - 1``
    must agree exactly on at least one slice (pigeonhole), so with the
    default 4 bands the radius-3 search is LOSSLESS while the join stays
    a hash join on (band, slice) keys, never an all-pairs scan. The
    brute-force oracle over the same md5 signatures is therefore also a
    losslessness proof of the banding (the d3b_fuzzy_blocked pattern).

    Returns (id_a, id_b, hamming), id_a < id_b. Requires
    ``max_hamming <= bands - 1`` for the pigeonhole guarantee.
    """
    if max_hamming > bands - 1:
        raise ValueError(
            f"banding loses pairs: need max_hamming <= bands-1, got "
            f"{max_hamming} > {bands - 1}"
        )
    width = bits // bands
    mask = (1 << width) - 1
    sigs = simhash_md5_signatures(df, text_col, id_col, bits, shingle_n)
    band_vals = F.array(
        *[
            F.shiftright(F.col("simhash"), b * width).bitwiseAND(F.lit(mask))
            for b in range(bands)
        ]
    )
    banded = sigs.select(
        F.col(id_col), F.col("simhash"), F.posexplode(band_vals).alias("band", "bv")
    )
    left, right = banded.alias("l"), banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bv") == F.col("r.bv"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
