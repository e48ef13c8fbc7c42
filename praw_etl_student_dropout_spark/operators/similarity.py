"""Similarity search over embedding columns (SURVEY.md §2.9 U7 ⊕).

The seven top-k operators (``brute_force_topk``, ``hard_negative_topk``,
``ivf_topk``, ``pq_topk``, ``ivfpq_topk``, ``int8_topk``,
``ivf_int8_topk``) are one search pipeline, route → score → top-k,
assembled from shared private stages:

- route (IVF only): ``_probes`` picks each query's ``nprobe`` nearest
  centroids — a tiny broadcast |Q|×|C| scoring — so the probed corpus
  is an equi-join on centroid_id touching ~nprobe/num_centroids of it.
  The corpus is assigned to its nearest centroid once
  (``assign_centroids``, an O(n·k) narrow map); at scale it is written
  partitioned by centroid_id so probes become partition-pruned scans.
  Without routing the query set is broadcast against one corpus scan.
- score: exact cosine with per-row norms hoisted out of the pair loop
  (``_cosine_scored``); asymmetric distance computation over PQ codes
  (``_adc_lut`` per query, ``_adc_score`` per corpus row) followed by
  an exact-cosine re-rank of the candidates (``_exact_rerank``); or
  the integer quantized cosine of int8 vectors (``_qcos_topk``).
- top-k: ``_topk`` ranks per query by (score desc, corpus id asc), a
  deterministic total order, and keeps rank <= k.

The corpus is scanned once and never collected; the only broadcast or
collected state is centroid tables and PQ codebooks, both sketch-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.arrays import cosine_from_norms, cosine_similarity, dot_product, l2_norm


def _topk(
    scored: DataFrame, query_id: str, corpus_id: str, score_col: str, k: int
) -> DataFrame:
    """Per-query top-k: adds ``rank`` by (score desc, corpus id asc) and
    keeps rank <= k."""
    w = Window.partitionBy(query_id).orderBy(F.desc(score_col), F.asc(corpus_id))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _score_topk(scored: DataFrame, query_id: str, corpus_id: str, k: int) -> DataFrame:
    """``_topk`` on ``score``, as (query_id, corpus_id, score rounded to
    6 places, rank)."""
    return _topk(scored, query_id, corpus_id, "score", k).select(
        query_id, corpus_id, F.round("score", 6).alias("score"), "rank"
    )


def _cosine_scored(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    on: str | None = None,
) -> DataFrame:
    """(query_id, corpus_id, score): exact cosine per pair. Each side's
    l2_norm is a deterministic per-row fold, so computing it once per
    side (not once per pair) is bit-identical and 3x less array work.
    ``on=None`` crosses the broadcast query side with one corpus scan;
    otherwise the sides equi-join on ``on`` (the IVF probe join)."""
    q = queries.withColumn("__qn", l2_norm(F.col(query_vec)))
    c = corpus.withColumn("__cn", l2_norm(F.col(corpus_vec)))
    pairs = F.broadcast(q).crossJoin(c) if on is None else q.join(c, on=on)
    score = cosine_from_norms(
        dot_product(F.col(query_vec), F.col(corpus_vec)), F.col("__qn"), F.col("__cn")
    )
    return pairs.select(F.col(query_id), F.col(corpus_id), score.alias("score"))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "query_vec",
    corpus_vec: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine per query: broadcast(queries) × one corpus
    scan → hoisted-norm cosine → per-query top-k with deterministic
    (score desc, corpus_id asc) order. Returns (query_id, vec_id, score,
    rank)."""
    scored = _cosine_scored(queries, corpus, query_id, corpus_id, query_vec, corpus_vec)
    return _score_topk(scored, query_id, corpus_id, k)


def hard_negative_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "query_vec",
    corpus_vec: str = "embedding",
    k: int = 5,
    dup_threshold: float = 0.95,
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: per
    query, the k MOST similar corpus vectors that are NOT near-duplicates
    — cosine strictly below ``dup_threshold``, self excluded. The classic
    DPR/contrastive recipe: random negatives are too easy;
    near-duplicates are false negatives; the band just under the dup
    screen is where the training signal lives.

    :func:`brute_force_topk` plus this filter; swap the cross join for
    :func:`ivf_topk`'s probe join at corpus scale. Returns (query_id,
    corpus_id, score, rank).
    """
    scored = _cosine_scored(
        queries, corpus, query_id, corpus_id, query_vec, corpus_vec
    ).filter((F.col("score") < dup_threshold) & (F.col(query_id) != F.col(corpus_id)))
    return _score_topk(scored, query_id, corpus_id, k)


def assign_centroids(
    corpus: DataFrame,
    centroids: DataFrame,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid_vec",
) -> DataFrame:
    """Assign each corpus vector to its nearest centroid (argmax cosine).

    Broadcast nested-loop over the (small) centroid table + top-1 per
    vector — a one-time index build, amortized over all queries.
    """
    scored = corpus.crossJoin(F.broadcast(centroids)).select(
        F.col(corpus_id),
        F.col(corpus_vec),
        F.col(centroid_id),
        cosine_similarity(F.col(corpus_vec), F.col(centroid_vec)).alias("c_score"),
    )
    return _topk(scored, corpus_id, centroid_id, "c_score", 1).select(
        corpus_id, corpus_vec, centroid_id
    )


def sample_centroids(
    corpus: DataFrame,
    num_centroids: int,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Deterministic centroid seed set: the ``num_centroids`` vectors
    with the smallest md5(id) — a reproducible hash-spread sample.

    Id-type agnostic (sparse, offset, or string ids all yield exactly
    min(n, k) centroids, where id%stride arithmetic could yield few or
    NONE and silently empty every downstream probe) and scale-safe:
    orderBy+limit compiles to TakeOrderedAndProject (per-partition
    top-k, driver merge of k rows), never a global sort. A k-means
    refinement pass can replace this without changing the query path;
    determinism matters more than centroid quality for reproducible
    tests.
    """
    seeds = (
        corpus.select(
            F.col(corpus_vec),
            F.md5(F.col(corpus_id).cast("string")).alias("__h"),
        )
        .orderBy("__h")
        .limit(num_centroids)
    )
    w = Window.orderBy("__h")  # k-row frame: the window is driver-trivial
    return seeds.select(
        (F.row_number().over(w) - 1).alias("centroid_id"),
        F.col(corpus_vec).alias("centroid_vec"),
    )


def _probes(
    queries: DataFrame,
    centroids: DataFrame,
    query_id: str,
    query_vec: str,
    nprobe: int,
    *carry: str | F.Column,
) -> DataFrame:
    """Route: each query's ``nprobe`` nearest centroids by cosine, as
    (query_id, *carry, centroid_id). ``carry`` names or computes what
    the scorer needs from the query side; it is evaluated on the probe
    rows only (nprobe per query), never per routed corpus row."""
    scored = (
        F.broadcast(queries)
        .crossJoin(F.broadcast(centroids))
        .withColumn("c_score", cosine_similarity(F.col(query_vec), F.col("centroid_vec")))
    )
    return _topk(scored, query_id, "centroid_id", "c_score", nprobe).select(
        query_id, *carry, "centroid_id"
    )


def ivf_topk(
    queries: DataFrame,
    corpus_indexed: DataFrame,
    centroids: DataFrame,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "query_vec",
    corpus_vec: str = "embedding",
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Approximate top-k: probe the ``nprobe`` nearest centroids only.

    corpus_indexed = output of ``assign_centroids``. The query→centroid
    scoring is tiny (|Q|×|C|); the heavy step is an equi-join on
    centroid_id that touches ~nprobe/num_centroids of the corpus, scored
    by exact cosine.
    """
    probes = _probes(queries, centroids, query_id, query_vec, nprobe, query_vec)
    scored = _cosine_scored(
        probes, corpus_indexed, query_id, corpus_id, query_vec, corpus_vec, on="centroid_id"
    )
    return _score_topk(scored, query_id, corpus_id, k)


def kmeans_refine(
    corpus: DataFrame,
    centroids: DataFrame,
    iterations: int = 3,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Lloyd refinement of the IVF centroid table (iterative, batch).

    Each iteration: (1) assign — broadcast the centroid table, argmax
    cosine per vector (narrow, no shuffle of the corpus); (2) update —
    posexplode to (centroid, dim, value), partial-agg means per
    (centroid, dim), rebuild the centroid arrays. The corpus is never
    collected; per-iteration shuffle volume is n_centroids × dim after
    the map-side combine. ``localCheckpoint`` truncates the lineage each
    round — without it the plan doubles per iteration and analysis cost
    explodes long before the data does.

    Not SQL-expressible as one query (iterative fixpoint) — driver
    checks rows-only; pytest checks invariants + recall.
    """
    for _ in range(iterations):
        assigned = assign_centroids(corpus, centroids, corpus_id=corpus_id, corpus_vec=corpus_vec)
        dims = assigned.select(
            "centroid_id", F.posexplode(corpus_vec).alias("pos", "val")
        )
        means = dims.groupBy("centroid_id", "pos").agg(F.avg("val").alias("m"))
        centroids = (
            means.groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(
                "centroid_id",
                F.transform("pm", lambda s: s["m"]).alias("centroid_vec"),
            )
        )
        centroids = centroids.localCheckpoint(eager=True)
    return centroids


def hashing_embed(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 128,
    normalize: bool = True,
) -> DataFrame:
    """Feature-hashing ("hashing trick") document embeddings, fully
    native: token → xxhash64 bucket with a ±1 sign hash, summed per
    bucket, densified via map lookup over a static index sequence. No
    vocabulary, no model, no Python — one narrow pass plus one shuffle
    on the doc id, so it runs at corpus scale and its output feeds
    ``brute_force_topk`` / ``assign_centroids`` / ``embedding_dup_pairs``
    unchanged (text similarity without an embeddings table).

    Deterministic (hash-seeded), so approximate text search results are
    reproducible run to run.
    """
    from ..functions.text import clean_text, tokens

    tok = F.explode(tokens(clean_text(F.col(text_col)))).alias("tok")
    exploded = docs.select(F.col(id_col), tok).filter(F.length("tok") > 0)
    bucket = F.pmod(F.xxhash64("tok"), F.lit(dim)).cast("int")
    sign = F.when(F.pmod(F.xxhash64("tok", F.lit(1)), 2) == 0, 1.0).otherwise(-1.0)
    per_bucket = exploded.select(F.col(id_col), bucket.alias("b"), sign.alias("s")).groupBy(
        id_col, "b"
    ).agg(F.sum("s").alias("w"))
    as_map = per_bucket.groupBy(id_col).agg(
        F.map_from_entries(F.collect_list(F.struct("b", "w"))).alias("m")
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        # element_at on a MAP takes the key itself (buckets are 0-based) —
        # array-style i+1 here would silently drop bucket 0
        lambda i: F.coalesce(F.element_at("m", i), F.lit(0.0)),
    )
    out = as_map.select(F.col(id_col), dense.alias("embedding"))
    if normalize:
        norm = F.greatest(l2_norm(F.col("embedding")), F.lit(1e-12))
        out = out.select(
            id_col,
            F.transform("embedding", lambda x: x / norm).alias("embedding"),
        )
    return out


def _book_lit(book: list[list[float]]) -> F.Column:
    """k × d_sub literal of one subspace codebook (codebooks are tiny by
    design)."""
    return F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in book])


def _codebooks_lit(codebooks: list[list[list[float]]]) -> F.Column:
    """m × k × d_sub nested literal of all subspace codebooks."""
    return F.array(*[_book_lit(book) for book in codebooks])


def _per_centroid(v: F.Column, book: F.Column, op) -> F.Column:
    """Σ_i op(v_i, c_i) against every centroid ``c`` in ``book``."""
    return F.transform(
        book,
        lambda c: F.aggregate(
            F.zip_with(v, c, op),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


def _sq_dists(v: F.Column, book: F.Column) -> F.Column:
    """Squared L2 distance from ``v`` to every centroid in ``book``."""
    return _per_centroid(v, book, lambda a, b: (a - b) * (a - b))


def _argmin(arr: F.Column) -> F.Column:
    """0-based index of the minimum, evaluating ``arr`` ONCE.

    array_position(arr, array_min(arr)) references arr twice, and
    subexpression elimination does not reach through higher-order
    functions — bind it to a transform lambda variable instead (the
    lang_id lesson).
    """
    return (
        F.transform(
            F.array(arr), lambda d: F.array_position(d, F.array_min(d))
        )[0]
        - 1
    ).cast("int")


def _adc_lut(query_vec: str, codebooks: list[list[list[float]]]) -> F.Column:
    """Per-query ADC lookup table: dot(query subvector, centroid) for
    every (subspace, centroid) — m*k floats."""
    d = len(codebooks[0][0])
    qv = F.col(query_vec).cast("array<double>")
    return F.array(
        *[
            _per_centroid(F.slice(qv, s * d + 1, d), _book_lit(book), lambda a, b: a * b)
            for s, book in enumerate(codebooks)
        ]
    )


def _adc_score() -> F.Column:
    """ADC score of a (``codes``, ``__lut``) row: m table lookups summed,
    never a d-dimensional dot product."""
    return F.aggregate(
        F.zip_with(
            F.col("codes"), F.col("__lut"), lambda code, l: F.element_at(l, code + 1)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _exact_rerank(
    cands: DataFrame,
    queries: DataFrame,
    raw: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    k: int,
) -> DataFrame:
    """Exact-cosine top-k over per-query candidates: the raw query and
    corpus vectors are fetched for the candidate handful only."""
    exact = (
        cands.select(query_id, corpus_id)
        .join(queries.select(query_id, query_vec), query_id)
        .join(raw.select(corpus_id, corpus_vec), corpus_id)
        .select(
            query_id,
            corpus_id,
            cosine_similarity(F.col(query_vec), F.col(corpus_vec)).alias("score"),
        )
    )
    return _score_topk(exact, query_id, corpus_id, k)


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    iterations: int = 3,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    dim: int | None = None,
) -> list[list[list[float]]]:
    """Product-quantization codebooks: per-subspace Lloyd k-means.

    Jégou et al., "Product Quantization for Nearest Neighbor Search"
    (TPAMI 2011): split each vector into ``m`` subvectors and learn an
    independent ``k``-centroid codebook per subspace; a vector is then
    ``m`` small codes (m bytes at k<=256) instead of ``dim`` floats —
    the memory step that makes billion-vector ANN fit a cluster at all.

    All ``m`` subspace k-means run in ONE corpus pass per iteration
    (explode to (id, subspace, subvector), assign by the broadcast
    codebook literal, update with a (subspace, centroid, pos) grouped
    mean). The only driver-side data is the codebooks themselves
    (m*k*d/m floats — sketch-sized by construction; production trains
    on a sample anyway). Initialization is a deterministic strided
    row_number() sample per subspace — independent of id VALUES, so
    sparse/offset/string ids all seed exactly k centroids. Empty
    clusters keep their previous centroid.
    """
    if dim is None:
        first = corpus.select(corpus_vec).first()
        if first is None:
            raise ValueError("pq_train: empty corpus")
        dim = len(first[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d = dim // m
    vec = F.col(corpus_vec).cast("array<double>")
    sub = corpus.select(
        F.col(corpus_id).alias("id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.slice(vec, s * d + 1, d).alias("v"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("e"),
    ).select("id", "e.s", "e.v")
    n = corpus.count()
    if n == 0:
        raise ValueError("pq_train: empty corpus")
    # Deterministic spread seeding by POSITION, not id arithmetic: rank
    # rows per subspace (deterministic id order), take every stride-th.
    # Sparse, offset, or string ids seed identically; id%stride seeding
    # would find few or zero seeds there.
    stride = max(n // k, 1)
    wseed = Window.partitionBy("s").orderBy("id")
    rank0 = F.row_number().over(wseed) - 1
    seeds = (
        sub.select("s", rank0.alias("r"), "v")
        .filter((F.col("r") % stride == 0) & (F.col("r") / stride < k))
        .select("s", (F.col("r") / stride).cast("int").alias("c"), "v")
        .collect()
    )
    codebooks: list[list[list[float]]] = [[None] * k for _ in range(m)]
    for r in seeds:
        codebooks[r.s][r.c] = list(r.v)
    # n<k leaves tail slots empty — fill from any seed
    for s in range(m):
        fallback = next(c for c in codebooks[s] if c is not None)
        codebooks[s] = [c if c is not None else list(fallback) for c in codebooks[s]]
    for _ in range(iterations):
        book = F.element_at(_codebooks_lit(codebooks), F.col("s") + 1)
        assigned = sub.select(
            "s", _argmin(_sq_dists(F.col("v"), book)).alias("c"), "v"
        )
        means = (
            assigned.select("s", "c", F.posexplode("v").alias("pos", "val"))
            .groupBy("s", "c", "pos")
            .agg(F.avg("val").alias("mu"))
            .collect()
        )
        new_books = [[list(c) for c in book_] for book_ in codebooks]
        for r in means:
            new_books[r.s][r.c][r.pos] = r.mu
        codebooks = new_books
    return codebooks


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>[m]) — a NARROW projection, no shuffle: each
    subspace's code is an argmin against the broadcast codebook literal
    computed inline. This is the table you persist instead of the raw
    vectors: m ints per row vs dim floats."""
    d = len(codebooks[0][0])
    vec = F.col(corpus_vec).cast("array<double>")
    codes = F.array(
        *[
            _argmin(_sq_dists(F.slice(vec, s * d + 1, d), _book_lit(book)))
            for s, book in enumerate(codebooks)
        ]
    )
    return corpus.select(F.col(corpus_id), codes.alias("codes"))


def pq_topk(
    queries: DataFrame,
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "query_vec",
    k: int = 10,
    rerank_corpus: DataFrame | None = None,
    corpus_vec: str = "embedding",
    rerank_factor: int = 4,
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation (ADC).

    Per query, ONE lookup table: dot(query_subvector, centroid) for
    every (subspace, centroid) — m*k floats. Per corpus row the score
    is then m table lookups summed (zip_with codes against the LUT),
    never a d-dimensional dot product: the work that scans a
    billion-vector corpus is integer indexing over broadcast-sized
    state. Returns (query_id, vec_id, score, rank) where score
    approximates the inner product (= cosine when the corpus was
    normalized before pq_train/pq_encode).

    With ``rerank_corpus`` (the raw-vector table), ADC generates
    ``rerank_factor * k`` candidates and the final top-k is EXACT
    cosine over just those — the standard two-tier layout: codes drive
    the corpus-wide scan, raw vectors are fetched for a per-query
    handful. Quantization distortion then costs recall only when a true
    neighbor falls out of the candidate set entirely, not rank order.
    """
    q = queries.select(F.col(query_id), _adc_lut(query_vec, codebooks).alias("__lut"))
    scored = F.broadcast(q).crossJoin(encoded).select(
        F.col(query_id), F.col(corpus_id), _adc_score().alias("score")
    )
    if rerank_corpus is None:
        return _score_topk(scored, query_id, corpus_id, k)
    cands = _topk(scored, query_id, corpus_id, "score", k * rerank_factor)
    return _exact_rerank(
        cands, queries, rerank_corpus, query_id, corpus_id, query_vec, corpus_vec, k
    )


def ivfpq_topk(
    queries: DataFrame,
    corpus_indexed: DataFrame,
    centroids: DataFrame,
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "query_vec",
    corpus_vec: str = "embedding",
    k: int = 10,
    nprobe: int = 4,
    rerank_factor: int = 4,
) -> DataFrame:
    """IVF-PQ: the composed billion-vector layout.

    IVF bounds WHICH rows are touched (equi-join on the nprobe nearest
    centroid ids — ~nprobe/num_centroids of the corpus), PQ bounds the
    COST per touched row (ADC: m LUT lookups against the broadcast
    per-query table, no d-dim arithmetic), and the exact re-rank over
    rerank_factor*k survivors restores true cosine order. In production
    the encoded table is written partitioned by centroid_id so a probe
    is a partition-pruned scan of code columns only; raw vectors are
    fetched per candidate for the re-rank.
    """
    # The per-query ADC lookup table is MATERIALIZED on the probe rows
    # (nprobe per query) and carried through the centroid join — routed
    # corpus rows then pay only the m element_at lookups. Evaluating the
    # LUT expression in the scored select instead would recompute all
    # m*k centroid dot products (O(k*d)) for EVERY touched corpus row,
    # defeating the ADC cost model (pq_topk projects its LUT on the
    # query side for the same reason).
    lut = _adc_lut(query_vec, codebooks).alias("__lut")
    probes = _probes(queries, centroids, query_id, query_vec, nprobe, lut)
    routed = probes.join(
        corpus_indexed.select(corpus_id, "centroid_id").join(encoded, corpus_id),
        on="centroid_id",
    )
    scored = routed.select(F.col(query_id), F.col(corpus_id), _adc_score().alias("score"))
    cands = _topk(scored, query_id, corpus_id, "score", k * rerank_factor)
    return _exact_rerank(
        cands, queries, corpus_indexed, query_id, corpus_id, query_vec, corpus_vec, k
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 top-k document retrieval for a fixed query term set:
    the lexical scorer of the retrieval stack, Lucene idf variant
    (ln((N-df+0.5)/(df+0.5)+1), always positive).

    Scale shape: term frequencies are ROW-LOCAL (``term_counts``) and
    filtered to the query's terms INSIDE the row, so only
    (doc, query-term) hits are ever exploded — per-doc cost is the
    tokenize, wire cost is |hits|, never the token stream. Per-term
    document frequencies aggregate from the hits (query-sized), corpus
    N/avgdl is one broadcast row, and the final top-k is
    orderBy+limit → TakeOrderedAndProject (per-partition top-k, k-row
    driver merge). Ordering is by the ROUNDED score with an id
    tiebreak, so last-ulp float-sum differences can't reorder results
    across engines (the u10 determinism rule).
    """
    from ..functions.text import term_counts, tokens

    terms_lit = F.array(*[F.lit(t) for t in query_terms])
    bound = F.transform(
        F.array(tokens(F.col(text_col))),
        lambda t: F.struct(
            F.size(t).alias("dl"),
            F.filter(
                term_counts(t), lambda p: F.array_contains(terms_lit, p["term"])
            ).alias("hits"),
        ),
    )[0]
    hits = (
        docs.select(F.col(id_col), bound.alias("s"))
        .select(
            id_col,
            F.col("s.dl").alias("dl"),
            F.explode("s.hits").alias("p"),
        )
        .select(
            id_col,
            "dl",
            F.col("p.term").alias("term"),
            F.col("p.tf").cast("long").alias("tf"),
        )
    )
    stats = docs.select(F.size(tokens(F.col(text_col))).alias("dl")).agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    dfreq = hits.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    tf_part = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        hits.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.round(F.sum(idf * tf_part), 6).alias("bm25"))
    )
    top = scored.orderBy(F.desc("bm25"), F.asc(id_col)).limit(k)
    # Rank assigned AFTER the limit: the window sorts <= k rows (bounded
    # by construction), not the corpus — feeds rrf_fuse directly.
    w = Window.orderBy(F.desc("bm25"), F.asc(id_col))
    return top.select(id_col, "bm25", F.row_number().over(w).alias("rank"))


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    k: int = 10,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion — the standard hybrid-search
    combiner (Cormack/Clarke/Buettcher SIGIR'09): fused(d) =
    Σ_lists 1/(c + rank_d), summing only over lists that contain d.

    Each input must carry (id_col, ``rank``) with rank 1-based and
    deterministic (the engine's top-k builders order by rounded score
    + id tiebreak, so their ranks are engine-stable). Inputs are
    unioned with a list tag rather than n-way outer-joined — one
    union + one groupBy, linear in the total candidate mass, no join
    explosion as the number of legs grows. Output: (id, rrf, n_lists),
    top-``k`` by fused score with the id tiebreak, rounded like every
    cross-engine score in this engine.
    """
    tagged = None
    for i, r in enumerate(rankings):
        t = r.select(
            F.col(id_col),
            (1.0 / (F.lit(float(c)) + F.col("rank"))).alias("_contrib"),
        )
        tagged = t if tagged is None else tagged.unionByName(t)
    fused = (
        tagged.groupBy(id_col)
        .agg(
            F.round(F.sum("_contrib"), 6).alias("rrf"),
            F.count(F.lit(1)).alias("n_lists"),
        )
    )
    return fused.orderBy(F.desc("rrf"), F.asc(id_col)).limit(k)


def mmr_rerank(
    candidates: DataFrame,
    k: int = 10,
    lam: float = 0.7,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    score_col: str = "score",
) -> DataFrame:
    """Maximal Marginal Relevance re-rank (Carbonell & Goldstein 1998):
    greedily pick k candidates maximizing
    ``lam * relevance - (1 - lam) * max_sim_to_already_selected``.

    Input is a per-query CANDIDATE set (query_id, vec_id, score, vec) —
    the bounded output of a first-stage retriever (brute force / IVF /
    BM25 leg), never the full corpus. The greedy loop is inherently
    sequential per query, so it runs as applyInPandas over query groups:
    per-group state is candidate-set-sized (tens of rows) by
    construction, groups parallelize across executors, and the Python
    boundary is Arrow-batched — the same bounded-state pattern as the PQ
    codebook. Ties break on (mmr_score desc, id asc) like every other
    ranked surface. Returns (query_id, vec_id, mmr_rank, mmr_score).
    """
    import pandas as pd

    out_schema = (
        f"{query_id} long, {corpus_id} long, mmr_rank int, mmr_score double"
    )

    def _mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(
            [score_col, corpus_id], ascending=[False, True]
        ).reset_index(drop=True)
        vecs = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        norms = np.linalg.norm(vecs, axis=1)
        norms[norms == 0.0] = 1e-12
        rel = pdf[score_col].to_numpy(dtype=np.float64)
        ids = pdf[corpus_id].to_numpy()
        n = len(pdf)
        selected: list[int] = []
        max_sim = np.zeros(n)
        remaining = np.ones(n, dtype=bool)
        rows = []
        for rank in range(1, min(k, n) + 1):
            mmr = lam * rel - (1.0 - lam) * max_sim
            # deterministic argmax: score desc, then id asc
            best, best_key = -1, None
            for i in np.nonzero(remaining)[0]:
                key = (-mmr[i], ids[i])
                if best_key is None or key < best_key:
                    best, best_key = int(i), key
            rows.append(
                (int(pdf[query_id].iloc[best]), int(ids[best]), rank, float(mmr[best]))
            )
            remaining[best] = False
            selected.append(best)
            sims = vecs @ vecs[best] / (norms * norms[best])
            max_sim = np.maximum(max_sim, sims)
        return pd.DataFrame(rows, columns=[query_id, corpus_id, "mmr_rank", "mmr_score"])

    return candidates.groupBy(query_id).applyInPandas(_mmr, schema=out_schema)


def int8_quantize(
    df: DataFrame, vec_col: str, out_q: str = "qvec", out_norm2: str = "qnorm2"
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization (the FAISS SQ8 /
    vector-DB memory-compression recipe): q_i = round(x_i * 127 / max|x|),
    so every component lands in [-127, 127] and the vector costs 1 byte a
    dimension instead of 4. Adds the quantized BIGINT array plus its exact
    integer squared norm; zero-vectors (max|x| = 0) are dropped — they have
    no direction to preserve.

    Every derived number is integer-exact, which is what makes the
    downstream quantized-cosine scores bit-stable across engines: the only
    floats in the whole pipeline are IEEE-exact casts of integers, one
    sqrt, and one division (both correctly rounded by IEEE-754), never an
    accumulation whose order could differ.
    """
    x = F.col(vec_col)
    scale = F.array_max(F.transform(x, lambda v: F.abs(v.cast("double"))))
    qvec = F.transform(
        x, lambda v: F.round(v.cast("double") * 127.0 / F.col("__scale")).cast("long")
    )
    norm2 = F.aggregate(
        F.col(out_q), F.lit(0).cast("long"), lambda acc, q: acc + q * q
    )
    return (
        df.withColumn("__scale", scale)
        .filter(F.col("__scale") > 0)
        .withColumn(out_q, qvec)
        .withColumn(out_norm2, norm2)
        .drop("__scale")
    )


def _qcos_topk(pairs: DataFrame, query_id: str, corpus_id: str, k: int) -> DataFrame:
    """Quantized cosine int_dot / sqrt(qnorm2_q * qnorm2_c) over
    (``__qq``, ``__qn2``) × (``__cq``, ``__cn2``) pairs, self excluded,
    then the per-query top-k as (query_id, corpus_id, int_dot, qcos,
    rank). int_dot and the norms stay in int64 (|q| <= 127, d <= ~500k
    dims before overflow); the final sqrt/division are
    IEEE-correctly-rounded single ops, hence cross-engine deterministic,
    unlike float dot products."""
    int_dot = F.aggregate(
        F.zip_with(F.col("__qq"), F.col("__cq"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = (
        pairs.filter(F.col(query_id) != F.col(corpus_id))
        .withColumn("int_dot", int_dot)
        .withColumn(
            "qcos",
            F.col("int_dot").cast("double")
            / F.sqrt((F.col("__qn2") * F.col("__cn2")).cast("double")),
        )
    )
    return _topk(scored, query_id, corpus_id, "qcos", k).select(
        query_id,
        corpus_id,
        "int_dot",
        F.round("qcos", 6).alias("qcos"),
        F.col("rank").cast("int").alias("rank"),
    )


def int8_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    k: int = 10,
) -> DataFrame:
    """Exact top-k over int8-quantized vectors by QUANTIZED cosine:
    int_dot / sqrt(qnorm2_q * qnorm2_c) — the per-vector scales cancel, so
    the score is the true cosine of the quantized vectors and is
    comparable across vectors without any dequantization float path.

    Scale shape: identical to brute_force_topk (broadcast query side x one
    corpus scan, WindowGroupLimit top-k) but the corpus column it scans is
    4x smaller and the inner loop is integer multiply-add — the practical
    first rung of memory-bound ANN before IVF/PQ.
    """
    q = int8_quantize(queries, query_vec, out_q="__qq", out_norm2="__qn2")
    c = int8_quantize(corpus, corpus_vec, out_q="__cq", out_norm2="__cn2")
    return _qcos_topk(
        c.crossJoin(F.broadcast(q.select(query_id, "__qq", "__qn2"))),
        query_id,
        corpus_id,
        k,
    )


def ivf_int8_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "query_vec",
    corpus_vec: str = "embedding",
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """IVF + SQ8 — the standard production ANN layout (FAISS 'IVF,SQ8'):
    centroid routing bounds WHICH rows a query touches, int8 scalar
    quantization bounds the BYTES and the inner-loop cost per touched
    row. Routing runs on the raw vectors (tiny |Q|x|C| scoring);
    scoring inside the probed lists is the quantized cosine
    int_dot / sqrt(qnorm2_q * qnorm2_c) — all-integer inputs, so the
    scores this index serves are bit-stable across engines even though
    the candidate set is index-specific. Returns
    (query_id, corpus_id, int_dot, qcos, rank).
    """
    c_idx = assign_centroids(corpus, centroids, corpus_id=corpus_id, corpus_vec=corpus_vec)
    cq = int8_quantize(c_idx, corpus_vec, out_q="__cq", out_norm2="__cn2")
    qq = int8_quantize(queries, query_vec, out_q="__qq", out_norm2="__qn2")
    probes = _probes(qq, centroids, query_id, query_vec, nprobe, "__qq", "__qn2")
    return _qcos_topk(cq.join(probes, "centroid_id"), query_id, corpus_id, k)
