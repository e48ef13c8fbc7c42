"""Similarity-search invariants: brute-force agrees with numpy; IVF
recall against brute force; dot-product expression correctness; every
ANN operator's shared top-k stage (dense ranks, id-ascending ties);
hard-negative exclusion; int8 quantization bounds and cosine fidelity."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from praw_etl_student_dropout_spark.functions.arrays import cosine_similarity, dot_product
from praw_etl_student_dropout_spark.operators.similarity import (
    assign_centroids,
    brute_force_topk,
    hard_negative_topk,
    int8_quantize,
    int8_topk,
    ivf_int8_topk,
    ivf_topk,
    ivfpq_topk,
    pq_encode,
    pq_topk,
    sample_centroids,
)
from praw_etl_student_dropout_spark.sources.readers import load_tables


def test_dot_product_matches_numpy(spark):
    a = [0.5, -1.0, 2.0]
    b = [1.0, 4.0, -0.25]
    df = spark.createDataFrame([(a, b)], ["a", "b"])
    got = df.select(dot_product(F.col("a"), F.col("b")).alias("d")).first().d
    assert abs(got - float(np.dot(a, b))) < 1e-12


def test_brute_force_topk_matches_numpy(spark, sf_dir):
    e = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = brute_force_topk(queries, e, k=5).collect()
    rows = e.collect()
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    ids = np.array([r.vec_id for r in rows])
    norms = np.linalg.norm(mat, axis=1)
    for qid in range(3):
        q = mat[ids == qid][0]
        sims = mat @ q / (norms * np.linalg.norm(q))
        order = sorted(zip(-sims, ids))[:5]
        expected = [int(i) for _, i in order]
        mine = [r.vec_id for r in sorted(got, key=lambda r: r.rank) if r.query_id == qid]
        assert mine == expected, f"query {qid}: {mine} != {expected}"


def test_ivf_recall_against_brute_force(spark, sf_dir):
    e = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    queries = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = brute_force_topk(queries, e, k=10).collect()
    centroids = sample_centroids(e, num_centroids=16)
    indexed = assign_centroids(e, centroids)
    approx = ivf_topk(queries, indexed, centroids, k=10, nprobe=8).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.vec_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q]) for q in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.5, f"mean recall@10 {sum(recalls)/len(recalls):.2f}"


def test_cosine_self_similarity_is_one(spark, sf_dir):
    e = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    row = e.select(
        cosine_similarity(F.col("embedding"), F.col("embedding")).alias("c")
    ).agg(F.min("c").alias("lo"), F.max("c").alias("hi")).first()
    assert abs(row.lo - 1.0) < 1e-9 and abs(row.hi - 1.0) < 1e-9


def test_kmeans_refine_improves_recall(spark, sf_dir):
    e = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    queries = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = brute_force_topk(queries, e, k=10).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.vec_id)

    from praw_etl_student_dropout_spark.operators.similarity import kmeans_refine

    seeds = sample_centroids(e, num_centroids=16)
    refined = kmeans_refine(e, seeds, iterations=3)
    # shape invariants: same centroid count, same dimensionality
    assert refined.count() == seeds.count()
    dim = len(e.first().embedding)
    assert all(len(r.centroid_vec) == dim for r in refined.collect())

    def recall(cents):
        idx = assign_centroids(e, cents)
        approx = ivf_topk(queries, idx, cents, k=10, nprobe=4).collect()
        sets = {}
        for r in approx:
            sets.setdefault(r.query_id, set()).add(r.vec_id)
        return sum(
            len(exact_sets[q] & sets.get(q, set())) / len(exact_sets[q]) for q in exact_sets
        ) / len(exact_sets)

    r_seed, r_refined = recall(seeds), recall(refined)
    # Lloyd iterations should not collapse recall; typically they improve it
    assert r_refined >= max(r_seed - 0.1, 0.3), (r_seed, r_refined)


def test_hashing_embed_text_search(spark, sf_dir):
    """Text → hashed vector → ANN: a planted clone is its original's
    nearest non-self neighbor with cosine ~1."""
    from praw_etl_student_dropout_spark.operators.similarity import hashing_embed

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    clone = docs.limit(2).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    emb = hashing_embed(docs.unionByName(clone), dim=64).cache()
    assert emb.count() == docs.count() + 2
    # deterministic across runs
    a = {r.doc_id: tuple(r.embedding) for r in emb.collect()}
    b = {r.doc_id: tuple(r.embedding) for r in hashing_embed(docs.unionByName(clone), dim=64).collect()}
    assert a == b
    queries = emb.filter(F.col("doc_id") >= 1_000_000).select(
        (F.col("doc_id") - 1_000_000).alias("query_id"), F.col("embedding").alias("query_vec")
    )
    top = brute_force_topk(queries, emb, corpus_id="doc_id", k=2).collect()
    by_q = {}
    for r in top:
        by_q.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
    for qid, hits in by_q.items():
        hits.sort()
        ids = [h[1] for h in hits]
        # original and clone occupy the top-2, both at cosine ~1
        assert set(ids) == {qid, qid + 1_000_000}
        assert all(abs(h[2] - 1.0) < 1e-6 for h in hits)


def test_hashing_embed_is_unit_norm(spark, sf_dir):
    from praw_etl_student_dropout_spark.operators.similarity import hashing_embed
    from praw_etl_student_dropout_spark.functions.arrays import l2_norm

    docs = load_tables(spark, sf_dir, ["documents"])["documents"].limit(100)
    emb = hashing_embed(docs, dim=32)
    row = emb.select(l2_norm(F.col("embedding")).alias("n")).agg(
        F.min("n").alias("lo"), F.max("n").alias("hi")
    ).first()
    assert abs(row.lo - 1.0) < 1e-9 and abs(row.hi - 1.0) < 1e-9


def test_pq_adc_recall_and_code_shape(spark, sf_dir):
    """Product quantization: codes are m small ints, ADC top-k recalls
    most of the exact cosine top-k on the normalized corpus, and
    training is deterministic (same codebooks across runs)."""
    from praw_etl_student_dropout_spark.functions.arrays import l2_norm
    from praw_etl_student_dropout_spark.operators.similarity import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    e = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    unit = e.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: x / l2_norm(F.col("embedding").cast("array<double>")),
        ).alias("embedding"),
    ).persist()
    # The synthetic embeddings are near-isotropic — PQ's worst case (no
    # cluster structure to exploit), so this uses the production
    # two-tier shape: finer quantizer + ADC candidates + exact re-rank.
    m, kc = 16, 32
    books = pq_train(unit, m=m, k=kc, iterations=2)
    assert len(books) == m and all(len(b) == kc for b in books)
    books2 = pq_train(unit, m=m, k=kc, iterations=2)
    assert books == books2, "training must be deterministic"
    encoded = pq_encode(unit, books).persist()
    row = encoded.first()
    assert len(row.codes) == m and all(0 <= c < kc for c in row.codes)
    queries = unit.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = brute_force_topk(queries, unit, k=10).collect()
    approx = pq_topk(
        queries, encoded, books, k=10, rerank_corpus=unit, rerank_factor=4
    ).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.vec_id)
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    mean_r = sum(recalls) / len(recalls)
    assert mean_r >= 0.7, f"mean PQ+rerank recall@10 {mean_r:.2f}"
    # re-ranked scores are exact cosines: self-query must score 1.0 at rank 1
    self_hit = [r for r in approx if r.query_id == r.vec_id]
    assert all(abs(r.score - 1.0) < 1e-6 and r.rank == 1 for r in self_hit)
    unit.unpersist(); encoded.unpersist()


def test_ivfpq_recall_and_touched_fraction(spark, sf_dir):
    """The composed layout: IVF routing restricts which rows are scanned,
    ADC+re-rank restores order; recall against brute force stays
    reasonable while each query touches only the probed lists."""
    from praw_etl_student_dropout_spark.functions.arrays import l2_norm
    from praw_etl_student_dropout_spark.operators.similarity import (
        assign_centroids,
        ivfpq_topk,
        pq_encode,
        pq_train,
        sample_centroids,
    )

    e = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    unit = e.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: x / l2_norm(F.col("embedding").cast("array<double>")),
        ).alias("embedding"),
    ).persist()
    centroids = sample_centroids(unit, num_centroids=8)
    indexed = assign_centroids(unit, centroids).persist()
    books = pq_train(unit, m=16, k=32, iterations=2)
    encoded = pq_encode(unit, books)
    queries = unit.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = brute_force_topk(queries, unit, k=10).collect()
    approx = ivfpq_topk(
        queries, indexed, centroids, encoded, books, k=10, nprobe=6, rerank_factor=4
    ).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.vec_id)
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    mean_r = sum(recalls) / len(recalls)
    assert mean_r >= 0.5, f"mean IVF-PQ recall@10 {mean_r:.2f}"
    # re-ranked scores are exact: self-query at rank 1 with cosine 1
    self_hit = [r for r in approx if r.query_id == r.vec_id]
    assert all(abs(r.score - 1.0) < 1e-6 and r.rank == 1 for r in self_hit)
    unit.unpersist(); indexed.unpersist()


def test_pq_train_id_robust_seeding(spark):
    """Seeding is positional (row_number), not id arithmetic: sparse /
    offset / string ids must all seed k centroids deterministically, and
    an empty corpus raises explicitly instead of StopIteration."""
    import pytest

    from praw_etl_student_dropout_spark.operators.similarity import pq_train

    import random

    rng = random.Random(7)
    vecs = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(40)]
    # sparse + offset numeric ids (none divisible by the stride pattern)
    sparse = spark.createDataFrame(
        [(1_000_003 + 17 * i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    books = pq_train(sparse, m=4, k=8, iterations=1)
    assert len(books) == 4 and all(len(b) == 8 for b in books)
    assert books == pq_train(sparse, m=4, k=8, iterations=1)

    # string ids
    s = spark.createDataFrame(
        [(f"doc-{i:04d}", v) for i, v in enumerate(vecs)],
        "vec_id string, embedding array<double>",
    )
    books_s = pq_train(s, m=4, k=8, iterations=1)
    assert len(books_s) == 4 and all(len(b) == 8 for b in books_s)

    # n < k still fills every slot (fallback duplication)
    tiny = sparse.limit(3)
    books_t = pq_train(tiny, m=4, k=8, iterations=1)
    assert all(all(c is not None for c in b) for b in books_t)

    # empty corpus: explicit error, with and without dim
    empty = sparse.limit(0)
    with pytest.raises(ValueError, match="empty corpus"):
        pq_train(empty, m=4, k=8)
    with pytest.raises(ValueError, match="empty corpus"):
        pq_train(empty, m=4, k=8, dim=8)


def test_sample_centroids_id_robust(spark):
    """Hash-spread centroid seeding must yield exactly min(n,k) centroids
    for sparse, offset, and string ids — id%stride arithmetic could
    yield zero and silently empty every downstream probe."""
    import random

    from praw_etl_student_dropout_spark.operators.similarity import sample_centroids

    rng = random.Random(3)
    vecs = [[rng.uniform(-1, 1) for _ in range(4)] for _ in range(30)]
    sparse = spark.createDataFrame(
        [(7_000_001 + 13 * i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    c = sample_centroids(sparse, 8)
    rows = c.collect()
    assert sorted(r.centroid_id for r in rows) == list(range(8))
    assert rows == sample_centroids(sparse, 8).collect()  # deterministic

    s = spark.createDataFrame(
        [(f"v{i}", v) for i, v in enumerate(vecs)],
        "vec_id string, embedding array<double>",
    )
    assert sample_centroids(s, 8).count() == 8
    # n < k: every row becomes a centroid
    assert sample_centroids(sparse.limit(3), 8).count() == 3


def test_bm25_ranks_by_frequency_and_skips_nonmatching(spark):
    """BM25 sanity on controlled docs: equal-length docs rank by
    query-term frequency; a doc without any query term never appears;
    rarer query terms contribute more (idf) than common ones at equal
    tf."""
    from praw_etl_student_dropout_spark.operators.similarity import bm25_topk

    pad = "filler words only " * 4  # equal lengths across docs
    rows = [
        (1, f"spark spark spark {pad}"),
        (2, f"spark spark filler {pad}"),
        (3, f"spark filler extra {pad}"),
        (4, f"no match here at all {pad}"),
        # 'rare' appears in ONE doc, 'spark' in three → idf(rare) > idf(spark)
        (5, f"rare filler extra {pad}"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    out = bm25_topk(docs, ["spark", "rare"], k=10).collect()
    ids = [r.doc_id for r in out]
    assert 4 not in ids
    scores = {r.doc_id: r.bm25 for r in out}
    # frequency monotonicity at equal length and equal term
    assert scores[1] > scores[2] > scores[3]
    # idf: one 'rare' hit beats one 'spark' hit (same tf, same length)
    assert scores[5] > scores[3]


# ---------------------------------------------------------------------------
# MMR diversified re-ranking (bounded per-group applyInPandas).
# ---------------------------------------------------------------------------


def _ref_mmr(cands, k, lam):
    """Pure-Python MMR twin: cands = [(id, score, vec)], deterministic
    (mmr desc, id asc) tie-break — mirrors operators/similarity.py."""
    import math

    def cos(u, v):
        du = math.sqrt(sum(x * x for x in u)) or 1e-12
        dv = math.sqrt(sum(x * x for x in v)) or 1e-12
        return sum(a * b for a, b in zip(u, v)) / (du * dv)

    remaining = list(cands)
    selected, out = [], []
    for rank in range(1, min(k, len(cands)) + 1):
        scored = []
        for cid, rel, vec in remaining:
            pen = max((cos(vec, sv) for _, _, sv in selected), default=0.0)
            scored.append((lam * rel - (1 - lam) * pen, cid, rel, vec))
        scored.sort(key=lambda t: (-t[0], t[1]))
        mmr, cid, rel, vec = scored[0]
        out.append((cid, rank, mmr))
        selected.append((cid, rel, vec))
        remaining = [c for c in remaining if c[0] != cid]
    return out


def test_mmr_matches_reference_and_diversifies(spark):
    from praw_etl_student_dropout_spark.operators.similarity import mmr_rerank

    # two tight clusters + one outlier; relevance favors cluster A
    vecs = {
        0: ([1.0, 0.0, 0.0], 1.00),
        1: ([0.99, 0.1, 0.0], 0.98),
        2: ([0.98, 0.15, 0.0], 0.97),
        3: ([0.0, 1.0, 0.0], 0.60),
        4: ([0.0, 0.95, 0.2], 0.58),
        5: ([0.0, 0.0, 1.0], 0.30),
    }
    rows = [(7, cid, s, v) for cid, (v, s) in vecs.items()]
    cands = spark.createDataFrame(rows, ["query_id", "vec_id", "score", "embedding"])
    got = sorted(
        (r["vec_id"], r["mmr_rank"], r["mmr_score"])
        for r in mmr_rerank(cands, k=4, lam=0.5).collect()
    )
    ref = sorted(_ref_mmr([(c, s, v) for c, (v, s) in vecs.items()], 4, 0.5))
    assert [(g[0], g[1]) for g in got] == [(r[0], r[1]) for r in ref]
    for g, r in zip(got, ref):
        assert abs(g[2] - r[2]) < 1e-9
    # diversification property: with lam=0.5 the greedy pass must reach
    # beyond cluster A (plain top-4 by relevance would be {0,1,2,3})
    picked = {g[0] for g in got}
    assert 0 in picked and 5 in picked  # top hit kept, outlier pulled in


def test_mmr_rank1_is_top_relevance_and_groups_isolated(spark):
    from praw_etl_student_dropout_spark.operators.similarity import mmr_rerank

    rows = []
    for q in range(3):
        for c in range(6):
            vec = [1.0 if i == c else 0.0 for i in range(6)]
            rows.append((q, c + 10 * q, 1.0 - 0.1 * c, vec))
    cands = spark.createDataFrame(rows, ["query_id", "vec_id", "score", "embedding"])
    out = mmr_rerank(cands, k=3, lam=0.7).collect()
    assert len(out) == 9
    for q in range(3):
        grp = {r["mmr_rank"]: r["vec_id"] for r in out if r["query_id"] == q}
        assert grp[1] == 10 * q  # highest relevance wins rank 1
        assert all(v // 10 == q for v in grp.values())  # no cross-query leak


def test_ivf_int8_recall_tracks_raw_ivf(spark, sf_dir):
    """IVF+SQ8 recall@10 vs exact raw-cosine brute force: quantization
    costs little on 64-dim vectors, so the composed index must stay
    within reach of the raw-float IVF at the same nprobe."""
    from praw_etl_student_dropout_spark.operators.similarity import ivf_int8_topk

    e = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    queries = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = brute_force_topk(queries, e, k=10).collect()
    centroids = sample_centroids(e, num_centroids=16)
    approx = ivf_int8_topk(
        queries, e, centroids, k=10, nprobe=8
    ).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.vec_id)
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    mean_r = sum(recalls) / len(recalls)
    assert mean_r >= 0.5, f"mean IVF+SQ8 recall@10 {mean_r:.2f}"
    # quantized scores are integers + IEEE-exact ops: rank ties impossible
    # to differ across runs — determinism probe
    again = ivf_int8_topk(queries, e, centroids, k=10, nprobe=8).collect()
    assert {tuple(r) for r in approx} == {tuple(r) for r in again}

# m=2 subspaces of 2 dims, 2 centroids each: tiny hand-built PQ codebooks
_TIE_BOOKS = [[[1.0, 0.0], [0.6, 0.8]], [[0.0, 0.0], [1.0, 0.0]]]
_TIE_TOPK = {
    "brute_force_topk": lambda q, c, cents: brute_force_topk(q, c, k=10),
    "hard_negative_topk": lambda q, c, cents: hard_negative_topk(q, c, k=10),
    "ivf_topk": lambda q, c, cents: ivf_topk(
        q, assign_centroids(c, cents), cents, k=10, nprobe=2
    ),
    "pq_topk": lambda q, c, cents: pq_topk(q, pq_encode(c, _TIE_BOOKS), _TIE_BOOKS, k=10),
    "ivfpq_topk": lambda q, c, cents: ivfpq_topk(
        q, assign_centroids(c, cents), cents, pq_encode(c, _TIE_BOOKS), _TIE_BOOKS,
        k=10, nprobe=2,
    ),
    "int8_topk": lambda q, c, cents: int8_topk(
        q, c, query_id="query_id", corpus_id="vec_id",
        query_vec="query_vec", corpus_vec="embedding", k=10,
    ),
    "ivf_int8_topk": lambda q, c, cents: ivf_int8_topk(q, c, cents, k=10, nprobe=2),
}


@pytest.mark.parametrize("op", list(_TIE_TOPK))
def test_topk_ranks_dense_and_ties_order_by_id(spark, op):
    """Every ANN operator ends in the same per-query top-k stage: ranks
    are exactly 1..n per query, and equal scores order by corpus id
    ascending. Duplicated corpus vectors make scores tie exactly."""
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.6, 0.8, 0.0, 0.0]),
            (3, [1.0, 0.0, 0.0, 0.0]),
            (4, [0.6, 0.8, 0.0, 0.0]),
            (5, [0.0, 0.0, 1.0, 0.0]),
            (6, [1.0, 0.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 0.2, 0.0, 0.0]), (101, [0.0, 0.0, 1.0, 0.5])],
        "query_id long, query_vec array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 0.0, 1.0, 0.0])],
        "centroid_id int, centroid_vec array<double>",
    )
    score = "qcos" if "int8" in op else "score"
    by_q: dict[int, list] = {}
    for r in _TIE_TOPK[op](queries, corpus, cents).collect():
        by_q.setdefault(r["query_id"], []).append((r["rank"], r[score], r["vec_id"]))
    assert set(by_q) == {100, 101}
    ties = 0
    for qid, got in by_q.items():
        got.sort()
        assert [rank for rank, _, _ in got] == list(range(1, len(got) + 1)), got
        for (_, s1, id1), (_, s2, id2) in zip(got, got[1:]):
            assert s1 > s2 or (s1 == s2 and id1 < id2), (qid, got)
            ties += s1 == s2
    assert ties, "the fixture must produce tied scores"


def test_hard_negatives_exclude_dups_and_self(spark):
    from praw_etl_student_dropout_spark.operators.similarity import (
        hard_negative_topk,
    )

    # corpus: query 0's exact duplicate (id 10), a near-dup (id 11), and
    # progressively-less-similar vectors
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (10, [1.0, 0.0, 0.0]),          # exact dup -> excluded
        (11, [0.999, 0.04, 0.0]),       # cosine ~0.999 -> excluded
        (12, [0.9, 0.43, 0.0]),         # hard negative
        (13, [0.5, 0.86, 0.0]),         # medium
        (14, [0.0, 1.0, 0.0]),          # easy
    ]
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = corpus.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = hard_negative_topk(
        q, corpus, k=3, dup_threshold=0.95, corpus_vec="embedding"
    ).collect()
    ids = [r.vec_id for r in sorted(out, key=lambda r: r.rank)]
    assert ids == [12, 13, 14]
    assert all(r.score < 0.95 for r in out)
    assert all(r.vec_id != 0 for r in out)
    # ranks descend with score
    scores = [r.score for r in sorted(out, key=lambda r: r.rank)]
    assert scores == sorted(scores, reverse=True)


def test_int8_quantize_bounds_and_norm(spark):
    vecs = spark.createDataFrame(
        [
            (1, [0.5, -1.0, 0.25, 0.0]),
            (2, [3.0, 3.0, -3.0, 1.5]),
            (3, [0.0, 0.0, 0.0, 0.0]),  # zero vector: dropped
        ],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in int8_quantize(vecs, "embedding").collect()}
    assert set(out) == {1, 2}  # zero vector dropped
    for r in out.values():
        assert all(-127 <= q <= 127 for q in r["qvec"])
        assert max(abs(q) for q in r["qvec"]) == 127  # scale hits the max coord
        assert r["qnorm2"] == sum(q * q for q in r["qvec"])
    assert out[1]["qvec"] == [64, -127, 32, 0]  # round(0.5*127), ...
    assert out[2]["qvec"] == [127, 127, -127, 64]  # round(1.5*127/3)=round(63.5)=64


def test_int8_topk_tracks_exact_cosine(spark, sf_dir):
    """Quantized cosine stays within 0.05 of true cosine on the 64-dim
    fixture embeddings, and the top-1 neighbor by quantized score is
    inside the exact top-3 for every query (SQ8's retrieval contract:
    near-lossless at this dimensionality)."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = e.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = int8_topk(
        queries, e, query_id="query_id", corpus_id="vec_id",
        query_vec="query_vec", corpus_vec="embedding", k=5,
    ).collect()
    vecs = {r["vec_id"]: r["embedding"] for r in e.collect()}

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return dot / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        )

    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
        assert abs(r["qcos"] - cos(vecs[r["query_id"]], vecs[r["vec_id"]])) < 0.05
    for qid, rows in by_q.items():
        assert [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])] == list(
            range(1, 6)
        )
        exact = sorted(
            ((cos(vecs[qid], v), vid) for vid, v in vecs.items() if vid != qid),
            reverse=True,
        )
        top3_exact = {vid for _, vid in exact[:3]}
        top1_quant = next(r["vec_id"] for r in rows if r["rank"] == 1)
        assert top1_quant in top3_exact
