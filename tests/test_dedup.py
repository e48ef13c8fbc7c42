"""Dedup invariants (SURVEY.md §5.3): idempotence, exact-vs-approx
containment, determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from praw_etl_student_dropout_spark.operators.dedup import (
    embedding_dup_md5_pairs,
    embedding_dup_pairs,
    exact_dedup,
    jaccard_prefix_pairs,
    minhash_dedup_pairs,
    minhash_dedup_pairs_with_report,
    minhash_md5_pairs,
    ngram_jaccard_pairs,
    shingle_containment_pairs,
    simhash_dup_pairs,
    word_shingles,
)
from praw_etl_student_dropout_spark.plans.cache_registry import release_session_caches
from praw_etl_student_dropout_spark.sources.readers import (
    load_tables,
    read_json_with_quarantine,
)


def docs(spark, sf_dir):
    return load_tables(spark, sf_dir, ["documents"])["documents"]


def test_exact_dedup_idempotent(spark, sf_dir):
    d = docs(spark, sf_dir)
    once = exact_dedup(d, "text", "doc_id")
    n1 = once.count()
    # dedup of the dedup result changes nothing (INSERT IGNORE semantics,
    # etl_pipeline.py:122)
    again = exact_dedup(
        once.join(d, "doc_id").select("doc_id", "text"), "text", "doc_id"
    )
    assert again.count() == n1
    # duplicating the input changes nothing but dup_count
    doubled = d.unionByName(d)
    n2 = exact_dedup(doubled, "text", "doc_id").count()
    assert n2 == n1


def test_exact_dedup_finds_planted_duplicate(spark, sf_dir):
    d = docs(spark, sf_dir)
    clone = d.limit(1).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    planted = d.unionByName(clone)
    result = exact_dedup(planted, "text", "doc_id")
    dups = result.filter(F.col("dup_count") >= 2)
    assert dups.count() >= 1
    # survivor is the min id — the original, not the 1M clone
    assert result.agg(F.max("doc_id")).first()[0] < 1_000_000


def test_minhash_pairs_subset_of_exact_jaccard(spark, sf_dir):
    d = docs(spark, sf_dir)
    threshold = 0.2
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(d, "text", "doc_id", n=3, threshold=threshold).collect()
    }
    approx = minhash_dedup_pairs(
        d, "text", "doc_id", threshold=threshold, num_hashes=32, bands=16
    ).collect()
    approx_pairs = {(r.id_a, r.id_b) for r in approx}
    # verified with TRUE jaccard → no false positives
    assert approx_pairs <= exact
    # LSH at b=16,r=2 has high collision prob at j>=0.2 → decent recall
    if exact:
        recall = len(approx_pairs) / len(exact)
        assert recall >= 0.5, f"recall {recall:.2f} over {len(exact)} true pairs"


def test_minhash_planted_duplicate_found(spark, sf_dir):
    d = docs(spark, sf_dir)
    clone = d.limit(3).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    planted = d.unionByName(clone)
    pairs = minhash_dedup_pairs(planted, "text", "doc_id", threshold=0.9).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    expected = {(r.doc_id, r.doc_id + 1_000_000) for r in d.limit(3).collect()}
    assert expected <= found  # identical docs always collide in every band


def test_simhash_identical_docs_zero_hamming(spark, sf_dir):
    d = docs(spark, sf_dir)
    clone = d.limit(2).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    pairs = simhash_dup_pairs(d.unionByName(clone), "text", "doc_id", max_hamming=0, bands=4)
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    for r in d.limit(2).collect():
        assert got.get((r.doc_id, r.doc_id + 1_000_000)) == 0


def test_embedding_lsh_subset_of_exact(spark, sf_dir):
    e = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    lsh = embedding_dup_pairs(e, "embedding", "vec_id", threshold=0.3, num_planes=8)
    from praw_etl_student_dropout_spark.functions.arrays import cosine_similarity

    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    exact = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(cosine_similarity(F.col("ea"), F.col("eb")) >= 0.3)
        .select("id_a", "id_b")
    )
    exact_pairs = {(r.id_a, r.id_b) for r in exact.collect()}
    lsh_pairs = {(r.id_a, r.id_b) for r in lsh.collect()}
    assert lsh_pairs <= exact_pairs  # bucket-verified → no false positives


def test_word_shingles_short_doc(spark):
    df = spark.createDataFrame([(1, "a b"), (2, "a b c d")], ["id", "t"])
    rows = {r.id: r.sh for r in df.select("id", word_shingles(F.col("t"), 3).alias("sh")).collect()}
    assert rows[1] == ["a b"]  # shorter than n → whole-text shingle
    assert rows[2] == ["a b c", "b c d"]


def test_connected_components_partition_and_min_label(spark):
    from praw_etl_student_dropout_spark.operators.clusters import (
        connected_components,
        dup_clusters,
    )

    # two chains and a singleton-free triangle: {1-2-3}, {10-11}, {20-21-22}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    comps = {r["id"]: r["comp"] for r in connected_components(edges).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    sizes = {r["comp_id"]: r["n_members"] for r in dup_clusters(edges).collect()}
    assert sizes == {1: 3, 10: 2, 20: 3}


def test_dup_clusters_cover_all_paired_docs(spark, sf_dir):
    from praw_etl_student_dropout_spark.operators.clusters import dup_clusters
    from praw_etl_student_dropout_spark.operators.dedup import ngram_jaccard_pairs
    from praw_etl_student_dropout_spark.sources.readers import load_tables

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.3).select(
        "id_a", "id_b"
    )
    n_paired = (
        pairs.select(F.col("id_a").alias("id"))
        .union(pairs.select(F.col("id_b").alias("id")))
        .distinct()
        .count()
    )
    clusters = dup_clusters(pairs)
    stats = clusters.agg(
        F.sum("n_members").alias("total"), F.min("n_members").alias("mn")
    ).first()
    assert stats["total"] == n_paired  # clusters partition the paired docs
    assert stats["mn"] >= 2  # every cluster came from at least one pair


def _skew_docs(spark, n_docs: int = 60):
    """Every doc opens with the same 6-token boilerplate (hot shingles in
    ALL docs), then diverges into unique tokens; docs 0/1 and 2/3 are
    planted near-dups sharing their unique tails too."""
    rows = []
    boiler = "terms of service apply to"
    for i in range(n_docs):
        tail_seed = i // 2 if i < 4 else i  # 0/1 and 2/3 share tails
        tail = " ".join(f"tok{tail_seed}x{j}" for j in range(8))
        rows.append((i, f"{boiler} {tail}"))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_shingle_df_cap_bounds_candidate_fanout(spark):
    from praw_etl_student_dropout_spark.operators.dedup import shingle_index

    d = _skew_docs(spark)
    join_on = lambda idx: (
        idx.alias("l")
        .join(
            idx.alias("r"),
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select("l.doc_id", "r.doc_id")
        .distinct()
        .count()
    )
    uncapped = join_on(shingle_index(d, "text", "doc_id", 3))
    capped = join_on(shingle_index(d, "text", "doc_id", 3, max_doc_freq=5))
    # the hot boilerplate shingles pair every doc with every other
    assert uncapped >= 60 * 59 // 2
    # with df>5 shingles dropped, only the planted dup pairs remain
    assert capped == 2


def test_ngram_jaccard_capped_values_match_uncapped(spark):
    """The cap prunes CANDIDATES only; any surfaced pair's jaccard is
    verified over full shingle arrays and must equal the uncapped value."""
    d = _skew_docs(spark)
    uncapped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(d, "text", "doc_id", 3, threshold=0.5).collect()
    }
    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            d, "text", "doc_id", 3, threshold=0.5, max_doc_freq=5
        ).collect()
    }
    assert set(capped) == {(0, 1), (2, 3)}
    for pair, j in capped.items():
        assert j == uncapped[pair]


def test_contamination_cap_counts_only_rare_shingles(spark):
    from praw_etl_student_dropout_spark.operators.dedup import contamination_pairs

    d = _skew_docs(spark)
    corpus = d.filter(F.col("doc_id") >= 2)
    bench = d.filter(F.col("doc_id") < 2)
    uncapped = contamination_pairs(corpus, bench, "text", "doc_id", 3, min_shared=2)
    capped = contamination_pairs(
        corpus, bench, "text", "doc_id", 3, min_shared=2, max_doc_freq=5
    )
    # boilerplate alone clears min_shared for EVERY corpus doc uncapped...
    assert uncapped.count() == corpus.count() * 2
    # ...but certifies nothing once hot shingles are dropped
    assert capped.count() == 0


def test_banded_embedding_lsh_recall_at_095(spark):
    """Planted near-dup clones (cosine >= 0.95): banded hyperplane LSH
    must recover >= 0.9 of the exact pairs at the 0.95 threshold (the
    banding curve gives ~0.99 for r=8, b=8 at p≈0.899), with zero false
    positives (exact-cosine verify)."""
    import numpy as np

    from praw_etl_student_dropout_spark.functions.arrays import cosine_similarity

    rng = np.random.default_rng(7)
    rows = []
    for i in range(120):
        v = rng.standard_normal(32)
        rows.append((i, [float(x) for x in v]))
        if i < 40:  # clone with small perturbation -> cosine ~0.97
            w = v + 0.25 * np.linalg.norm(v) / np.sqrt(32) * rng.standard_normal(32)
            rows.append((1000 + i, [float(x) for x in w]))
    e = spark.createDataFrame(rows, ["vec_id", "embedding"]).repartition(8)

    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    exact = {
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(cosine_similarity(F.col("ea"), F.col("eb")) >= 0.95)
        .collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in embedding_dup_pairs(
            e, "embedding", "vec_id", threshold=0.95, num_planes=64, bands=8, dim=32
        ).collect()
    }
    assert len(exact) >= 30  # fixture actually planted measurable dups
    assert lsh <= exact  # no false positives
    assert len(lsh) / len(exact) >= 0.9


def test_jaccard_prefix_equals_full_inverted_index(spark, sf_dir):
    """Prefix filtering is lossless by theorem (pairs with Jaccard >= t
    must share a prefix shingle): the result must EQUAL the full
    inverted-index join at the same threshold — and the prefix index it
    joins on must be strictly smaller than the full index."""
    from praw_etl_student_dropout_spark.operators.dedup import (
        jaccard_prefix_pairs,
        ngram_jaccard_pairs,
        word_shingles,
    )
    from praw_etl_student_dropout_spark.sources.readers import load_tables

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    t = 0.3
    got = sorted(
        tuple(r)
        for r in jaccard_prefix_pairs(docs, "text", "doc_id", n=3, threshold=t).collect()
    )
    want = sorted(
        tuple(r)
        for r in ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=t).collect()
    )
    assert got == want
    assert len(got) > 0, "fixture must contain near-duplicate pairs"
    # index-size reduction: sum of prefix lengths < total shingle count
    sizes = docs.select(
        F.size(word_shingles(F.col("text"), 3)).alias("n")
    ).agg(
        F.sum("n").alias("full"),
        F.sum(
            F.col("n") - F.ceil(F.lit(t) * F.col("n")).cast("int") + 1
        ).alias("prefix"),
    ).first()
    assert sizes.prefix < sizes.full


def test_leakage_safe_split_no_pair_straddles_splits(spark, sf_dir):
    """The invariant the operator exists for: both ends of every near-dup
    pair get the same split; singletons keep the plain hash-split
    distribution shape (all three splits non-empty on the fixture)."""
    from praw_etl_student_dropout_spark.operators.dedup import ngram_jaccard_pairs
    from praw_etl_student_dropout_spark.operators.sampling import leakage_safe_split
    from praw_etl_student_dropout_spark.sources.readers import load_tables

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.3).select(
        "id_a", "id_b"
    )
    assert pairs.count() > 0, "fixture must contain near-dup pairs"
    assigned = leakage_safe_split(docs, pairs).persist()
    a = assigned.select(
        F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")
    )
    b = assigned.select(
        F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")
    )
    straddling = (
        pairs.join(a, "id_a").join(b, "id_b").filter("split_a != split_b").count()
    )
    assert straddling == 0
    splits = {r.split for r in assigned.select("split").distinct().collect()}
    assert splits == {"train", "val", "test"}
    assert assigned.count() == docs.count()
    assigned.unpersist()


def test_minhash_bucket_cap_bounds_degenerate_corpus(spark, sf_dir):
    """Mass EXACT duplicates (what raw crawl data looks like) put all B
    copies in one (band, band_sig) bucket per band → B·(B-1)/2 candidate
    pairs without a cap. With max_bucket_size the hot buckets are dropped
    from the join (bounded candidate count) and minhash_hot_buckets
    reports exactly the skipped mass — truncation is never silent."""
    from praw_etl_student_dropout_spark.operators.dedup import minhash_hot_buckets

    d = docs(spark, sf_dir)
    base = d.limit(10).select("doc_id", "text")
    one = d.limit(1).select("text").first().text
    b = 1000
    clones = spark.range(b).select(
        (F.col("id") + 2_000_000).alias("doc_id"), F.lit(one).alias("text")
    )
    degenerate = base.unionByName(clones)

    capped = minhash_dedup_pairs(
        degenerate, "text", "doc_id", threshold=0.9, max_bucket_size=50
    )
    got = capped.collect()
    # the 1000-clone bucket is dropped: no pair may touch two clones
    clone_pairs = [r for r in got if r.id_a >= 2_000_000 and r.id_b >= 2_000_000]
    assert clone_pairs == []
    assert len(got) <= 10 * 9 / 2  # bounded by the small-doc population

    report = minhash_hot_buckets(
        degenerate, "text", "doc_id", max_bucket_size=50
    ).collect()
    assert report, "hot buckets must be reported, not silently dropped"
    biggest = max(r.bucket_size for r in report)
    assert biggest >= b  # the clone bucket (clones + possibly the original)
    assert max(r.pairs_skipped for r in report) >= b * (b - 1) // 2
    # every reported bucket is genuinely over the cap
    assert all(r.bucket_size > 50 for r in report)


def test_minhash_with_report_shares_parameterization(spark, sf_dir):
    """minhash_dedup_pairs_with_report builds ONE banded index and
    derives both the capped join and the dropped-mass report from it, so
    the report describes exactly the buckets the join skipped even under
    NON-default banding (the failure mode: calling minhash_hot_buckets
    separately with different num_hashes/bands silently reports
    different buckets)."""
    from praw_etl_student_dropout_spark.operators.dedup import (
        minhash_dedup_pairs_with_report,
        minhash_hot_buckets,
    )

    d = docs(spark, sf_dir)
    base = d.limit(10).select("doc_id", "text")
    one = d.limit(1).select("text").first().text
    clones = spark.range(300).select(
        (F.col("id") + 2_000_000).alias("doc_id"), F.lit(one).alias("text")
    )
    degenerate = base.unionByName(clones)

    # non-default banding on purpose
    pairs, report = minhash_dedup_pairs_with_report(
        degenerate, "text", "doc_id", max_bucket_size=50,
        threshold=0.9, num_hashes=16, bands=4,
    )
    got_pairs = pairs.collect()
    got_report = report.collect()
    assert all(not (r.id_a >= 2_000_000 and r.id_b >= 2_000_000) for r in got_pairs)
    assert got_report and max(r.bucket_size for r in got_report) >= 300
    # the report equals minhash_hot_buckets under the SAME banding...
    same = minhash_hot_buckets(
        degenerate, "text", "doc_id", 50, num_hashes=16, bands=4
    ).collect()
    assert sorted(map(tuple, got_report)) == sorted(map(tuple, same))
    # ...and differs from the default banding a naive caller would use —
    # which is exactly why the report must be derived from the join's index
    other = minhash_hot_buckets(degenerate, "text", "doc_id", 50).collect()
    assert sorted(map(tuple, other)) != sorted(map(tuple, got_report))


def test_minhash_cap_preserves_normal_pairs(spark, sf_dir):
    """On a normal corpus (no over-full buckets) the capped run returns
    exactly the uncapped pairs — the cap only sheds pathological mass."""
    d = docs(spark, sf_dir)
    uncapped = {
        (r.id_a, r.id_b)
        for r in minhash_dedup_pairs(d, "text", "doc_id", threshold=0.5).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in minhash_dedup_pairs(
            d, "text", "doc_id", threshold=0.5, max_bucket_size=100
        ).collect()
    }
    assert capped == uncapped


def test_connected_components_long_chain_converges(spark):
    """A duplicate CHAIN longer than the round budget (drifting
    boilerplate: a~b~c~...) must still collapse to one component —
    pointer jumping gives O(log diameter) rounds; plain neighbor-min
    would need diameter rounds and silently mislabel."""
    from praw_etl_student_dropout_spark.operators.clusters import (
        connected_components,
    )

    n = 120
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    out = connected_components(edges, max_iter=12)  # 2^12 >> 120
    assert {r.comp for r in out.collect()} == {0}
    assert out.count() == n


def test_shared_span_guarantee_and_edges(spark):
    """Winnowing guarantee: two docs sharing a verbatim run of exactly
    k+w-1 tokens MUST collide on >=1 selected fingerprint (k=4, w=3 →
    6-token span). Docs shorter than k tokens index nothing; a doc
    repeating its own span indexes each print once (DISTINCT), so a
    self-repetitive doc can't inflate pair evidence."""
    from praw_etl_student_dropout_spark.operators.dedup import (
        shared_span_pairs,
        winnowed_fingerprints,
    )

    span = "alpha beta gamma delta epsilon zeta"  # 6 = k+w-1 tokens
    rows = [
        (1, f"left padding words here {span} and unrelated tail content"),
        (2, f"totally different head {span} trailing words differ too"),
        (3, "no overlap with anything else at all in this one document"),
        (4, "tiny doc"),  # < k tokens → no fingerprints
        (5, f"{span} {span} {span}"),  # self-repetition
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    pairs = shared_span_pairs(
        docs, "text", "doc_id", k=4, w=3, min_shared=1
    ).collect()
    got = {(r.doc_a, r.doc_b) for r in pairs}
    assert (1, 2) in got, got  # the guarantee
    assert not any(3 in p or 4 in p for p in got), got
    # doc 4 yields no prints at all
    fps = winnowed_fingerprints(docs, "text", "doc_id", k=4, w=3)
    assert fps.filter(F.col("doc_id") == 4).count() == 0
    # doc 5's triple self-repeat still indexes each print once
    per_doc = dict(
        fps.groupBy("doc_id").count().rdd.map(lambda r: (r.doc_id, r["count"])).collect()
    )
    # 18 tokens → 15 windows, but the repeated span means ≤ distinct hashes
    assert per_doc[5] <= 15
    # layout invariance: content-hash prints are identical under repartition
    a = set(map(tuple, fps.collect()))
    b = set(
        map(
            tuple,
            winnowed_fingerprints(
                docs.repartition(7), "text", "doc_id", k=4, w=3
            ).collect(),
        )
    )
    assert a == b


def test_shared_span_regions_localize_planted_block(spark):
    """Localization: a verbatim block planted at KNOWN token offsets in
    two documents must be covered by the reported hull, and the hull
    must not extend past the evidence (first/last matched window ± the
    window length). k=4, w=2 → guarantee for runs >= 5 tokens."""
    from praw_etl_student_dropout_spark.operators.dedup import shared_span_regions

    block = "copyright notice block shared verbatim across documents here"  # 9 tokens
    # doc 1: block at tokens 4..12 (3 tokens before); doc 2: at 1..9
    rows = [
        (1, f"alpha bravo charlie {block} tail one two"),
        (2, f"{block} completely different ending text"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    out = shared_span_regions(
        docs, "text", "doc_id", k=4, w=2, min_shared=1
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.doc_a, r.doc_b) == (1, 2)
    # doc 1's block spans token positions 4..12; matched windows start
    # within [4, 9] (window length 4), so the hull must sit inside the
    # block and reach its end.
    assert 4 <= r.a_start <= 9 and r.a_end <= 12
    assert 1 <= r.b_start <= 6 and r.b_end <= 9
    # hull end = last matched window start + k - 1 must reach the
    # block's last guaranteed-covered window
    assert r.a_end >= 10 and r.b_end >= 7
    # consistency with the pair variant: same pair, same evidence count
    from praw_etl_student_dropout_spark.operators.dedup import shared_span_pairs

    p = shared_span_pairs(docs, "text", "doc_id", k=4, w=2, min_shared=1).collect()
    assert len(p) == 1 and p[0].n_shared_fps == r.n_shared_fps


# ---------------------------------------------------------------------------
# Cross-document line-level dedup (CCNet-style boilerplate removal).
# ---------------------------------------------------------------------------


def test_line_dedup_removes_shared_lines_keeps_order(spark):
    from praw_etl_student_dropout_spark.operators.dedup import line_dedup

    boiler = "subscribe to our newsletter"
    rows = [
        (0, f"unique alpha\n{boiler}\nunique beta"),
        (1, f"{boiler}\nsolo gamma"),
        (2, f"first delta\nsecond epsilon\n{boiler}"),
        (3, boiler),  # fully boilerplate -> must survive as empty, not vanish
        (4, "entirely original\nno shared lines here"),
    ]
    out = {
        r["doc_id"]: r
        for r in line_dedup(
            spark.createDataFrame(rows, ["doc_id", "text"]), min_doc_freq=2
        ).collect()
    }
    assert len(out) == 5
    assert out[0]["text_clean"] == "unique alpha\nunique beta"
    assert out[1]["text_clean"] == "solo gamma"
    assert out[2]["text_clean"] == "first delta\nsecond epsilon"
    assert out[3]["text_clean"] == "" and out[3]["n_kept"] == 0
    assert out[4]["text_clean"] == rows[4][1]
    assert out[0]["n_lines"] == 3 and out[0]["n_kept"] == 2


def test_line_dedup_doc_freq_is_distinct_docs(spark):
    """A line repeated WITHIN one doc is not boilerplate (doc_freq=1)."""
    from praw_etl_student_dropout_spark.operators.dedup import line_dedup

    rows = [(0, "echo\necho\necho"), (1, "other text")]
    out = {
        r["doc_id"]: r
        for r in line_dedup(
            spark.createDataFrame(rows, ["doc_id", "text"]), min_doc_freq=2
        ).collect()
    }
    assert out[0]["text_clean"] == "echo\necho\necho"


def test_line_dedup_deterministic_across_partitioning(spark):
    from praw_etl_student_dropout_spark.operators.dedup import line_dedup

    rows = [(i, f"shared line\nuniq {i}") for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    a = sorted(map(tuple, line_dedup(df.repartition(9), min_doc_freq=2).collect()))
    b = sorted(map(tuple, line_dedup(df.coalesce(1), min_doc_freq=2).collect()))
    assert a == b
    assert all(t[3] == f"uniq {t[0]}" for t in a)


def test_passjoin_equals_brute_force_and_handles_ties(spark, sf_dir):
    """PassJoin candidates are lossless (pigeonhole): result must equal
    the all-pairs levenshtein join exactly, at two k values."""
    from praw_etl_student_dropout_spark.operators.dedup import passjoin_pairs

    part = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .filter(F.col("p_partkey") < 300)
        .select("p_partkey", "p_name")
    )
    names = {r.p_partkey: r.p_name for r in part.collect()}

    def brute(k):
        import functools

        @functools.lru_cache(maxsize=None)
        def lev(a, b):
            if not a:
                return len(b)
            if not b:
                return len(a)
            return min(
                lev(a[:-1], b) + 1,
                lev(a, b[:-1]) + 1,
                lev(a[:-1], b[:-1]) + (a[-1] != b[-1]),
            )

        out = set()
        ids = sorted(names)
        for i, x in enumerate(ids):
            for y in ids[i + 1 :]:
                d = lev(names[x], names[y])
                if d <= k:
                    out.add((x, y, d))
        return out

    for k in (1, 2):
        got = {
            (r.id_a, r.id_b, r.edit_dist)
            for r in passjoin_pairs(part, "p_partkey", "p_name", max_dist=k).collect()
        }
        assert got == brute(k), f"k={k}"


QUARANTINE_SCHEMA = T.StructType([T.StructField("id", T.LongType(), True)])

# Every operator that persists an intermediate inside a lazily returned
# plan; each entry maps (documents, embeddings, json path) to its outputs.
LAZY_CACHING_OPS = {
    "ngram_jaccard": lambda d, e, p: [ngram_jaccard_pairs(d, "text", "doc_id")],
    "ngram_jaccard_capped": lambda d, e, p: [
        ngram_jaccard_pairs(d, "text", "doc_id", max_doc_freq=5)
    ],
    "simhash": lambda d, e, p: [simhash_dup_pairs(d, "text", "doc_id")],
    "containment": lambda d, e, p: [shingle_containment_pairs(d, "text", "doc_id")],
    "containment_capped": lambda d, e, p: [
        shingle_containment_pairs(d, "text", "doc_id", max_doc_freq=5)
    ],
    "jaccard_prefix": lambda d, e, p: [jaccard_prefix_pairs(d, "text", "doc_id")],
    "minhash": lambda d, e, p: [minhash_dedup_pairs(d, "text", "doc_id")],
    "minhash_capped": lambda d, e, p: [
        minhash_dedup_pairs(d, "text", "doc_id", max_bucket_size=50)
    ],
    "minhash_with_report": lambda d, e, p: list(
        minhash_dedup_pairs_with_report(d, "text", "doc_id", max_bucket_size=50)
    ),
    "minhash_md5": lambda d, e, p: [minhash_md5_pairs(d, "text", "doc_id")],
    "minhash_md5_capped": lambda d, e, p: [
        minhash_md5_pairs(d, "text", "doc_id", max_bucket_size=2)
    ],
    "embedding_capped": lambda d, e, p: [
        embedding_dup_pairs(e, "embedding", "vec_id", dim=64, max_bucket_size=600)
    ],
    "embedding_md5_capped": lambda d, e, p: [
        embedding_dup_md5_pairs(e, "embedding", "vec_id", max_bucket_size=600)
    ],
    "json_quarantine": lambda d, e, p: list(
        read_json_with_quarantine(d.sparkSession, p, QUARANTINE_SCHEMA)
    ),
}


@pytest.mark.parametrize("op", list(LAZY_CACHING_OPS))
def test_lazy_operator_caches_are_released(spark, sf_dir, tmp_path, op):
    """Every intermediate a lazily returned operator persists is owned by
    the session cache registry: after the caller's action,
    release_session_caches() leaves no cached RDD that was not there
    before the call (a leaked index would let a later run serve it from
    cache)."""
    tables = load_tables(spark, sf_dir, ["documents", "embeddings"])
    path = tmp_path / "in.jsonl"
    path.write_text('{"id": 1}\nnot json\n')

    def cached():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    # Start from an empty cache: Spark's CacheManager skips persisting a
    # plan an earlier call left cached, which would hide a leak here.
    spark.catalog.clearCache()
    before = cached()
    for df in LAZY_CACHING_OPS[op](tables["documents"], tables["embeddings"], str(path)):
        df.count()
    release_session_caches()
    assert cached() <= before


CAPPED_MINHASH = {
    "md5": lambda docs: minhash_md5_pairs(
        docs, "text", "doc_id", threshold=0.2, num_hashes=16, bands=8,
        max_bucket_size=2,
    ),
    "xxhash": lambda docs: minhash_dedup_pairs(
        docs, "text", "doc_id", max_bucket_size=2
    ),
}


@pytest.mark.parametrize("coin", list(CAPPED_MINHASH))
def test_minhash_md5_capped_single_corpus_scan(spark, sf_dir, tmp_path, coin):
    """The capped MinHash pipeline shingles and signs the corpus ONCE:
    the bucket census, both candidate self-join sides and the verify all
    read the one tracked (id, sh, sig) frame, so the runtime-final plan
    reads the corpus once and (md5 coin) evaluates md5 once. A second
    FileScan or md5 means a consumer recomputes the signature pipeline
    on its own (2x corpus I/O and hashing at scale).

    The corpus is read from a test-unique COPY of the fixture: earlier
    tests leave persisted shingle/index frames alive, and the
    CacheManager's canonical-plan substitution of those fragments
    changes this query's scan count in ways that have nothing to do
    with the invariant under test (a clean driver/bench session has no
    such caches)."""
    import shutil

    iso = tmp_path / "documents.parquet"
    shutil.copy(f"{sf_dir}/documents.parquet", iso)
    docs = spark.read.parquet(str(iso))
    pairs = CAPPED_MINHASH[coin](docs)
    pairs.collect()  # AQE reuse is a runtime decision
    final = (
        pairs._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert final.count("Scan parquet") == 1, (
        "a consumer re-scans the corpus instead of reading the tracked frame"
    )
    if coin == "md5":
        assert final.count("md5(") == 1, "the md5 signature is evaluated more than once"
