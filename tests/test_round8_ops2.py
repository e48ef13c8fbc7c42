"""Invariant tests for a50_survival_km, a51_bootstrap_ci, the PageRank
fixed-round path, SimHash-md5 banding, skyline and JSON quarantine.

The full-value differential proof lives in the oracle entries; these
pin the operator-level contracts a value hash can't express: KM
risk-set accounting, bootstrap determinism/coverage, banding
losslessness.
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from praw_etl_student_dropout_spark.plans import catalog_all

from tests.conftest import SF_DIR


def _orders(spark, rows):
    return spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )


def test_survival_km_risk_accounting(spark, tmp_path):
    """Hand-built history: risk set telescopes (risk[t+1] = risk[t] -
    events[t] - censored[t] across occupied tenures), every customer is
    accounted exactly once, and the final-3-month censoring rule holds."""
    d = lambda y, m: datetime.datetime(y, m, 15)
    rows = [
        # cust 1: first 2023-01, last 2023-06 -> tenure 5, dropped
        (1, 1, "O", 10.0, d(2023, 1), "x"),
        (2, 1, "O", 10.0, d(2023, 6), "x"),
        # cust 2: single order 2023-03 -> tenure 0, dropped
        (3, 2, "O", 10.0, d(2023, 3), "x"),
        # cust 3: first 2023-01, last 2024-05 (horizon month) -> censored
        (4, 3, "O", 10.0, d(2023, 1), "x"),
        (5, 3, "O", 10.0, d(2024, 5), "x"),
        # cust 4: last 2024-03 = horizon-2 -> censored (boundary)
        (6, 4, "O", 10.0, d(2024, 1), "x"),
        (7, 4, "O", 10.0, d(2024, 3), "x"),
    ]
    _orders(spark, rows).write.mode("overwrite").parquet(
        str(tmp_path / "orders.parquet")
    )
    km = (
        catalog_all()["a50_survival_km"]
        .builder(spark, str(tmp_path))
        .orderBy("tenure_months")
        .collect()
    )
    by_t = {r["tenure_months"]: r for r in km}
    # every customer accounted exactly once
    assert sum(r["n_events"] + r["n_censored"] for r in km) == 4
    # tenure 0: cust 2 dropped; risk set = all 4
    assert by_t[0]["n_risk"] == 4 and by_t[0]["n_events"] == 1
    # tenure 2: cust 4 censored (last month = horizon - 2, boundary in)
    assert by_t[2]["n_censored"] == 1 and by_t[2]["n_events"] == 0
    # tenure 5: cust 1 dropped; tenure 16: cust 3 censored
    assert by_t[5]["n_events"] == 1
    assert by_t[16]["n_censored"] == 1
    # risk telescopes across occupied tenures
    ts = sorted(by_t)
    for a, b in zip(ts, ts[1:]):
        assert by_t[b]["n_risk"] == (
            by_t[a]["n_risk"] - by_t[a]["n_events"] - by_t[a]["n_censored"]
        )
    # hazard = events / risk
    for r in km:
        assert abs(r["hazard"] - round(r["n_events"] / r["n_risk"], 6)) < 1e-12


def test_bootstrap_ci_deterministic_and_brackets_mean(spark):
    """The md5-coin bootstrap is a pure function of the data: two runs
    are identical, the interval is ordered, and on the fixture the
    full-sample mean falls inside its own CI."""
    q = catalog_all()["a51_bootstrap_ci"].builder
    a = q(spark, SF_DIR).collect()[0]
    b = q(spark, SF_DIR).collect()[0]
    assert a == b
    assert a["b_replicates"] == 32
    assert a["ci_lo"] <= a["ci_hi"]
    assert a["ci_lo"] <= a["mean_full"] <= a["ci_hi"]


def test_pagerank_fixed_round_path_matches_tol_path(spark):
    """tol=0 skips the per-round convergence action but must compute the
    identical ranks as the tol-checking path when no early stop fires."""
    from praw_etl_student_dropout_spark.operators.clusters import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1)], "src long, dst long"
    )
    fixed = {
        r["id"]: r["rank"] for r in pagerank(edges, max_iter=8, tol=0.0).collect()
    }
    checked = {
        r["id"]: r["rank"] for r in pagerank(edges, max_iter=8, tol=1e-300).collect()
    }
    assert fixed == checked


def test_simhash_md5_banding_lossless_vs_brute_force(spark):
    """The 4-band pigeonhole join finds EXACTLY the brute-force
    hamming<=3 pair set on a synthetic corpus with planted near-dups,
    and the guard refuses a radius the banding cannot cover."""
    import itertools

    import pytest as _pytest

    from praw_etl_student_dropout_spark.operators.dedup import (
        simhash_md5_pairs,
        simhash_md5_signatures,
    )

    # long docs: simhash closeness needs MANY shared distinct shingles —
    # 200 distinct words give ~198 shingles, so one appended word moves
    # only ~1% of the votes and the near-dup stays within a few bits
    base = " ".join(f"w{i}token" for i in range(200))
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " extra"),  # near-dup of 1
            (3, base.replace("w100token", "changed")),  # near-dup of 1
            (4, " ".join(f"other{i}word for spark parquet" for i in range(80))),
            (5, " ".join(f"un{i}related window function doc" for i in range(80))),
        ],
        "doc_id long, text string",
    )
    sigs = {
        r["doc_id"]: r["simhash"]
        for r in simhash_md5_signatures(docs, "text", "doc_id").collect()
    }
    brute = {
        (a, b)
        for a, b in itertools.combinations(sorted(sigs), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    banded = {
        (r["id_a"], r["id_b"])
        for r in simhash_md5_pairs(docs, "text", "doc_id", max_hamming=3).collect()
    }
    assert banded == brute
    assert (1, 2) in banded  # the planted near-dup is actually found
    with _pytest.raises(ValueError):
        simhash_md5_pairs(docs, "text", "doc_id", max_hamming=4, bands=4)


def test_skyline_matches_brute_force_dominance(spark, tmp_path):
    """t11's domain-window skyline equals the O(n^2) NOT-EXISTS dominance
    definition on a hand frame with ties in both dimensions (the case the
    first cut got wrong: an exclusive frame over duplicate prices was
    tie-order-dependent)."""
    rows = [
        # (partkey, price, size) — prices with multiple sizes, duplicate cells
        (1, 10.00, 5), (2, 10.00, 9), (3, 10.00, 9),   # 9 is max at 1000c
        (4, 12.00, 9),                                   # dominated (same size, pricier)
        (5, 12.00, 11),                                  # survives
        (6, 15.00, 11),                                  # dominated by 5
        (7, 15.00, 20), (8, 9.00, 4),                    # 7 survives; 8 survives (cheapest... no: 8 cheaper than all, size 4 — survives)
        (9, 9.00, 2),                                    # dominated by 8
    ]
    spark.createDataFrame(
        [(k, f"n{k}", "b", "t", s, p) for k, p, s in rows],
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    ).write.mode("overwrite").parquet(str(tmp_path / "part.parquet"))

    from praw_etl_student_dropout_spark.plans import catalog_all

    got = {
        (r["price_cents"], r["size"], r["n_parts"])
        for r in catalog_all()["t11_skyline_pareto"].builder(spark, str(tmp_path)).collect()
    }
    # brute force over distinct (price, size) cells
    import collections
    cellcount = collections.Counter((int(round(p * 100)), s) for _, p, s in rows)
    cells = list(cellcount)
    sky = {
        (p, s, cellcount[(p, s)])
        for (p, s) in cells
        if not any(
            (p2 <= p and s2 >= s and (p2 < p or s2 > s)) for (p2, s2) in cells
        )
    }
    assert got == sky
    assert (900, 4, 1) in got and (1000, 9, 2) in got


def test_json_quarantine_splits_clean_from_malformed(spark, tmp_path):
    """Dead-letter ingestion: clean rows parse, malformed raw lines land
    in the quarantine frame verbatim, nothing is silently dropped."""
    from pyspark.sql import types as T

    from praw_etl_student_dropout_spark.sources.readers import (
        read_json_with_quarantine,
    )

    p = tmp_path / "in.jsonl"
    lines = [
        '{"id": 1, "name": "ok"}',
        "this is not json at all",
        '{"id": 2, "name": "also ok"}',
        '{"id": "NOT_A_NUMBER", "name": "type clash"}',
        '{"id": 3, "name": "fine"}',
    ]
    p.write_text("\n".join(lines) + "\n")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), True),
            T.StructField("name", T.StringType(), True),
        ]
    )
    clean, quarantine = read_json_with_quarantine(spark, str(p), schema)
    got_clean = {(r["id"], r["name"]) for r in clean.collect()}
    got_bad = {r["raw_record"] for r in quarantine.collect()}
    assert got_clean == {(1, "ok"), (2, "also ok"), (3, "fine")}
    assert got_bad == {lines[1], lines[3]}
    assert clean.count() + quarantine.count() == len(lines)
