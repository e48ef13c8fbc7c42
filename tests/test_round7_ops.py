"""Semantic invariants for the round-7 operators, beyond their oracle
checks: resample interpolation on a hand-built series, rolling-median
frame semantics, Spearman edge values, MAD robustness, salted-join
result equality under a hot key."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_resample_interp_hand_series(spark, sf_dir):
    """Grid points between two observations interpolate time-weighted;
    a grid point coinciding with an observation returns its value."""
    from praw_etl_student_dropout_spark.plans.catalog import REGISTRY

    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 30, 0)
    rows = [
        # type 'x': value 10 at 00:30, 40 at 03:30 -> hourly grid at
        # 01:00/02:00/03:00 interpolates 15/25/35
        (1, base, "x", 10.0),
        (2, base + dt.timedelta(hours=3), "x", 40.0),
        # type 'y': observation exactly on the hour -> grid hits it
        (3, dt.datetime(2024, 1, 1, 1, 0, 0), "y", 7.0),
        (4, dt.datetime(2024, 1, 1, 3, 0, 0), "y", 9.0),
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts", "event_type", "value"])
    tmp = "/tmp/r7_resample_events"
    df.write.mode("overwrite").parquet(tmp)

    import os

    # run the catalog builder against a dir that only has this events table
    class FakeDir:
        pass

    # the builder reads {sf_dir}/events.parquet; stage the table
    stage = "/tmp/r7_resample_sf"
    os.makedirs(stage, exist_ok=True)
    df.write.mode("overwrite").parquet(f"{stage}/events.parquet")
    out = {
        (r.event_type, r.grid_ts.isoformat(), r.interp_value)
        for r in REGISTRY["t8_resample_interp"].builder(spark, stage).collect()
    }
    assert ("x", "2024-01-01T01:00:00", 15.0) in out
    assert ("x", "2024-01-01T02:00:00", 25.0) in out
    assert ("x", "2024-01-01T03:00:00", 35.0) in out
    # y's grid starts at 02:00 (trunc(min)+1h) and ends 03:00 (trunc(max));
    # 03:00 coincides with the observation -> exactly 9.0
    assert ("y", "2024-01-01T03:00:00", 9.0) in out
    assert ("y", "2024-01-01T02:00:00", 8.0) in out  # midpoint of 7 -> 9


def test_rolling_median_frame_semantics(spark):
    from praw_etl_student_dropout_spark.plans.catalog import REGISTRY

    import datetime as dt
    import os

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=i), "t", 1, float(v), "{}")
        for i, v in enumerate([1, 100, 3, 5, 2, 50])
    ]
    stage = "/tmp/r7_median_sf"
    os.makedirs(stage, exist_ok=True)
    spark.createDataFrame(
        rows, ["event_id", "ts", "event_type", "user_id", "value", "props"]
    ).write.mode("overwrite").parquet(f"{stage}/events.parquet")
    got = {
        r.event_id: r.med5
        for r in REGISTRY["w13_rolling_median"].builder(spark, stage).collect()
    }
    # medians of prefixes capped at 5-row frames
    assert got[0] == 1.0
    assert got[1] == 50.5          # median(1, 100)
    assert got[2] == 3.0           # median(1, 100, 3)
    assert got[4] == 3.0           # median(1, 100, 3, 5, 2)
    assert got[5] == 5.0           # frame slides: median(100, 3, 5, 2, 50)


def test_spearman_perfect_monotone_is_one(spark):
    """A strictly increasing pair of columns has Spearman exactly 1.0
    whatever the raw values (rank correlation ignores scale)."""
    from praw_etl_student_dropout_spark.operators import joins  # noqa: F401
    from praw_etl_student_dropout_spark.plans.catalog import REGISTRY

    import os

    import datetime as dt

    rows = [
        (i, 1, 1, 1, float(i), float(i * i * 7 + 1), 0.0, 0.0, "A", "O",
         dt.datetime(2024, 1, 1))
        for i in range(1, 40)
    ]
    cols = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_returnflag", "l_linestatus", "l_shipdate"]
    stage = "/tmp/r7_spearman_sf"
    os.makedirs(stage, exist_ok=True)
    spark.createDataFrame(rows, cols).write.mode("overwrite").parquet(
        f"{stage}/lineitem.parquet"
    )
    out = REGISTRY["a41_spearman_corr"].builder(spark, stage).collect()
    assert len(out) == 1 and out[0].spearman == 1.0


def test_mad_is_outlier_robust(spark):
    import os

    from praw_etl_student_dropout_spark.plans.catalog import REGISTRY

    import datetime as dt

    vals = [10, 11, 12, 13, 14, 10_000]
    rows = [
        (i, 1, 1, 1, float(v), 1.0, 0.0, 0.0, "A", "O", dt.datetime(2024, 1, 1))
        for i, v in enumerate(vals)
    ]
    cols = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_returnflag", "l_linestatus", "l_shipdate"]
    stage = "/tmp/r7_mad_sf"
    os.makedirs(stage, exist_ok=True)
    spark.createDataFrame(rows, cols).write.mode("overwrite").parquet(
        f"{stage}/lineitem.parquet"
    )
    out = REGISTRY["a43_grouped_mad"].builder(spark, stage).collect()[0]
    # median 12.5; |x-med| = 2.5,1.5,.5,.5,1.5,9987.5 -> MAD 1.5: the
    # outlier moved the MAD not at all (variance would be ~10^7)
    assert out.median_qty == 12.5 and out.mad == 1.5


def test_salted_join_equals_plain_under_hot_key(spark):
    from praw_etl_student_dropout_spark.operators.joins import salted_join

    left = spark.createDataFrame(
        [(1, i) for i in range(500)] + [(2, 9000), (3, 9001)],
        ["k", "payload"],
    )
    right = spark.createDataFrame(
        [(1, "hot"), (2, "a"), (3, "b"), (4, "never")], ["k", "name"]
    )
    plain = {(r.k, r.payload, r.name) for r in left.join(right, "k").collect()}
    for salt_on in (None, "payload"):
        salted = {
            (r.k, r.payload, r.name)
            for r in salted_join(
                left, right, ["k"], salt_buckets=8, salt_on=salt_on
            ).collect()
        }
        assert salted == plain
    # left join keeps unmatched left rows exactly once
    lf = left.unionByName(spark.createDataFrame([(99, 0)], ["k", "payload"]))
    lj = salted_join(lf, right, ["k"], salt_buckets=8, how="left", salt_on="payload")
    assert lj.filter(F.col("k") == 99).count() == 1
    with pytest.raises(ValueError):
        salted_join(left, right, ["k"], how="full")
