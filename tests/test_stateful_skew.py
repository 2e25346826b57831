"""Skew-salting and temporal-join operators."""

from __future__ import annotations

def test_salted_agg_matches_plain(spark):
    from pyspark.sql import functions as F

    from waddleml_spark.operators.skew import salted_agg

    # heavy skew: one key owns 90% of rows
    df = spark.range(0, 2000).select(
        F.when(F.col("id") % 10 < 9, "hot").otherwise("cold").alias("k"),
        (F.col("id") % 97).cast("double").alias("v"),
    )
    got = {
        (r.k, r.n, r.s, r.mn, r.mx)
        for r in salted_agg(
            df, ["k"],
            {"n": ("count", "v"), "s": ("sum", "v"), "mn": ("min", "v"), "mx": ("max", "v")},
        ).collect()
    }
    want = {
        (r.k, r.n, r.s, r.mn, r.mx)
        for r in df.groupBy("k")
        .agg(
            F.count("v").alias("n"), F.sum("v").alias("s"),
            F.min("v").alias("mn"), F.max("v").alias("mx"),
        )
        .collect()
    }
    assert got == want


def test_asof_join_null_right_value_is_the_match_not_stale(spark):
    # round-6 review find: per-column ignorenulls fill replaced a
    # genuinely-NULL matched value with a STALE earlier row's value
    # (and could tear columns across different right rows).  The struct
    # carry returns the actual matched row, NULL value included.
    from waddleml_spark.operators.temporal import asof_join

    left = spark.createDataFrame([(1, 3.0)], "u long, t double")
    right = spark.createDataFrame(
        [(1, 1.0, 5.0), (1, 2.0, None)], "u long, t double, v double"
    )
    row = asof_join(left, right, ["u"], "t", "t", ["v"]).collect()[0]
    assert row.t_asof == 2.0 and row.v_asof is None
    import pytest

    with pytest.raises(ValueError, match="inner"):
        asof_join(left, right, ["u"], "t", "t", ["v"], how="Inner")


def test_asof_join_handles_dotted_column_names(spark):
    # round-7 review find: bare F.col('user.id') / select('user.id')
    # parse as MULTIPART references; every name-based reference in
    # asof_join must go through backquoting so exotic names keep working
    from waddleml_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 3.0, "x")], ["u", "t", "l.note"]
    )
    right = spark.createDataFrame(
        [(1, 2.0, 7.0)], ["u", "t", "v.val"]
    )
    row = asof_join(left, right, ["u"], "t", "t", ["v.val"]).collect()[0]
    assert row["v.val_asof"] == 7.0 and row["l.note"] == "x"


def test_asof_join_keyless_global_window(spark):
    # round-7 review find: the expr-string rewrite emitted the
    # unparseable 'PARTITION BY ORDER BY ...' for on=[]; a keyless
    # as-of join is a valid global window and must keep working
    from waddleml_spark.operators.temporal import asof_join

    left = spark.createDataFrame([(10, 3.0), (11, 0.5)], "lid long, t double")
    right = spark.createDataFrame(
        [(1.0, 5.0), (2.0, 7.0)], "t double, v double"
    )
    rows = {
        r.lid: (r.t_asof, r.v_asof)
        for r in asof_join(left, right, [], "t", "t", ["v"], how="left").collect()
    }
    assert rows == {10: (2.0, 7.0), 11: (None, None)}


def test_range_join_narrow_buckets_do_not_drop_matches(spark):
    # round-6 review find: the hardcoded +-1 neighbor explode dropped
    # pairs farther than one bucket whenever bucket_width < max_distance
    from waddleml_spark.operators.temporal import range_join_bucketized

    left = spark.createDataFrame([(1, 0.0)], "k long, lv double")
    right = spark.createDataFrame([(1, 9.0)], "k long, rv double")
    got = range_join_bucketized(
        left, right, ["k"], "lv", "rv", max_distance=10.0, bucket_width=2.0
    ).collect()
    assert len(got) == 1
    import pytest

    with pytest.raises(ValueError, match="bucket_width"):
        range_join_bucketized(
            left, right, ["k"], "lv", "rv", max_distance=10.0, bucket_width=0.0
        )


def test_resample_interpolate_span_inside_one_interval_is_empty(spark):
    # round-6 review find: Spark sequence() AUTO-DESCENDS, so a series
    # whose whole span holds no grid point fabricated two extrapolated
    # rows where SQL generate_series (the oracle) yields none
    from waddleml_spark.operators.temporal import resample_interpolate

    df = spark.createDataFrame(
        [(1, 5.0, 1.0), (1, 7.0, 2.0)], "k long, ts double, v double"
    )
    assert resample_interpolate(df, "k", "ts", "v", 3600).count() == 0
