"""HLL sketch rollups: estimates within the configured error bound of
exact distinct counts, and sketch-merge == whole-range sketch."""

from __future__ import annotations

from pyspark.sql import functions as F

from waddleml_spark.operators.sketches import bucket_sketches, merge_sketches
from tests.conftest import SF_SMOKE


def _events(spark):
    # read_table, not raw spark.read: events.ts is TIMESTAMP(NANOS) and
    # needs the session's nanos conversion (see session.read_table)
    from waddleml_spark.session import read_table

    return read_table(spark, SF_SMOKE, "events").withColumn(
        "day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    )


def test_daily_estimates_within_error_bound(spark):
    ev = _events(spark)
    est = {r.day: r.estimate for r in bucket_sketches(ev, "day", "user_id").collect()}
    exact = {
        r.day: r.n
        for r in ev.groupBy("day").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    assert set(est) == set(exact)
    for day, n in exact.items():
        assert abs(est[day] - n) <= max(0.05 * n, 2), (day, est[day], n)


def test_merged_sketch_matches_whole_range_estimate(spark):
    ev = _events(spark)
    daily = bucket_sketches(ev, "day", "user_id")
    merged = merge_sketches(daily).collect()[0].merged_estimate
    exact = ev.select("user_id").distinct().count()
    assert abs(merged - exact) <= max(0.05 * exact, 2)
    # merging materialized sketches == sketching the whole range directly
    whole = (
        ev.agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12))))
        .collect()[0][0]
    )
    assert merged == whole


def test_cms_one_sided_error_and_merge(spark):
    # estimate >= exact for EVERY value; merging two halves by addition
    # equals the sketch of the whole (count-min is a linear sketch);
    # partition layout cannot change the matrix
    import numpy as np
    from pyspark.sql import functions as F

    from waddleml_spark.operators import sketches

    df = spark.range(0, 5000).select(
        F.concat(F.lit("w"), (F.col("id") % 300).cast("string")).alias("v"),
        (F.col("id") % 2 == 0).alias("half"),
    )
    cms = sketches.cms_build(df, "v", width=1 << 10)
    assert cms.shape == (4, 1 << 10) and cms.sum() == 5000 * 4
    exact = df.groupBy("v").agg(F.count("*").alias("n"))
    est = sketches.cms_estimates(exact, "v", cms).collect()
    assert all(r.cms_est >= r.n for r in est)
    # width 1024 >> 300 distinct: most estimates exact, overcount bounded
    assert sum(r.cms_est - r.n for r in est) <= 2 * 5000 * 4 // (1 << 10) * 300

    a = sketches.cms_build(df.filter("half"), "v", width=1 << 10)
    b = sketches.cms_build(df.filter("NOT half"), "v", width=1 << 10)
    assert np.array_equal(a + b, cms)
    again = sketches.cms_build(df.repartition(7), "v", width=1 << 10)
    assert np.array_equal(again, cms)


def test_cms_heavy_hitters_report_invariants(spark):
    from waddleml_spark import catalog
    from tests.conftest import SF_SMOKE

    rows = catalog.QUERIES["cms_heavy_hitters_report"](spark, SF_SMOKE).collect()
    assert len(rows) == 20
    assert all(r.cms_est >= r.exact_n and r.overcount == r.cms_est - r.exact_n
               for r in rows)
    # top-20 ordered by exact count desc
    assert [r.exact_n for r in rows] == sorted((r.exact_n for r in rows), reverse=True)


def test_merge_sketches_accepts_single_column_name(spark):
    # round-6 review find: a plain-string group_cols splatted into
    # single characters via groupBy(*"campaign")
    from waddleml_spark.operators import sketches

    d = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 2)], "grp string, user_id long"
    )
    daily = sketches.bucket_sketches(d, "grp", "user_id")
    got = {r.grp: r.merged_estimate
           for r in sketches.merge_sketches(daily, group_cols="grp").collect()}
    assert set(got) == {"a", "b"}
