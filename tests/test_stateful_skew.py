"""Stateful streaming summary + skew-salting operators."""

from __future__ import annotations

import pytest

import waddleml_spark as w
from waddleml_spark import state


@pytest.fixture(autouse=True)
def reset_state():
    state.set_active_run(None)
    yield
    run = state.get_active_run()
    if run is not None:
        run._finished = True
    state.set_active_run(None)


def test_running_metric_summary_incremental(spark, tmp_path, monkeypatch):
    from waddleml_spark.streaming.stateful import running_metric_summary

    monkeypatch.chdir(tmp_path)
    run = w.init(project="stateful", system_metrics=False, spark=spark)
    for i in range(4):
        run.log({"loss": float(10 - i)})
    run.flush()

    agg = running_metric_summary(run._store)
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName("stateful_out")
        .start()
    )
    q.processAllAvailable()
    row = spark.sql(
        "SELECT * FROM stateful_out WHERE key = 'loss' ORDER BY n DESC LIMIT 1"
    ).head()
    assert row.n == 4
    assert row.sum_v == pytest.approx(10 + 9 + 8 + 7)
    assert row.min_v == 7.0 and row.max_v == 10.0
    assert row.last_step == 3 and row.last_value == 7.0

    # second micro-batch updates the SAME state (no rescan of history)
    run.log({"loss": 0.5})
    run.flush()
    q.processAllAvailable()
    row = spark.sql(
        "SELECT * FROM stateful_out WHERE key = 'loss' ORDER BY n DESC LIMIT 1"
    ).head()
    assert row.n == 5
    assert row.last_step == 4 and row.last_value == 0.5
    q.stop()
    run.finish()


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


def test_salted_broadcast_left_matches_plain(spark):
    from pyspark.sql import functions as F

    from waddleml_spark.operators.skew import salted_broadcast_left

    big = spark.range(0, 1000).select(
        F.when(F.col("id") % 5 < 4, 1).otherwise(F.col("id") % 7).alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.createDataFrame(
        [(i, f"dim{i}") for i in range(7)], "k long, label string"
    )
    got = sorted(
        (r.payload, r.label)
        for r in salted_broadcast_left(big, small, on="k").collect()
    )
    want = sorted((r.payload, r.label) for r in big.join(small, on="k").collect())
    assert got == want


def test_sliced_running_sum_matches_naive_window(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from waddleml_spark.operators.skew import sliced_running_sum
    from tests.conftest import SF_SMOKE

    # collapse to one row per (user, ts) so both orderings are total —
    # running sums are only comparable under a deterministic order
    from waddleml_spark.session import read_table

    ev = (
        read_table(spark, SF_SMOKE, "events")
        .groupBy("user_id", "ts")
        .agg(F.sum("value").alias("v"))
    )
    fast = sliced_running_sum(ev, "user_id", "ts", "v", slice_seconds=86400)
    naive = ev.withColumn(
        "running_sum",
        F.sum("v").over(
            Window.partitionBy("user_id")
            .orderBy("ts")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    # float addition grouped differently → compare rounded
    r = lambda df: df.select(  # noqa: E731
        "user_id", "ts", F.round("running_sum", 6).alias("rs")
    )
    assert r(fast).exceptAll(r(naive)).count() == 0
    assert r(naive).exceptAll(r(fast)).count() == 0


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


def test_salted_self_pairs_bit_identical_to_plain_self_join(spark):
    # DEPLOY.md documents this as the AQE-blind-quadratic mitigation;
    # pin the bit-identical-output guarantee it promises
    from waddleml_spark.operators.skew import salted_self_pairs
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, i % 3) for i in range(60)], "id long, label long"
    )
    salted = (
        salted_self_pairs(df, "label", "id")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("ia"), F.col("b.id").alias("ib"))
    )
    a, b = df.alias("a"), df.alias("b")
    plain = (
        a.join(b, (F.col("a.label") == F.col("b.label"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("ia"), F.col("b.id").alias("ib"))
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_stateful_update_nan_values_consistent():
    # round-6 review find: pandas sum/min/max skip NaN while len()
    # counts it — n said 3 while sum covered 1 value, and an all-NaN
    # batch poisoned min/max forever via Python min(NaN, x).  Stats now
    # summarize the non-NaN values; last_value stays the literal latest.
    import math

    import pandas as pd

    from waddleml_spark.streaming.stateful import _update

    class _FakeState:
        exists = False

        def update(self, t):
            self.stored = t

    st = _FakeState()
    pdf = pd.DataFrame(
        {"value": [float("nan"), 5.0, float("nan")], "step": [1, 2, 3]}
    )
    out = list(_update(("r", "loss"), iter([pdf]), st))[0].iloc[0]
    assert out["n"] == 1 and out["sum_v"] == 5.0
    assert out["min_v"] == 5.0 and out["max_v"] == 5.0
    assert out["last_step"] == 3 and math.isnan(out["last_value"])
    # a later real batch is not poisoned by the earlier NaNs
    st2 = _FakeState()
    st2.exists = False
    list(_update(("r", "loss"), iter([pd.DataFrame(
        {"value": [float("nan")], "step": [1]})]), st2))
    st2.exists, st2.get = True, st2.stored
    out2 = list(_update(("r", "loss"), iter([pd.DataFrame(
        {"value": [2.0], "step": [2]})]), st2))[0].iloc[0]
    assert out2["min_v"] == 2.0 and out2["n"] == 1
