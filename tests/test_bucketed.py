"""Bucketed layout: prove the shuffle-free co-located join on a real plan.

This is the 100 TB design claim made testable: after a one-time bucketed
write, the orderkey join plans with ZERO Exchange — no shuffle of either
fact, at any data size, because the layout already satisfies the join's
distribution requirement.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from waddleml_spark.plans import assert_plan
from waddleml_spark.plans.inspect import count_op
from waddleml_spark.sources.bucketed import read_bucketed, write_bucketed
from tests.conftest import SF_SMOKE


@pytest.fixture
def bucketed_pair(spark, tmp_path):
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    write_bucketed(
        li, "bt_lineitem", ["l_orderkey"], 8,
        sort_by=["l_orderkey"], path=str(tmp_path / "li"),
    )
    write_bucketed(
        o, "bt_orders", ["o_orderkey"], 8,
        sort_by=["o_orderkey"], path=str(tmp_path / "o"),
    )
    yield "bt_lineitem", "bt_orders"
    spark.sql("DROP TABLE IF EXISTS bt_lineitem")
    spark.sql("DROP TABLE IF EXISTS bt_orders")


def test_bucketed_join_is_shuffle_free(spark, bucketed_pair):
    li, o = (read_bucketed(spark, n) for n in bucketed_pair)
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.sum("l_quantity").alias("q"))
    )
    # broadcast would hide the property at this tiny SF — force the
    # merge-join path the layout is designed for
    with_conf = spark.conf
    old = with_conf.get("spark.sql.autoBroadcastJoinThreshold")
    with_conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert_plan(joined, contains=["SortMergeJoin"])
        # the join itself is exchange-free; the only exchange in the whole
        # plan is the final single-key aggregate
        assert count_op(joined, "Exchange") == 1
    finally:
        with_conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_matches_unbucketed_result(spark, bucketed_pair):
    li, o = (read_bucketed(spark, n) for n in bucketed_pair)
    bucketed = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
    )
    pli = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    po = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    plain = (
        pli.join(po, pli.l_orderkey == po.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
    )
    assert sorted(map(tuple, bucketed.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_bucket_facts_one_call_then_catalog_revenue_join_shuffle_free(spark):
    """The layout API end-to-end: ONE bucket_facts call, then the
    CATALOG's own revenue join (the shared revenue_join definition)
    plans exchange-free on the published tables and matches the plain
    catalog query's values."""
    import waddleml_spark.catalog as catalog
    from waddleml_spark.sources.bucketed import bucket_facts

    names = bucket_facts(spark, SF_SMOKE, n_buckets=8, prefix="bf_")
    try:
        li = read_bucketed(spark, names["lineitem"])
        o = read_bucketed(spark, names["orders"])
        joined = catalog.revenue_join(li, o)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            assert_plan(joined, contains=["SortMergeJoin"])
            # the join is exchange-free; the only exchange left is the
            # final 5-key priority aggregate
            assert count_op(joined, "Exchange") == 1
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        plain = catalog.QUERIES["revenue_by_priority"](spark, SF_SMOKE)
        pb = {r.o_orderpriority: (r.n_items, r.revenue) for r in joined.collect()}
        pp = {r.o_orderpriority: (r.n_items, r.revenue) for r in plain.collect()}
        # counts exact; revenue within summation-order tolerance (the two
        # layouts add the same doubles in different orders, and the _r
        # floor-rounding grain can flip on the last ulp of a big sum)
        assert set(pb) == set(pp)
        for k in pb:
            assert pb[k][0] == pp[k][0]
            assert abs(pb[k][1] - pp[k][1]) <= 1e-9 * max(abs(pp[k][1]), 1.0)
    finally:
        for n in names.values():
            spark.sql(f"DROP TABLE IF EXISTS {n}")
