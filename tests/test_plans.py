"""Physical-plan regression tests (SURVEY.md §4.2): the scale posture is
asserted, not eyeballed — pushdown reaches the scan, projections prune,
dims broadcast, top-N avoids global sorts, windows pre-limit per group.
"""

from __future__ import annotations

from waddleml_spark import catalog
from waddleml_spark.plans import assert_plan, pushed_filters, read_schema_columns
from waddleml_spark.plans.inspect import count_op
from tests.conftest import SF_SMOKE


def q(spark, name):
    return catalog.QUERIES[name](spark, SF_SMOKE)


def test_point_lookup_pushdown_and_pruning(spark):
    df = q(spark, "point_lookup")
    assert "EqualTo(o_orderkey,500)" in pushed_filters(df)
    # projection pruned to exactly the 4 selected columns at the scan
    assert read_schema_columns(df) == [
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    ]


def test_prefix_exclusion_pushes_string_predicate(spark):
    assert "StringStartsWith" in pushed_filters(q(spark, "prefix_exclusion"))


def test_tpch_q1_partial_aggregation_and_pushdown(spark):
    df = q(spark, "tpch_q1")
    assert_plan(df, contains=["partial_sum", "HashAggregate"])
    assert "LessThanOrEqual(l_shipdate" in pushed_filters(df)
    assert count_op(df, "Exchange") == 1  # exactly one shuffle: the final agg


def test_dim_join_agg_broadcasts_both_dims(spark):
    df = q(spark, "dim_join_agg")
    assert_plan(df, contains=["BroadcastHashJoin"], absent=["SortMergeJoin"])
    assert count_op(df, "BroadcastHashJoin") == 2


def test_topn_is_take_ordered_not_global_sort(spark):
    assert_plan(
        q(spark, "topn_orders"),
        contains=["TakeOrderedAndProject"],
        absent=["Exchange"],  # no shuffle at all for global top-N
    )


def test_flagship_window_group_limit(spark):
    # last-per-group pre-limits each partition BEFORE the shuffle
    # (WindowGroupLimit Partial), then TakeOrderedAndProject for the top-N
    assert_plan(
        q(spark, "flagship_leaderboard"),
        contains=["WindowGroupLimit", "TakeOrderedAndProject"],
    )


def test_semi_and_anti_join_shapes(spark):
    assert_plan(q(spark, "semi_join_active"), contains=["LeftSemi"])
    assert_plan(q(spark, "anti_join_missing"), contains=["LeftAnti"])


def test_metric_summary_broadcasts_runs_dim(spark, tmp_path):
    import waddleml_spark as w
    from waddleml_spark import state
    from waddleml_spark.operators import core as ops
    from pyspark.sql import functions as F

    state.set_active_run(None)
    run = w.init(
        project="plans", store_path=str(tmp_path / ".waddle"),
        system_metrics=False, spark=spark,
    )
    run.log({"loss": 1.0})
    run.finish()
    store = run._store
    m = store.df("metrics").filter(F.col("key") == "loss")
    last = ops.last_per_group(m, ["run_id"], "step")
    runs = store.df("runs").select(F.col("id").alias("run_id"), "name", "started_at")
    out = last.join(F.broadcast(runs), on="run_id")
    assert_plan(out, contains=["BroadcastHashJoin"])
    state.set_active_run(None)


def test_explain_stdout_fallback_matches_jvm_path(spark):
    """The Spark Connect fallback (captured df.explain stdout) must carry
    the same plan content the classic _jdf path returns — the regex
    helpers depend on PushedFilters/ReadSchema/(n) Op lines surviving."""
    from waddleml_spark.plans.inspect import _explain_via_stdout, explain_str

    df = q(spark, "tpch_q1")
    via_jvm = explain_str(df, "formatted")
    via_stdout = _explain_via_stdout(df, "formatted")
    assert "PushedFilters" in via_stdout and "ReadSchema" in via_stdout
    assert via_jvm.strip() == via_stdout.strip()


def test_q6_full_pushdown_and_pruned_scan(spark):
    df = q(spark, "forecast_revenue_q6")
    pf = pushed_filters(df)
    assert "GreaterThanOrEqual(l_shipdate" in pf
    assert "LessThan(l_quantity,24.0)" in pf
    assert "GreaterThanOrEqual(l_discount,0.05)" in pf
    # scan reads exactly the 4 referenced columns
    assert read_schema_columns(df) == [
        ["l_quantity", "l_extendedprice", "l_discount", "l_shipdate"]
    ]


def test_q9_like_filter_pushes_to_part_scan(spark):
    assert "StringContains(p_name,green)" in pushed_filters(
        q(spark, "product_profit_q9")
    )


def test_q20_nested_semi_joins(spark):
    df = q(spark, "potential_promotion_q20")
    from waddleml_spark.plans.inspect import explain_str

    plan = explain_str(df, "formatted")
    assert plan.count("Join LeftSemi") == 2  # both IN levels became semi joins
    # round 6: the semi sides (filtered part, a lineitem aggregate) GROW
    # with SF, so their broadcast hints are gone per the repo rule —
    # assert the scale-correct property instead of a literal broadcast
    # count that only holds at toy SF: equi semi joins, never a
    # quadratic fallback
    assert_plan(df, absent=["BroadcastNestedLoopJoin", "CartesianProduct"])


def test_q13_outer_join_preserves_zero_order_customers(spark):
    assert_plan(q(spark, "customer_distribution_q13"), contains=["LeftOuter"])


def test_q7_dims_broadcast(spark):
    # the >=2 floor comes from the two HINTED nation broadcasts (ns/nc);
    # supplier and customer join hint-free (round-6 bounded-broadcast
    # rule) and only auto-broadcast at bench SF via static size stats;
    # only the fact-fact orderkey hop may shuffle
    df = q(spark, "volume_shipping_q7")
    assert count_op(df, "BroadcastHashJoin") >= 2


def test_packing_offsets_broadcast_no_merge_join(spark):
    from waddleml_spark.llmops.packing import packed_sequences

    df = packed_sequences(
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet"), seq_len=512
    )
    assert_plan(df, contains=["BroadcastHashJoin"], absent=["SortMergeJoin"])


def test_profile_two_cheap_scans_one_narrow_expand(spark):
    # the profile splits into (1) a distinct-free count/min/max pass —
    # plain partial aggregation, Expand-free — and (2) ALL the exact
    # distinct counts in their own aggregate, whose single Expand
    # carries only grouping keys and collapses map-side.  The old
    # single-pass plan dragged count/min/max through that Expand too,
    # multiplying every row (n_cols+1)x into wide mostly-null rows
    # (measured 2.0s -> 0.8s at sf0.1).  The two 1-row branches combine
    # via a broadcast cross join — no shuffle joins anywhere.
    df = q(spark, "profile_orders")
    assert count_op(df, "Scan parquet") == 2
    assert count_op(df, "Expand") == 1
    assert_plan(df, absent=["SortMergeJoin", "ShuffledHashJoin"])


def test_stratified_sample_pre_limits_per_group(spark):
    # per-stratum top-N compiles to WindowGroupLimit: tasks pre-limit to N
    # rows per stratum before the shuffle — the corpus never moves
    assert_plan(q(spark, "stratified_eval_sample"), contains=["WindowGroupLimit"])


def test_pii_scrub_is_map_only(spark):
    # regex detection + redaction is a pure projection: exactly one
    # fan_out round-robin exchange BEFORE the regex map (the bench
    # parquet scans as a single row group — without it the whole 6-regex
    # pass serializes onto one core; round 7) plus the final tiny
    # per-source aggregate exchange.  No join, no extra shuffle.
    df = q(spark, "pii_scrub_report")
    plan = df._jdf.queryExecution().executedPlan().toString()
    if spark.sparkContext.defaultParallelism > 1:
        assert count_op(df, "Exchange") == 2
        assert "roundrobin" in plan.lower()
    else:
        # single-core runner: fan_out is a no-op (nothing to spread to),
        # leaving only the final aggregate exchange
        assert count_op(df, "Exchange") in (1, 2)


def test_embedding_neardup_is_blocked_kernel_no_join(spark):
    # near-dup pairs: ONE shuffle on the blocking key feeding ONE Arrow
    # kernel (the quadratic term runs inside numpy per block; only
    # surviving pairs leave).  No join operator at all — and never a
    # broadcast of a full corpus side (the 100 TB killer).  The r4 plan
    # was a salted SortMergeJoin paying an interpreted HOF per pair.
    df = q(spark, "embedding_neardup_pairs")
    assert_plan(
        df,
        contains=["FlatMapGroupsInPandas"],
        absent=["BroadcastHashJoin", "SortMergeJoin", "BroadcastNestedLoopJoin"],
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapGroupsInPandas") == 1


def test_lsh_fed_verifiers_are_candidate_bounded(spark):
    # the certified verify path hydrates LSH candidate pairs via equi-joins
    # — never a non-equi quadratic join (BroadcastNestedLoopJoin)
    for name in ("jaccard_verify_lsh", "levenshtein_verify_lsh"):
        assert_plan(q(spark, name), absent=["BroadcastNestedLoopJoin", "CartesianProduct"])


def test_cc_edges_layout_feeds_loop_join_without_exchange_or_sort(spark):
    # connected_components materializes its symmetric edge table ONCE,
    # hash-partitioned AND sorted by dst (r12): every propagation round's
    # join then reads the edges as a bare ExistingRDD scan — no Exchange,
    # no Sort on the 2|pairs|-row side; only the node-grain label table
    # moves per round.  This pins (a) the single-reference construction
    # (one upstream execution — the old two-select union ran the whole
    # candidate pipeline twice), (b) partitioning/ordering surviving
    # localCheckpoint, (c) the partition-local dedup (one exchange total
    # in the edges build).
    from pyspark.sql import functions as F

    from waddleml_spark.llmops.dedup import _sym_edges
    from waddleml_spark.plans.inspect import explain_str

    with _scale_path_shape(spark):
        pairs = spark.range(2000).selectExpr("id AS id_a", "id + 7 AS id_b")
        # (c): the pre-checkpoint build pays exactly one exchange — the
        # dst repartition — with dropDuplicates riding it partition-locally
        build = (
            pairs.selectExpr(
                "inline(array(named_struct('src', id_a, 'dst', id_b), "
                "named_struct('src', id_b, 'dst', id_a)))"
            )
            .repartition(F.col("dst"))
            .dropDuplicates(["src", "dst"])
            .sortWithinPartitions("dst")
        )
        assert count_op(build, "Exchange") == 1

        edges = _sym_edges(pairs, "id_a", "id_b")
        labels = (
            edges.select(F.col("src").alias("id"))
            .distinct()
            .withColumn("component", F.col("id"))
            .localCheckpoint(eager=True)
        )
        neigh = edges.join(labels, edges.dst == labels.id).select(
            F.col("src").alias("id"), F.col("component")
        )
        # one exchange + one sort total: both on the LABELS side (the
        # edges branch is the bare checkpointed scan)
        assert count_op(neigh, "Exchange") == 1
        assert count_op(neigh, "SortMergeJoin") == 1
        assert count_op(neigh, "Sort") == 1
        plan = explain_str(neigh, "simple")
    # in the tree, nothing sits between the join and the edges-side scan
    edges_branch = plan.split("SortMergeJoin")[1].splitlines()[1]
    assert "Scan ExistingRDD" in edges_branch


class _scale_path_shape:
    """Pin the SCALE-path plan shape at test scale: disable auto-broadcast
    (the checkpointed label table would otherwise broadcast — itself fine,
    but not what the pin is about) and AQE (its partition coalescing at
    tiny scale rewrites the checkpoint's output partitioning; at real
    scale the edge table has >= minPartitionSize partitions and no
    coalescing happens — the 100× measurement kept the layout)."""

    _CONFS = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.enabled": "false",
    }

    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        self.old = {k: self.spark.conf.get(k) for k in self._CONFS}
        for k, v in self._CONFS.items():
            self.spark.conf.set(k, v)

    def __exit__(self, *a):
        for k, v in self.old.items():
            self.spark.conf.set(k, v)


def test_fan_out_probe_failure_is_a_noop():
    # Spark Connect (or any session without a SparkContext) makes the
    # partition probe raise; the fallback must FAIL OPEN — return the
    # input unchanged — never force a constant-width repartition that
    # would shuffle a cluster-scale corpus and collapse its parallelism
    # (r11 verdict item 6).  Pure-stub test: no Spark session involved.
    from waddleml_spark.session import fan_out

    class _NoCtxSession:
        @property
        def sparkContext(self):
            raise RuntimeError("no SparkContext (Spark Connect)")

    class _StubDF:
        sparkSession = _NoCtxSession()

        @property
        def _jdf(self):
            raise RuntimeError("no _jdf under Connect")

        def repartition(self, *a):
            raise AssertionError("probe-failure fallback must not repartition")

    stub = _StubDF()
    assert fan_out(stub) is stub
    # with an explicit min_partitions the probe itself (df._jdf) still
    # raises — the fallback must stay a no-op, not fan to the constant
    assert fan_out(stub, min_partitions=64) is stub
