"""Extension catalog: temporal custom operators (as-of join, range join,
hypertable rollup), set ops, cube, lead/lag, series regroup, canonical JSON
— the §2 rows the reference lacks but a Spark-first engine must cover.
Registered into catalog.QUERIES/ORACLE with DuckDB oracle twins (DuckDB has
native ASOF JOIN / IEJoin, making it a real semantic oracle here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from waddleml_spark.catalog import _epoch, _r, _r_sql, _register, t
from waddleml_spark.operators import temporal

# --- as-of join -------------------------------------------------------------


@_register(
    "asof_purchase_click",
    """
    SELECT p.event_id, p.user_id, epoch(p.ts) AS ts,
           epoch(c.ts) AS click_ts, c.value AS click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id AND c.ts <= p.ts
    """,
)
def asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase gets the user's most recent prior click.
    Union-marker + last-non-null window — one shuffle on (user_id, ts);
    oracle = DuckDB's native ASOF JOIN."""
    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    joined = temporal.asof_join(
        purchases, clicks, on=["user_id"], left_time="ts", right_time="ts",
        right_values=["value"], how="inner",
    )
    return joined.select(
        "event_id",
        "user_id",
        _epoch("ts").alias("ts"),
        F.col("ts_asof").cast("double").alias("click_ts"),
        F.col("value_asof").alias("click_value"),
    )


# --- range join -------------------------------------------------------------


@_register(
    "range_pairs_60s",
    """
    SELECT e1.user_id, count(*) AS n_pairs
    FROM events e1 JOIN events e2
      ON e1.user_id = e2.user_id
     AND e1.event_id < e2.event_id
     AND abs(epoch_us(e1.ts) - epoch_us(e2.ts)) <= 60000000
    GROUP BY e1.user_id
    """,
)
def range_pairs_60s(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: same-user event pairs within 60 s.  Bucketized equi-join
    (3-bucket explode + residual filter) vs DuckDB's IEJoin oracle.

    Distance cut is integer-exact (µs longs both sides), immune to float
    epoch() boundary drift under sub-µs source precision."""
    ev = t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    e1 = ev.select("user_id", F.col("event_id").alias("id1"), us.alias("t1"))
    e2 = ev.select("user_id", F.col("event_id").alias("id2"), us.alias("t2"))
    pairs = temporal.range_join_bucketized(
        e1, e2, on=["user_id"], left_val="t1", right_val="t2",
        max_distance=60 * 1_000_000,
    ).filter(F.col("id1") < F.col("id2"))
    return pairs.groupBy("user_id").agg(F.count("*").alias("n_pairs"))


# --- hypertable rollup -------------------------------------------------------


@_register(
    "hypertable_rollup_day",
    f"""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           count(*) AS n, {_r_sql('sum(value)', 4)} AS sum_v,
           min(value) AS min_v, max(value) AS max_v
    FROM events GROUP BY day
    """,
)
def hypertable_rollup_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical time rollup: hour level scans once, day level
    reaggregates hour (continuous-aggregate pattern; sums/counts compose)."""
    ev = t(spark, sf_dir, "events")
    levels = temporal.rollup_hierarchy(ev, "ts", ["hour", "day"], [], "value")
    day = levels["day"]
    return day.select(
        F.date_format("bucket", "yyyy-MM-dd").alias("day"),
        "n",
        _r(F.col("sum_v"), 4).alias("sum_v"),
        "min_v",
        "max_v",
    )


# --- set operations ----------------------------------------------------------


@_register(
    "set_ops_users",
    """
    SELECT 'both' AS tag, user_id FROM (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        INTERSECT
        SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
    )
    UNION ALL
    SELECT 'purchase_only' AS tag, user_id FROM (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        EXCEPT
        SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
    )
    """,
)
def set_ops_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    err = ev.filter(F.col("event_type") == "error").select("user_id").distinct()
    both = purch.intersect(err).select(F.lit("both").alias("tag"), "user_id")
    only = purch.exceptAll(err).select(F.lit("purchase_only").alias("tag"), "user_id")
    return both.unionByName(only)


# --- cube ---------------------------------------------------------------------


@_register(
    "cube_orders",
    f"""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           {_r_sql('sum(o_totalprice)', 2)} AS sum_total
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping combinations with subtotals (§2.4 extension).  Same
    zero-rows engine divergence as rollup_lineitem (see its docstring;
    pinned by tests/test_empty_input.py)."""
    return (
        t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), _r(F.sum("o_totalprice"), 2).alias("sum_total"))
    )


# --- grouping sets ---------------------------------------------------------------


@_register(
    "grouping_sets_orders",
    f"""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           {_r_sql('sum(o_totalprice)', 2)} AS sum_total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets (finer control than rollup/cube) via SQL —
    the DataFrame API exposes only cube/rollup, so this entry shows the
    engine's SQL surface over a registered temp view.  Same zero-rows
    engine divergence as rollup_lineitem (its () set vanishes on empty
    input; pinned by tests/test_empty_input.py)."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               {_r_sql('sum(o_totalprice)', 2)} AS sum_total
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# --- distinct counts -----------------------------------------------------------


@_register(
    "distinct_users_by_type",
    "SELECT event_type, count(DISTINCT user_id) AS n_users FROM events GROUP BY event_type",
)
def distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


@_register("approx_distinct_users", None)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch path for 100 TB cardinalities (rows-only: sketch values
    differ across engines by design; exact twin is distinct_users_by_type)."""
    return (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("n_users_approx"))
        .orderBy("event_type")
    )


# --- quantiles -------------------------------------------------------------------


@_register(
    "quantiles_by_type",
    """
    SELECT event_type,
           quantile_cont(value, 0.25) AS p25,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.9) AS p90
    FROM events GROUP BY event_type
    """,
)
def quantiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (guide's approx_percentile is the
    sketch path at 100 TB; exact is used here because it oracle-matches
    DuckDB quantile_cont bit-for-bit — same sort + linear interpolation).

    ONE array-argument percentile instead of three scalar calls: the
    per-group value buffer is collected and sorted once, not three times
    (round 7: 0.31 -> 0.22 s at sf0.1, bit-identical values)."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.expr("percentile(value, array(0.25D, 0.5D, 0.9D))").alias("__p"))
        .selectExpr("event_type", "__p[0] AS p25", "__p[1] AS p50", "__p[2] AS p90")
    )


# --- lead / lag ----------------------------------------------------------------


@_register(
    "lead_lag_delta",
    """
    SELECT event_id,
           value - lag(value) OVER w AS delta,
           epoch(lead(ts) OVER w) - epoch(ts) AS next_gap
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def lead_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead deltas — exact doubles (single subtraction, no sum order)."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
        (F.lead(_epoch("ts")).over(w) - _epoch("ts")).alias("next_gap"),
    )


@_register(
    "ema_smooth_5",
    f"""
    SELECT event_id,
           {_r_sql('''avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)''', 6)} AS smooth
    FROM events WHERE user_id <= 20
    """,
)
def ema_smooth_5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chart smoothing (SURVEY §2.5 extension): trailing 5-row moving avg."""
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") <= 20)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    return ev.select("event_id", _r(F.avg("value").over(w), 6).alias("smooth"))


# --- series regroup (A5) ---------------------------------------------------------


@_register(
    "series_regroup",
    """
    SELECT user_id, event_type,
           array_to_string(list(printf('%.2f', value) ORDER BY ts, event_id), ',')
               AS series
    FROM events WHERE user_id <= 10
    GROUP BY user_id, event_type
    """,
)
def series_regroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric series regroup (ref A5: per-key ordered series arrays,
    waddle/_dashboard_api.py:190-198) — sort_array over collected structs,
    then project the value field; one shuffle.  Output serialized as a
    joined string: the source values carry exactly 2 decimals, so %.2f is
    format-stable across engines, and strings avoid any array-vs-list
    normalization differences in the comparing harness."""
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") <= 10)
    packed = F.sort_array(
        F.collect_list(F.struct(F.col("ts"), F.col("event_id"), F.col("value")))
    )
    series = F.array_join(
        F.transform(packed, lambda s: F.format_string("%.2f", s["value"])), ","
    )
    return ev.groupBy("user_id", "event_type").agg(series.alias("series"))


# --- skew-safe aggregation --------------------------------------------------------


@_register(
    "salted_agg_by_user",
    f"""
    SELECT user_id, count(*) AS n, {_r_sql('sum(value)', 4)} AS sum_v,
           min(value) AS min_v, max(value) AS max_v
    FROM events GROUP BY user_id
    """,
)
def salted_agg_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation (operators.skew) vs the plain GROUP BY
    oracle — proving the skew-safe plan is semantics-preserving.  At scale
    this is the shape that survives one run producing 90% of the metrics."""
    from waddleml_spark.operators.skew import salted_agg

    ev = t(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        ["user_id"],
        {
            "n": ("count", "value"),
            "sum_raw": ("sum", "value"),
            "min_v": ("min", "value"),
            "max_v": ("max", "value"),
        },
        salt_buckets=8,
    )
    return out.select(
        "user_id", "n", _r(F.col("sum_raw"), 4).alias("sum_v"), "min_v", "max_v"
    )


# --- histogram / statistics -------------------------------------------------------


@_register(
    "value_histogram",
    """
    SELECT CAST(floor(value / 20) AS BIGINT) AS bucket, count(*) AS n
    FROM events WHERE value IS NOT NULL GROUP BY bucket
    """,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via floor-bucketing (the portable width_bucket)."""
    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    bucket = F.floor(F.col("value") / 20).cast("long")
    return ev.groupBy(bucket.alias("bucket")).agg(F.count("*").alias("n"))


@_register(
    "corr_price_qty",
    f"""
    SELECT l_returnflag,
           {_r_sql('corr(l_extendedprice, l_quantity)', 4)} AS corr_pq,
           {_r_sql('covar_samp(l_extendedprice, l_quantity)', 2)} AS covar_pq
    FROM lineitem GROUP BY l_returnflag
    """,
)
def corr_price_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics (corr/covar) — rounded: both engines use
    one-pass co-moment updates with different accumulation order."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        _r(F.corr("l_extendedprice", "l_quantity"), 4).alias("corr_pq"),
        _r(F.covar_samp("l_extendedprice", "l_quantity"), 2).alias("covar_pq"),
    )


@_register(
    "names_by_segment",
    """
    SELECT c_mktsegment, count(*) AS n,
           string_agg(c_name, '|' ORDER BY c_name) AS names
    FROM customer WHERE c_custkey <= 30
    GROUP BY c_mktsegment
    """,
)
def names_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: concat_ws over a sorted collect_list
    (string_agg ... ORDER BY equivalent)."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 30)
    return c.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        F.array_join(F.array_sort(F.collect_list("c_name")), "|").alias("names"),
    )


@_register(
    "orders_per_month",
    """
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
           count(*) AS n
    FROM orders GROUP BY month
    """,
)
def orders_per_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar bucketing (date_trunc month, DST-aware)."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month")
    ).agg(F.count("*").alias("n"))


@_register(
    "source_numeric_ids",
    r"""
    SELECT CAST(regexp_extract(source, '(\d+)', 1) AS INTEGER) AS src_id,
           count(*) AS n
    FROM documents GROUP BY src_id
    """,
)
def source_numeric_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex capture-group extraction + cast (§2.8 regex extension)."""
    d = t(spark, sf_dir, "documents")
    src_id = F.regexp_extract("source", r"(\d+)", 1).cast("int")
    return d.groupBy(src_id.alias("src_id")).agg(F.count("*").alias("n"))


# --- canonical JSON (F1) -----------------------------------------------------------


@_register(
    "json_canonical_docs",
    """
    SELECT doc_id, to_json({'lang': lang, 'source': source}) AS meta
    FROM documents
    """,
)
def json_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (sorted-key) JSON serialization (ref F1: waddle/_run.py:46-47)
    — struct fields declared in sorted order on both engines."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.to_json(F.struct(F.col("lang"), F.col("source"))).alias("meta")
    )


# --- change-data-capture shape ----------------------------------------------


@_register(
    "cdc_changes_since",
    """
    SELECT user_id, event_type, epoch(ts) AS ts, value,
           CASE WHEN rn = 1 THEN 'insert' ELSE 'update' END AS op
    FROM (
        SELECT user_id, event_type, ts, value,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS rn
        FROM events
    )
    WHERE ts >= TIMESTAMP '2024-01-25 00:00:00'
    """,
)
def cdc_changes_since(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture feed shape (Delta-CDF style): events as
    an upsert log keyed by (user_id, event_type); rows after the consumer's
    cursor are classified insert (first version of the key ever) vs update.

    One window over the PK — the same shuffle the LWW read view pays; the
    cursor filter cannot push below the window (classification needs full
    key history), which is exactly why the store keeps per-PK history
    until compaction."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("ts") >= F.lit("2024-01-25 00:00:00").cast("timestamp"))
        .select(
            "user_id",
            "event_type",
            _epoch("ts").alias("ts"),
            "value",
            F.when(F.col("rn") == 1, "insert").otherwise("update").alias("op"),
        )
    )


@_register(
    "variant_props_stats",
    f"""
    SELECT event_type,
           count(k) AS n_with_k,
           min(k) AS k_min, max(k) AS k_max,
           {_r_sql("avg(k)", 4)} AS k_avg
    FROM (SELECT event_type,
                 CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
          FROM events)
    GROUP BY event_type
    """,
)
def variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props via Spark 4 VariantType: parse_json ONCE into
    a binary-encoded variant, then variant_get per field — the
    parse-once/extract-many pattern that replaces repeated
    get_json_object string re-parsing (each get_json_object call re-reads
    the JSON text; a variant is parsed a single time and field access is
    a binary offset lookup — the difference compounds with fields × rows
    at 100 TB).  Oracle uses DuckDB's JSON extraction on the same path.
    """
    from waddleml_spark.session import fan_out

    # fan_out before the parse (r11 opt round): a single-row-group
    # events scan runs the whole parse_json pass on one core; exec
    # median 0.39 -> 0.30 s interleaved, no-op at cluster scale where
    # the scan already splits
    ev = fan_out(t(spark, sf_dir, "events").select("event_type", "props"))
    v = F.parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "int")
    d = ev.select("event_type", k.alias("k"))
    return d.groupBy("event_type").agg(
        F.count("k").alias("n_with_k"),
        F.min("k").alias("k_min"),
        F.max("k").alias("k_max"),
        _r(F.avg("k"), 4).alias("k_avg"),
    )


@_register(
    "series_downsample_50",
    f"""
    WITH ext AS (
        SELECT event_type, min(epoch(ts)) AS lo, max(epoch(ts)) AS hi
        FROM events GROUP BY event_type),
    b AS (
        SELECT e.event_type,
               CASE WHEN ext.hi <= ext.lo THEN 0
                    ELSE least(CAST(floor((epoch(e.ts) - ext.lo)
                                          / (ext.hi - ext.lo) * 50) AS INTEGER), 49)
               END AS bucket,
               epoch(e.ts) AS x0, e.value AS v
        FROM events e JOIN ext USING (event_type))
    SELECT event_type, bucket,
           {_r_sql("avg(x0)", 4)} AS x,
           {_r_sql("avg(v)", 4)} AS y_mean,
           min(v) AS y_min, max(v) AS y_max,
           count(*) AS n_points
    FROM b GROUP BY event_type, bucket
    """,
)
def series_downsample_50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chart downsampling to ≤50 points per series (operators.
    core.series_downsample): equal-width buckets over each series' time
    extent, mean point + min/max band per bucket.

    The reference truncates series at a row cap (get_metrics limit=5000,
    _dashboard_api.py:136); this preserves the whole series' shape at
    bounded output — and stays two broadcast-joined aggregates, so a
    billion-point series downsamples in one pass with no sort.
    """
    from waddleml_spark.operators.core import series_downsample

    ev = t(spark, sf_dir, "events").withColumn("__x", _epoch("ts"))
    out = series_downsample(ev, ["event_type"], "__x", "value", target_points=50)
    return out.select(
        "event_type",
        "bucket",
        _r(F.col("x"), 4).alias("x"),
        _r(F.col("y_mean"), 4).alias("y_mean"),
        F.col("y_min"),
        F.col("y_max"),
        "n_points",
    )


@_register(
    "series_lttb_50",
    """
    WITH ext AS (
        SELECT event_type, min(epoch(ts)) AS lo, max(epoch(ts)) AS hi
        FROM events GROUP BY event_type),
    d AS (
        SELECT e.event_type,
               CASE WHEN ext.hi <= ext.lo THEN 0
                    ELSE least(CAST(floor((epoch(e.ts) - ext.lo)
                                          / (ext.hi - ext.lo) * 50) AS INTEGER), 49)
               END AS b,
               epoch(e.ts) AS x, e.value AS y
        FROM events e JOIN ext USING (event_type)),
    m AS (
        SELECT event_type, b,
               floor(avg(x) * 1000000 + 0.5) / 1000000 AS mx,
               floor(avg(y) * 1000000 + 0.5) / 1000000 AS my
        FROM d GROUP BY event_type, b),
    a AS (
        SELECT event_type, b,
               lag(mx)  OVER w AS px, lag(my)  OVER w AS py,
               lead(mx) OVER w AS nx, lead(my) OVER w AS ny
        FROM m WINDOW w AS (PARTITION BY event_type ORDER BY b)),
    c AS (
        SELECT d.event_type, d.b, d.x, d.y, a.px, a.nx,
               CASE WHEN a.px IS NOT NULL AND a.nx IS NOT NULL
                    THEN abs(a.px * (d.y - a.ny) + d.x * (a.ny - a.py)
                             + a.nx * (a.py - d.y)) END AS area
        FROM d JOIN a USING (event_type, b)),
    r AS (
        SELECT *,
          row_number() OVER (PARTITION BY event_type, b
                             ORDER BY area DESC NULLS LAST, x, y) AS rsel,
          row_number() OVER (PARTITION BY event_type, b ORDER BY x, y) AS rfirst,
          row_number() OVER (PARTITION BY event_type, b
                             ORDER BY x DESC, y DESC) AS rlast
        FROM c)
    SELECT event_type, b AS bucket, x, y FROM r
    WHERE (px IS NOT NULL AND nx IS NOT NULL AND rsel = 1)
       OR (px IS NULL AND rfirst = 1)
       OR (nx IS NULL AND rlast = 1)
    """,
)
def series_lttb_50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB chart downsampling to ≤50 points per series (parallel
    neighbor-mean variant — core.lttb_downsample): keeps the
    visually dominant point of each bucket instead of the mean, which
    preserves spikes a mean-downsample flattens.  Fully relational:
    bucket means + one lag/lead window + per-bucket argmax."""
    from waddleml_spark.operators.core import lttb_downsample

    ev = t(spark, sf_dir, "events").withColumn("__x", _epoch("ts"))
    out = lttb_downsample(ev, ["event_type"], "__x", "value", target_points=50)
    return out.select(
        "event_type", "bucket", F.col("__x").alias("x"), F.col("value").alias("y")
    )


@_register("hll_daily_rollup", None)
def hll_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup (rows-only: DuckDB has no DataSketches):
    one HLL user sketch per event-day plus the all-days merged estimate
    on every row — the materialize-once / query-any-range distinct-count
    pattern (operators.sketches).  Accuracy pinned by
    tests/test_sketches.py against exact counts."""
    from waddleml_spark.operators.sketches import bucket_sketches, merge_sketches

    ev = t(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    )
    daily = bucket_sketches(ev, "day", "user_id")
    total = merge_sketches(daily)
    return (
        daily.select("day", "estimate")
        .crossJoin(F.broadcast(total))
        .orderBy("day")
    )


@_register(
    "distribution_ranks_orders",
    f"""
    SELECT o_orderkey,
           ntile(4) OVER w AS quartile,
           {_r_sql("percent_rank() OVER w", 6)} AS pct_rank,
           {_r_sql("cume_dist() OVER w", 6)} AS cume
    FROM orders
    WHERE o_custkey <= 50
    WINDOW w AS (ORDER BY o_totalprice, o_orderkey)
    """,
)
def distribution_ranks_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank window functions (ntile / percent_rank /
    cume_dist) over a filtered order set — the ranking repertoire beyond
    row_number/rank.  The window ORDER BY carries o_orderkey as a
    tiebreaker so every rank is engine-deterministic; the two ratio
    functions are floor-rounded (they divide row positions — exact
    integers — but the division result needs the shared rounding to
    hash-match).  Note this is a GLOBAL window — fine for a filtered
    slice, a single-task funnel on an unfiltered fact (the filter is
    the design)."""
    from pyspark.sql import Window as W

    o = t(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 50)
    w = W.orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        _r(F.percent_rank().over(w), 6).alias("pct_rank"),
        _r(F.cume_dist().over(w), 6).alias("cume"),
    )


@_register(
    "locf_gap_fill",
    """
    SELECT user_id, event_id,
           last_value(pv IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY epoch(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS last_purchase_value
    FROM (SELECT user_id, event_id, ts,
                 CASE WHEN event_type = 'purchase' THEN value END AS pv
          FROM events WHERE user_id <= 20)
    """,
)
def locf_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF (last-observation-carried-forward) gap fill: every event row
    carries the user's most recent purchase value — the standard
    forward-fill for sparse metrics onto a dense event timeline
    (`last(ignorenulls=True)` over an unbounded-preceding frame).

    NULL rows before a user's first purchase stay NULL (LOCF has nothing
    to carry).  The frame is per-user and time-ordered with an event_id
    tiebreak — deterministic, and at scale the window partitions on the
    same user/run key the fact is bucketed by (no extra shuffle).
    """
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events").filter(F.col("user_id") <= 20)
    pv = F.when(F.col("event_type") == "purchase", F.col("value"))
    w = (
        W.partitionBy("user_id")
        .orderBy(_epoch("ts"), "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.last(pv, ignorenulls=True).over(w).alias("last_purchase_value"),
    )


@_register(
    "resample_purchase_1h",
    f"""
    WITH pts AS (
        SELECT user_id AS k, epoch(ts) AS t, value AS v
        FROM events WHERE user_id <= 10 AND event_type = 'purchase'),
    ext AS (SELECT k, min(t) AS lo, max(t) AS hi FROM pts GROUP BY k),
    grid AS (
        SELECT k,
               unnest(generate_series(CAST(ceil(lo / 3600) AS BIGINT),
                                      CAST(floor(hi / 3600) AS BIGINT))) * 3600.0 AS t
        FROM ext),
    u AS (SELECT k, t, v, 0 AS is_grid FROM pts
          UNION ALL SELECT k, t, NULL, 1 FROM grid),
    f AS (
        SELECT *,
          last_value(CASE WHEN is_grid = 0 THEN v END IGNORE NULLS) OVER wp AS py,
          last_value(CASE WHEN is_grid = 0 THEN t END IGNORE NULLS) OVER wp AS pt,
          first_value(CASE WHEN is_grid = 0 THEN v END IGNORE NULLS) OVER wn AS ny,
          first_value(CASE WHEN is_grid = 0 THEN t END IGNORE NULLS) OVER wn AS nt
        FROM u WINDOW
          wp AS (PARTITION BY k ORDER BY t, is_grid
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          wn AS (PARTITION BY k ORDER BY t, is_grid
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT k AS user_id, t AS grid_ts,
           {_r_sql("CASE WHEN py IS NULL THEN ny WHEN ny IS NULL THEN py "
                   "WHEN nt = pt THEN py "
                   "ELSE py + (ny - py) * (t - pt) / (nt - pt) END", 6)}
               AS value_interp
    FROM f WHERE is_grid = 1
    """,
)
def resample_purchase_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-grid resampling with linear interpolation (hourly grid per
    user over the purchase series) — temporal.resample_interpolate.  The
    oracle rebuilds the identical grid-union + bidirectional
    ignore-nulls window-fill plan in SQL."""
    ev = (
        t(spark, sf_dir, "events")
        .filter((F.col("user_id") <= 10) & (F.col("event_type") == "purchase"))
    )
    out = temporal.resample_interpolate(ev, "user_id", "ts", "value", 3600)
    return out.select(
        "user_id", "grid_ts", _r(F.col("value_interp"), 6).alias("value_interp")
    )


@_register(
    "metric_anomaly_report",
    f"""
    WITH med AS (
        SELECT event_type, median(value) AS med
        FROM events GROUP BY event_type),
    mad AS (
        SELECT e.event_type,
               {_r_sql("median(abs(e.value - m.med))", 6)} AS mad,
               {_r_sql("any_value(m.med)", 6)} AS med
        FROM events e JOIN med m USING (event_type)
        GROUP BY e.event_type)
    SELECT e.event_type,
           count(*) AS n,
           a.med, a.mad,
           CAST(sum(CASE WHEN abs(e.value - a.med) > 3 * a.mad THEN 1 ELSE 0 END)
               AS BIGINT) AS n_outliers
    FROM events e JOIN mad a USING (event_type)
    GROUP BY e.event_type, a.med, a.mad
    """,
)
def metric_anomaly_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per metric stream: median + MAD (median
    absolute deviation), then count points beyond 3 MADs — the
    dashboard's anomaly badge, insensitive to the outliers it hunts
    (unlike mean/stddev z-scores).

    Two grouped exact medians (Spark `percentile(0.5)` == DuckDB
    `median`: same sorted-interpolation definition) with the medians
    broadcast back; med/mad are floor-rounded BEFORE the 3-MAD
    comparison so boundary points can't flip between engines.
    """
    ev = t(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med0")
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            _r(F.expr("percentile(abs(value - med0), 0.5)"), 6).alias("mad"),
            _r(F.first("med0"), 6).alias("med"),
        )
    )
    return (
        ev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.abs(F.col("value") - F.col("med")) > 3 * F.col("mad"), 1)
                .otherwise(0)
            ).alias("n_outliers"),
        )
        .select("event_type", "n", "med", "mad", "n_outliers")
    )


# --- data profiling ---------------------------------------------------------


@_register(
    "profile_orders",
    """
    SELECT * FROM (
        SELECT 'o_orderkey' AS column, count(*) AS n_rows,
               count(*) - count(o_orderkey) AS n_nulls,
               count(DISTINCT o_orderkey) AS n_distinct,
               CAST(min(o_orderkey) AS VARCHAR) AS min_s,
               CAST(max(o_orderkey) AS VARCHAR) AS max_s
        FROM orders
        UNION ALL
        SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
               count(DISTINCT o_custkey),
               CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
               count(DISTINCT o_orderstatus),
               min(o_orderstatus), max(o_orderstatus)
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
               count(DISTINCT o_orderpriority),
               min(o_orderpriority), max(o_orderpriority)
        FROM orders
        UNION ALL
        SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
               count(DISTINCT o_orderdate),
               strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S'),
               strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S')
        FROM orders
    )
    """,
)
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight column profile of `orders` (operators.core.profile_columns):
    nulls / exact distincts / min / max for every audited column in ONE
    aggregation pass — the oracle's UNION ALL twin scans the table once per
    column; the Spark plan scans once total.  Doubles excluded by design
    (shortest-repr string rendering is not engine-stable; see operator doc).
    """
    from waddleml_spark.operators import core as ops

    return ops.profile_columns(
        t(spark, sf_dir, "orders"),
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate"],
    )
