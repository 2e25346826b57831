"""Driver-facing query catalog: SURVEY.md §2 operators instantiated over the
driver synthetic tables (TESTDATA.md), each with a DuckDB oracle twin.

Role mapping (FIXTURES.md §B): `events` plays the metrics fact table
(user_id→run_id, event_type→key, ts→time order, value→value, props→JSON);
`orders`/`customer`/dims play runs+dimensions; `lineitem` stresses volume;
`documents`/`embeddings` back the §2.12 LLM-pipeline operators.

Contract (driver): every Spark query and its oracle produce identical
column NAMES and identical values (order-insensitive hash at sf0.01).
Determinism rules used throughout:
  - every ORDER BY feeding a LIMIT carries a unique tiebreaker column;
  - raw timestamps are projected as epoch doubles (Spark cast-to-double ==
    DuckDB epoch(), both microseconds/1e6) or formatted strings;
  - floating aggregates that sum many doubles are rounded (sum order is
    nondeterministic in both engines; rounding makes the hash stable).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from waddleml_spark.operators import core as ops
from waddleml_spark.session import read_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def _register(name: str, sql: str | None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = " ".join(sql.split())
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


def _epoch(col):
    """Timestamp → epoch-seconds double; bit-identical to DuckDB epoch()."""
    return F.col(col).cast("double")


def _r(c, digits: int):
    """Bit-identical cross-engine rounding: floor(x*10^d + 0.5) / 10^d.

    Library round() differs between engines (Spark rounds the shortest
    decimal repr, DuckDB the binary value); this explicit formula is the
    same IEEE op sequence in both.  SQL twin: _r_sql().

    Sound for |x·10^d| < 2^63 FINITE inputs (fuzz-pinned): Spark's
    floor returns BIGINT, so it CLAMPS beyond long range and maps
    NaN→0 / ±inf→±Long.MAX while DuckDB's floor stays double (NaN→NaN,
    inf→inf).  Never apply _r where NaN/inf can reach it — use
    _r_nan/_r_nan_sql for columns that legitimately carry NaN (e.g. a
    cosine over a zero-norm vector).
    """
    from waddleml_spark.llmops import round_floor

    return round_floor(c, digits)


def _r_sql(expr: str, digits: int) -> str:
    p = 10 ** digits
    return f"floor(({expr}) * {p} + 0.5) / {p}"


def _r_nan(c, digits: int):
    """NaN-preserving _r: Spark's floor maps NaN to BIGINT 0 while
    DuckDB's keeps NaN — pass NaN through so both engines emit NaN."""
    return F.when(F.isnan(c), c).otherwise(_r(c, digits))


def _r_nan_sql(expr: str, digits: int) -> str:
    return f"CASE WHEN isnan({expr}) THEN ({expr}) ELSE {_r_sql(expr, digits)} END"


# =====================================================================
# Flagship — A6 leaderboard (ref: waddle/_dashboard_api.py:218-235).
# Last value per run for one metric key, ranked, top-N.  events stands in
# for metrics: user_id=run, event_type=key, ts=step order.
# Plan shape: pushed filter → single window shuffle on user_id →
# TakeOrderedAndProject.  At 100 TB with metrics bucketed by run_id the
# window is shuffle-free.
# =====================================================================
@_register(
    "flagship_leaderboard",
    """
    SELECT user_id, value AS last_value, epoch(ts) AS last_ts
    FROM (
        SELECT user_id, value, ts,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE event_type = 'purchase'
    ) WHERE rn = 1
    ORDER BY last_value DESC, user_id
    LIMIT 20
    """,
)
def flagship_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parsed expr strings: same plan as the Window-API build with ~15
    # fewer py4j constructions per invocation (round 7)
    return (
        t(spark, sf_dir, "events")
        .where("event_type = 'purchase'")
        .selectExpr(
            "user_id",
            "value",
            "ts",
            "row_number() OVER (PARTITION BY user_id"
            " ORDER BY ts DESC, event_id DESC) AS rn",
        )
        .where("rn = 1")
        .selectExpr(
            "user_id", "value AS last_value", "CAST(ts AS DOUBLE) AS last_ts"
        )
        .orderBy(F.col("last_value").desc(), "user_id")
        .limit(20)
    )


# =====================================================================
# P1+P2+O1+O2 — list_runs shape: projection, dynamic equality filter,
# allowlisted sort, LIMIT/OFFSET (ref: waddle/_dashboard_api.py:22-72).
# =====================================================================
@_register(
    "runs_list_page",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate_s
    FROM orders WHERE o_orderstatus = 'O'
    ORDER BY o_orderdate DESC, o_orderkey
    LIMIT 50 OFFSET 10
    """,
)
def runs_list_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = ops.equality_filter(t(spark, sf_dir, "orders"), {"o_orderstatus": "O"})
    df = df.orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey"))
    df = ops.paginate(df, limit=50, offset=10)
    return df.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_orderdate_s"),
    )


# P3 — point lookup by PK (ref: waddle/_dashboard_api.py:77-80).
@_register(
    "point_lookup",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey = 500
    """,
)
def point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = ops.equality_filter(t(spark, sf_dir, "orders"), {"o_orderkey": 500})
    return df.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")


# P4 — FK-scoped scan (ref: waddle/_dashboard_api.py:94-149); with the fact
# table partitioned by the FK this is partition pruning.
@_register(
    "fk_scan",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem WHERE l_orderkey = 1
    """,
)
def fk_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = ops.equality_filter(t(spark, sf_dir, "lineitem"), {"l_orderkey": 1})
    return df.select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")


# P5 — IN-list predicate (ref: waddle/_dashboard_api.py:160-196).
@_register(
    "in_list_filter",
    """
    SELECT c_custkey, c_name, c_acctbal FROM customer
    WHERE c_custkey IN (1, 2, 3, 5, 8, 13, 21, 34, 55, 89)
    """,
)
def in_list_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = ops.in_list_filter(
        t(spark, sf_dir, "customer"), "c_custkey", [1, 2, 3, 5, 8, 13, 21, 34, 55, 89]
    )
    return df.select("c_custkey", "c_name", "c_acctbal")


# P6 — namespace-prefix exclusion (ref `key NOT LIKE 'system/%'`,
# waddle/_dashboard_api.py:212).
@_register(
    "prefix_exclusion",
    """
    SELECT event_id, event_type FROM events
    WHERE event_type NOT LIKE 's%'
    """,
)
def prefix_exclusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = t(spark, sf_dir, "events").filter(~F.col("event_type").startswith("s"))
    return df.select("event_id", "event_type")


# P7/F8 — case-insensitive substring search over concatenated fields,
# promoted server-side (ref: waddle/static/index.html:185-191).
@_register(
    "search_ci",
    """
    SELECT c_custkey, c_name, c_mktsegment FROM customer
    WHERE lower(concat_ws(' ', c_name, c_mktsegment)) LIKE '%ding%'
    """,
)
def search_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = ops.search_filter(t(spark, sf_dir, "customer"), ["c_name", "c_mktsegment"], "ding")
    return df.select("c_custkey", "c_name", "c_mktsegment")


# P8+F6 — derived duration + humanize (ref: cli.py:61-72).
@_register(
    "derived_duration",
    """
    SELECT event_id, value,
           CASE WHEN value < 60 THEN printf('%.2fs', floor(value * 100 + 0.5) / 100)
                ELSE printf('%.2fm', floor(value / 60 * 100 + 0.5) / 100) END AS dur_h
    FROM events WHERE value IS NOT NULL AND value >= 0
    """,
)
def derived_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & (F.col("value") >= 0)
    )
    # Round with an explicit floor(x*100+0.5)/100 BEFORE formatting: Spark's
    # round() rounds the shortest decimal repr (BigDecimal.valueOf) while
    # DuckDB/C round the exact binary value, so library roundings diverge on
    # near-tie digits.  The floor formula is identical IEEE arithmetic in
    # both engines, and %.2f of the identical double prints identically.
    def _r2(c):
        return F.floor(c * 100 + 0.5) / 100

    dur = F.when(
        F.col("value") < 60, F.format_string("%.2fs", _r2(F.col("value")))
    ).otherwise(F.format_string("%.2fm", _r2(F.col("value") / 60)))
    return df.select("event_id", "value", dur.alias("dur_h"))


# P9/T3 — query-time stale-run reclassification: the ref's N+1 correlated
# loop (waddle/_dashboard_api.py:56-69) as one aggregate + CASE.
@_register(
    "stale_reclass",
    """
    SELECT user_id,
           CASE WHEN max(ts) < TIMESTAMP '2024-01-25 00:00:00'
                THEN 'aborted' ELSE 'running' END AS status,
           epoch(max(ts)) AS last_ts
    FROM events GROUP BY user_id
    """,
)
def stale_reclass(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    agg = ev.groupBy("user_id").agg(F.max("ts").alias("__max_ts"))
    status = F.when(
        F.col("__max_ts") < F.lit("2024-01-25 00:00:00").cast("timestamp"),
        F.lit("aborted"),
    ).otherwise(F.lit("running"))
    return agg.select(
        "user_id",
        status.alias("status"),
        F.col("__max_ts").cast("double").alias("last_ts"),
    )


# =====================================================================
# J1/J3 — dimension joins (ref: waddle/_dashboard_api.py:223-225).  The dim
# chain customer→nation→region is broadcast on both hops (Catalyst auto-
# broadcasts under the 64 MB threshold set in session.py).
# =====================================================================
@_register(
    "dim_join_agg",
    f"""
    SELECT r.r_name, count(*) AS n_cust,
           {_r_sql('avg(c.c_acctbal)', 4)} AS avg_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def dim_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_cust"),
            _r(F.avg("c_acctbal"), 4).alias("avg_bal"),
        )
    )


# J2/W1 — last value per (group, key) with rank() keeping ties: exact parity
# with the ref's step = (SELECT MAX(step)...) equality semantics
# (waddle/_dashboard_api.py:227).
@_register(
    "last_per_group_ties",
    """
    SELECT user_id, event_type, value AS last_value
    FROM (
        SELECT user_id, event_type, value,
               rank() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC) AS rk
        FROM events
    ) WHERE rk = 1
    """,
)
def last_per_group_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    out = ops.last_per_group(ev, ["user_id", "event_type"], "ts")
    return out.select("user_id", "event_type", F.col("value").alias("last_value"))


# J5/D4 — idempotent-insert probe as left-anti join (ref: waddle/_db.py:111-133).
@_register(
    "anti_join_missing",
    """
    SELECT c.c_custkey, c.c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def anti_join_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return ops.anti_insert(c, o, ["c_custkey"]).select("c_custkey", "c_name")


# Semi-join twin (EXISTS).
@_register(
    "semi_join_active",
    """
    SELECT c.c_custkey, c.c_acctbal FROM customer c
    WHERE c.c_acctbal > 0
      AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def semi_join_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    o = t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return c.join(o, on="c_custkey", how="left_semi").select("c_custkey", "c_acctbal")


# =====================================================================
# A1/A2 — grouped MAX/MIN/COUNT (ref: waddle/_dashboard_api.py:62-64,227).
# Partial+final hash aggregation; epoch doubles for hash parity.
# =====================================================================
@_register(
    "agg_minmax_count",
    """
    SELECT user_id, epoch(max(ts)) AS max_ts, epoch(min(ts)) AS min_ts,
           count(*) AS n_events
    FROM events GROUP BY user_id
    """,
)
def agg_minmax_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max("ts").cast("double").alias("max_ts"),
            F.min("ts").cast("double").alias("min_ts"),
            F.count("*").alias("n_events"),
        )
    )


# A3/O5 — distinct key discovery, sorted (ref: waddle/_dashboard_api.py:117-120).
@_register(
    "distinct_keys",
    "SELECT DISTINCT event_type FROM events ORDER BY event_type",
)
def distinct_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ops.distinct_values(t(spark, sf_dir, "events"), "event_type")


# A4 — pivot (ref param-diff, waddle/_dashboard_api.py:171-183): tall EAV →
# wide run×key grid.  Explicit pivot values keep one pass + stable schema.
_PIVOT_KINDS = ["click", "error", "purchase", "signup", "view"]


@_register(
    "pivot_user_by_type",
    "SELECT user_id, "
    + ", ".join(
        _r_sql("avg(CASE WHEN event_type = '%s' THEN value END)" % k, 4) + " AS " + k
        for k in _PIVOT_KINDS
    )
    + " FROM events GROUP BY user_id",
)
def pivot_user_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    piv = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .pivot("event_type", _PIVOT_KINDS)
        .agg(F.avg("value"))
    )
    return piv.select("user_id", *[_r(F.col(k), 4).alias(k) for k in _PIVOT_KINDS])


# A7 — unpivot/fan-out (ref dict→rows, waddle/_run.py:114-126) via stack().
@_register(
    "unpivot_measures",
    """
    SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS val
    FROM lineitem WHERE l_orderkey <= 100
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'extendedprice' AS measure, l_extendedprice AS val
    FROM lineitem WHERE l_orderkey <= 100
    """,
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 100)
    return li.selectExpr(
        "l_orderkey",
        "l_linenumber",
        "stack(2, 'quantity', l_quantity, 'extendedprice', l_extendedprice) AS (measure, val)",
    )


# O4 — global top-N (ref: cli.py:51-52): TakeOrderedAndProject, no full sort.
@_register(
    "topn_orders",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
    """,
)
def topn_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(25)
        .select("o_orderkey", "o_totalprice")
    )


# F2 — tolerant JSON extraction (ref parse-on-read,
# waddle/_dashboard_api.py:86-108) — JVM-side json path, no UDF.
# GENUINELY tolerant on both sides (fuzz-found, test_properties): plain
# CAST errors under Spark-4 ANSI on a non-numeric k, and DuckDB's
# json_extract_string hard-errors on malformed JSON — so malformed
# documents/garbage values yield NULL, never a job failure.  The
# extracted string passes a strict shared numeric regex BEFORE any
# cast: the engines' string→double casts disagree on Java-only
# literals ('nan', '5d', '0x1p3' — Spark accepts, and floor maps NaN
# to 0), and string→int disagrees on '100.0'; the regex admits only
# [+-]?digits[.digits][eE exp] so both TRY-cast identical inputs, then
# floor pins double→int (DuckDB rounds half-even, Spark truncates).
# KNOWN residual divergence (pinned by the fuzz test, not fixable with
# builtins): Spark's Jackson parsers — get_json_object, from_json,
# try_parse_json alike — accept a valid JSON PREFIX with trailing
# garbage ('{"k":1} x' → 1) where DuckDB's json_valid rejects the
# document; the generator emits whole-document JSON, so the pairing is
# exact on real props.
_NUM_RE = r"\A[+-]?[0-9]+(\.[0-9]+)?([eE][+-]?[0-9]+)?\z"


@_register(
    "json_extract_props",
    f"""
    SELECT event_id,
           CASE WHEN json_valid(props)
                 AND regexp_matches(json_extract_string(props, '$.k'),
                                    '{_NUM_RE}')
           THEN TRY_CAST(
               floor(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE))
               AS INTEGER) END AS k_val
    FROM events
    """,
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    from waddleml_spark.session import fan_out

    # fan_out before the per-row JSON parse + regex (r11 opt round): the
    # single-row-group events scan otherwise runs the whole pass on one
    # core (exec min 0.572 -> 0.468 s interleaved; no-op on splittable
    # cluster-scale inputs)
    ev = fan_out(t(spark, sf_dir, "events").select("event_id", "props"))
    raw = F.get_json_object("props", "$.k")
    k = (
        F.floor(
            F.when(raw.rlike(_NUM_RE), raw).try_cast("double")
        )
        .try_cast("int")
        .alias("k_val")
    )
    return ev.select("event_id", k)


# F3 — sha256 content hashing (ref artifact hashing, waddle/_run.py:177).
@_register(
    "sha256_docs",
    "SELECT doc_id, sha256(text) AS text_sha FROM documents",
)
def sha256_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "documents").select(
        "doc_id", F.sha2(F.col("text"), 256).alias("text_sha")
    )


# F7 — fixed-width truncation/format (ref: cli.py:58,71-72).
@_register(
    "substr_format",
    """
    SELECT c_custkey, substr(c_name, 1, 8) AS name8, upper(c_mktsegment) AS seg
    FROM customer
    """,
)
def substr_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.substring("c_name", 1, 8).alias("name8"),
        F.upper("c_mktsegment").alias("seg"),
    )


# =====================================================================
# Volume / OLAP shapes (SURVEY.md §2.4 "absent in ref, needed for north
# star").  These are the queries that dominate at 100 TB: wide partial
# aggregation, grouped top-N, rollup, sessionization, the big fact-fact
# shuffle join.
# =====================================================================


@_register(
    "tpch_q1",
    f"""
    SELECT l_returnflag, l_linestatus,
           {_r_sql('sum(l_quantity)', 2)} AS sum_qty,
           {_r_sql('sum(l_extendedprice)', 2)} AS sum_base_price,
           {_r_sql('sum(l_extendedprice * (1 - l_discount))', 2)} AS sum_disc_price,
           {_r_sql('sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))', 2)} AS sum_charge,
           {_r_sql('avg(l_quantity)', 4)} AS avg_qty,
           {_r_sql('avg(l_extendedprice)', 4)} AS avg_price,
           {_r_sql('avg(l_discount)', 4)} AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary: the canonical wide partial-agg shape.

    Plan: scan with pushed shipdate filter + column pruning → partial hash
    aggregate per partition (map-side combine) → 4-group final aggregate.
    Sum order is engine-nondeterministic → floor-round for hash parity.

    The aggregate expressions are the LITERAL `_r_sql` strings the
    DuckDB oracle runs (valid in both dialects): one source for the
    rounding formula on both sides, and the parsed build skips ~30
    py4j Column constructions per invocation (round 7).
    """
    li = t(spark, sf_dir, "lineitem").where(
        "l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'"
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.expr(f"{_r_sql('sum(l_quantity)', 2)} AS sum_qty"),
        F.expr(f"{_r_sql('sum(l_extendedprice)', 2)} AS sum_base_price"),
        F.expr(
            f"{_r_sql('sum(l_extendedprice * (1 - l_discount))', 2)}"
            " AS sum_disc_price"
        ),
        F.expr(
            f"{_r_sql('sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))', 2)}"
            " AS sum_charge"
        ),
        F.expr(f"{_r_sql('avg(l_quantity)', 4)} AS avg_qty"),
        F.expr(f"{_r_sql('avg(l_extendedprice)', 4)} AS avg_price"),
        F.expr(f"{_r_sql('avg(l_discount)', 4)} AS avg_disc"),
        F.expr("count(*) AS count_order"),
    )


@_register(
    "top3_orders_per_cust",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rk
        FROM orders
    ) WHERE rk <= 3
    """,
)
def top3_orders_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped top-N (standard OLAP top-k; extension of ref W1)."""
    return (
        t(spark, sf_dir, "orders")
        .selectExpr(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            "row_number() OVER (PARTITION BY o_custkey"
            " ORDER BY o_totalprice DESC, o_orderkey) AS rk",
        )
        .where("rk <= 3")
    )


@_register(
    "rollup_lineitem",
    f"""
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           {_r_sql('sum(l_quantity)', 2)} AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup with subtotals + grand total (§2.4 extension).

    Known engine divergence AT ZERO ROWS, pinned by
    tests/test_empty_input.py: standard SQL (DuckDB, Postgres) emits
    the () grand-total row even over an empty input, but Spark's
    Expand-based implementation replicates input rows per grouping set
    — no rows in, no rows out.  Identical on any non-empty input.
    """
    return (
        t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), _r(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


@_register(
    "sessionize_users",
    """
    SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions, count(*) AS n_events FROM (
        SELECT user_id,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 3600000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ) GROUP BY user_id
    """,
)
def sessionize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag-gap detection + per-user session count.

    The classic streaming-adjacent batch shape (guide §OLAP patterns);
    single window shuffle on user_id, then reuse of the same partitioning
    for the aggregate (no second shuffle).

    Gap cut is INTEGER-exact: microsecond longs (Spark unix_micros /
    DuckDB epoch_us) compared against 3600*1_000_000 — a float epoch()
    diff flips the `> 3600` boundary when source data carries sub-µs
    precision (the round-2 red row).
    """
    # Project the lag-window gap ONCE and reference the alias in the
    # CASE: interpolating the window expression twice relied on Catalyst
    # deduplicating identical window expressions (it does today, but a
    # regression would silently compute the window twice).
    gap = (
        "unix_micros(ts) - lag(unix_micros(ts)) OVER"
        " (PARTITION BY user_id ORDER BY ts, event_id)"
    )
    return (
        t(spark, sf_dir, "events")
        .selectExpr("user_id", f"{gap} AS __gap")
        .selectExpr(
            "user_id",
            "CASE WHEN __gap IS NULL OR __gap > 3600000000"
            " THEN 1 ELSE 0 END AS is_new",
        )
        .groupBy("user_id")
        .agg(
            F.expr("sum(is_new) AS n_sessions"),
            F.expr("count(*) AS n_events"),
        )
    )


@_register(
    "running_sum_per_user",
    f"""
    SELECT event_id,
           {_r_sql('''sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)''', 4)}
               AS run_sum
    FROM events WHERE user_id <= 20
    """,
)
def running_sum_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (prefix) sum per user — frame-spec window (ref W3 extension).

    Rounded: DuckDB evaluates windowed sums with a segment tree (pairwise
    order), Spark sequentially — last-ulp drift on long prefixes.
    """
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") <= 20)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select("event_id", _r(F.sum("value").over(w), 4).alias("run_sum"))


@_register(
    "revenue_by_priority",
    f"""
    SELECT o.o_orderpriority,
           {_r_sql('sum(l.l_extendedprice * (1 - l.l_discount))', 2)} AS revenue,
           count(*) AS n_items
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def revenue_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact equi-join + aggregate — the big shuffle shape at 100 TB.

    orders/lineitem share the orderkey; at scale both sides should be
    bucketed by orderkey so this is a shuffle-free sort-merge join
    (sources.bucketed.bucket_facts produces that layout in one call;
    the r8 history row in SCALING.md's 100× section records 5.93x —
    5.34 s -> 0.90 s — at the 100x replica, quiet-window interleaved
    min-of-5; examples/bucketed_layout.py shows the user-facing flow).
    AQE handles skewed keys.  Locally Catalyst picks broadcast for orders.
    """
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    return revenue_join(li, o)


def revenue_join(li: DataFrame, o: DataFrame) -> DataFrame:
    """revenue_by_priority's join+agg on EXPLICIT frames — the one shared
    definition the parquet catalog query, the bucketed-layout test and
    example all build on, so the layout proof can never check a drifted
    shape."""
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(_r(F.sum(rev), 2).alias("revenue"), F.count("*").alias("n_items"))
    )


@_register(
    "metric_summary_stats",
    f"""
    SELECT event_type, count(*) AS n,
           min(value) AS vmin, max(value) AS vmax,
           {_r_sql('avg(value)', 4)} AS vavg,
           {_r_sql('stddev_samp(value)', 4)} AS vstd,
           max_by(value, epoch(ts)) AS vlast
    FROM events GROUP BY event_type
    """,
)
def metric_summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key summary stats (count/min/max/avg/stddev/last) — the metric
    overview panel the reference renders client-side, as one aggregate."""
    # F.expr aggregates share the oracle's _r_sql strings (one rounding
    # source) and skip ~20 py4j constructions per invocation (round 7)
    return t(spark, sf_dir, "events").groupBy("event_type").agg(
        F.expr("count(*) AS n"),
        F.expr("min(value) AS vmin"),
        F.expr("max(value) AS vmax"),
        F.expr(f"{_r_sql('avg(value)', 4)} AS vavg"),
        F.expr(f"{_r_sql('stddev_samp(value)', 4)} AS vstd"),
        F.expr("max_by(value, CAST(ts AS DOUBLE)) AS vlast"),
    )


@_register(
    "shipping_priority_q3",
    f"""
    SELECT l.l_orderkey,
           {_r_sql('sum(l.l_extendedprice * (1 - l.l_discount))', 2)} AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l.l_orderkey, orderdate
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def shipping_priority_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → two-hop join into the fact →
    grouped revenue → top-10.  Catalyst pushes both date filters into the
    scans and broadcasts the filtered customer side."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # fact-first join order: keep the filtered lineitem as the probe side
    # so the build/broadcast sides are the small filtered dims (see Q5).
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .agg(_r(F.sum(rev), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "orderdate")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@_register(
    "local_supplier_volume_q5",
    f"""
    SELECT n.n_name,
           {_r_sql('sum(l.l_extendedprice * (1 - l.l_discount))', 2)} AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name
    """,
)
def local_supplier_volume_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: the 6-table join cycle (customer and supplier must
    share a nation) — the join-order stress test; every dim broadcasts,
    the fact-fact hop shuffles once on orderkey.

    lineitem is kept as the PROBE side throughout (li.join(o), not
    c.join(o).join(li)): written fact-last, Catalyst's size estimate
    broadcast the 600k-row fact as a build side at bench scale.  Fact-
    first, the build sides are orders/customer (locally broadcast; at
    cluster scale AQE flips the o-join to a shuffle join on orderkey,
    which is the bucketed plan)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(
            # supplier grows with SF — hint-free per the bounded-broadcast
            # rule (static file-size stats still broadcast it at bench SF;
            # AQE sizes it on a cluster); nation/region below keep theirs
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_r(F.sum(rev), 2).alias("revenue"))
    )


# F10 — bucketed humanize (ref bytes humanize, waddle/static/index.html:492-497)
# as a when-chain + per-bucket aggregate.
@_register(
    "size_class_counts",
    """
    SELECT lang,
           CASE WHEN n_chars < 200 THEN 'S'
                WHEN n_chars < 350 THEN 'M'
                ELSE 'L' END AS size_class,
           count(*) AS n
    FROM documents GROUP BY lang, size_class
    """,
)
def size_class_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    cls = (
        F.when(F.col("n_chars") < 200, "S")
        .when(F.col("n_chars") < 350, "M")
        .otherwise("L")
    )
    return d.groupBy("lang", cls.alias("size_class")).agg(F.count("*").alias("n"))


# LLM-pipeline (§2.12) and extension entries register on import — keep last.
from waddleml_spark import catalog_ext, catalog_llm, catalog_tpch  # noqa: E402,F401
