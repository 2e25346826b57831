"""Generic relational operators, column-parameterized.

Each maps a reference query shape (SURVEY.md §2 table row, cited per
function) onto a declarative DataFrame plan.  Design rules:

- Filters are plain Column predicates → Catalyst pushes them into the
  parquet scan (PushedFilters) and prunes partitions.
- "Last value per group" is a window rank, not a correlated re-query —
  the reference's N+1 loops (waddle/_dashboard_api.py:61-68,190-198)
  collapse into single shuffles.
- Sorts feeding LIMIT become TakeOrderedAndProject (top-K), never a full
  global sort.
- At 100 TB: every groupBy/window here partitions by the natural key
  (run_id / user key); with the fact table bucketed by that key these
  plans shuffle zero bytes (see store.py for the layout contract).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def equality_filter(df: DataFrame, conditions: Mapping[str, object]) -> DataFrame:
    """Dynamic conjunctive equality filter; None values are skipped.

    Ref shape P2/P3/P4 (waddle/_dashboard_api.py:34-43,77-80): the reference
    assembles WHERE strings conditionally; here each condition is a pushed
    predicate.  Composite point-lookups are conjunctions of equalities.
    """
    for col_name, val in conditions.items():
        if val is not None:
            df = df.filter(F.col(col_name) == F.lit(val))
    return df


def in_list_filter(df: DataFrame, col_name: str, values: Sequence) -> DataFrame:
    """IN-list predicate (ref P5: waddle/_dashboard_api.py:160-196)."""
    return df.filter(F.col(col_name).isin(list(values)))


def paginate(df: DataFrame, limit: int = 200, offset: int = 0) -> DataFrame:
    """LIMIT/OFFSET pagination (ref O2: waddle/_dashboard_api.py:50-51).

    With a preceding orderBy this compiles to TakeOrderedAndProject — a
    distributed top-(offset+limit) with per-partition pruning, not a global
    sort.  Offset pagination is O(offset) at scale; callers paging deep
    should switch to keyset pagination (filter > last_seen_key).
    """
    df = df.offset(offset) if offset else df
    return df.limit(limit)


def search_filter(df: DataFrame, cols: Sequence[str], query: str) -> DataFrame:
    """Case-insensitive substring search over concatenated fields.

    Promotes the reference's client-side JS search
    (waddle/static/index.html:185-191) to a server-side pushed predicate.
    The haystack expression is THE shared one (functions.scalars
    .search_haystack) so server-side search can never drift from other
    consumers of the F8 scalar.
    """
    from waddleml_spark.functions.scalars import search_haystack

    return df.filter(search_haystack(*cols).contains(query.lower()))


def last_per_group(df: DataFrame, group_cols: Sequence[str], order_col: str) -> DataFrame:
    """Last (max-order_col) row per group, ties kept — the reference's
    flagship shape.

    Ref J2/W1 (waddle/_dashboard_api.py:227): a correlated scalar subquery
    `step = (SELECT MAX(step) ...)` selecting each run's final metric value.
    Window rank() replaces the subquery and keeps all max rows (exact
    parity with the ref's equality-on-max semantics).

    Scale: one shuffle on group_cols; with the fact table bucketed on the
    leading group col this is shuffle-free.  AQE splits skewed groups.
    """
    w = Window.partitionBy(*group_cols).orderBy(F.col(order_col).desc())
    return df.withColumn("__rk", F.rank().over(w)).filter(F.col("__rk") == 1).drop("__rk")


def distinct_values(df: DataFrame, col_name: str) -> DataFrame:
    """DISTINCT key discovery, sorted (ref A3, waddle/_dashboard_api.py:117-120)."""
    return df.select(col_name).distinct().orderBy(col_name)


def anti_insert(new_rows: DataFrame, existing: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """Idempotent-insert candidate set: rows whose key is absent.

    Ref J5/D4 (waddle/_db.py:111-133): `SELECT 1 ...` existence probe then
    INSERT ON CONFLICT DO NOTHING, as a set-based left-anti join.
    """
    return new_rows.join(existing.select(*key_cols), on=list(key_cols), how="left_anti")


def profile_columns(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """Per-column data-profile: (column, n_rows, n_nulls, n_distinct,
    min_s, max_s) — the pre-flight audit every ingest pipeline runs
    before committing a corpus version.

    ONE action over the table (two single-row aggregate branches:
    count/min/max distinct-free, all exact distinct counts together),
    then the combined 1-row result fans out to one row per column via
    an array explode — no per-column rescans, unlike the naive loop
    (or the oracle's UNION ALL twin, which scans once per column).

    min/max render as strings: timestamps via an explicit pattern,
    other types via cast.  Doubles are engine-renderable but their
    shortest-repr formatting is not guaranteed stable across engines —
    oracle-paired profiles should stick to integer/string/timestamp
    columns (see catalog `profile_orders`).

    CONTRACT: the timestamp pattern is SECOND precision by design —
    the oracle twin renders with strftime('%Y-%m-%d %H:%M:%S'), so both
    engines truncate sub-second digits identically.  Profiling a
    micro-precision column (events.ts) therefore reports second-level
    min/max; if fractional seconds are ever needed, extend BOTH
    renderers in lockstep ('.SSSSSS' / '%f').
    """
    cols = list(cols or df.columns)

    # Parsed expr strings (round-8 conversion): the Column-API build of
    # this 5-column profile — ~16 aggregate Columns + a 5-struct array —
    # paid 0.29 s of driver py4j per invocation at sf0.1; the parsed
    # strings produce the identical Catalyst plan (oracle re-certified).
    def _bq(c: str) -> str:
        return "`" + c.replace("`", "``") + "`"

    def _render(c: str, x: str) -> str:
        if isinstance(df.schema[c].dataType, (T.TimestampType, T.TimestampNTZType)):
            return f"date_format({x}, 'yyyy-MM-dd HH:mm:ss')"
        return f"CAST({x} AS STRING)"

    # Two cheap aggregate branches instead of one Expand-heavy one.
    # Mixing count/min/max INTO a multi-distinct aggregate drags every
    # expression through Catalyst's Expand, which multiplies each input
    # row (N+1)x into wide mostly-null rows before the shuffle (measured
    # 2.0 s for the 5-column sf0.1 orders profile).  Split: (1) count/
    # min/max in one distinct-free pass — plain partial aggregation,
    # tiny exchange (0.31 s); (2) all N count_distincts in their own
    # aggregate — the Expand there carries only the grouping keys, and
    # partial distinct collapses it map-side (0.58 s; an exploded
    # (column, value-string) melt measures 0.90 s, so Expand wins when
    # it is distinct-only).  Both branches are single rows, so they
    # combine with a 1x1 cross join — no shuffle, one action.
    aggs = [F.expr("count(*) AS __n")]
    for c in cols:
        q = _bq(c)
        aggs += [
            F.expr(f"count({q}) AS {_bq('__cnt_' + c)}"),
            F.expr(f"{_render(c, f'min({q})')} AS {_bq('__min_' + c)}"),
            F.expr(f"{_render(c, f'max({q})')} AS {_bq('__max_' + c)}"),
        ]
    one = df.agg(*aggs)
    nd = df.agg(
        *[
            F.expr(f"count(DISTINCT {_bq(c)}) AS {_bq('__nd_' + c)}")
            for c in cols
        ]
    )
    lit = lambda c: "'" + c.replace("\\", "\\\\").replace("'", "\\'") + "'"  # noqa: E731
    rows = "array(" + ", ".join(
        "named_struct("
        f"'column', {lit(c)}, "
        "'n_rows', __n, "
        f"'n_nulls', __n - {_bq('__cnt_' + c)}, "
        f"'n_distinct', {_bq('__nd_' + c)}, "
        f"'min_s', {_bq('__min_' + c)}, "
        f"'max_s', {_bq('__max_' + c)})"
        for c in cols
    ) + ")"
    return (
        one.crossJoin(F.broadcast(nd))
        .selectExpr(f"explode({rows}) AS p")
        .select("p.*")
    )


def series_downsample(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    value_col: str,
    target_points: int = 1000,
) -> DataFrame:
    """Chart-ready series downsampling: bucket each group's order range
    into ≤target_points equal-width buckets and emit one averaged point
    per bucket (bucket midpoint as x, mean as y, min/max to draw error
    bands).

    The reference CAPS series at 5,000 rows (get_metrics limit —
    _dashboard_api.py:136) and silently drops the rest; this keeps the
    whole series' shape at bounded output size.  Pure two-pass
    aggregate: per-group extent (tiny, broadcast back), then one
    grouped mean over (group, bucket) — no window, no sort, scales to
    series of any length.  Constant-valued order ranges (hi == lo)
    collapse to bucket 0.
    """
    # drop NULL-x rows up front: they belong to no bucket, and the
    # bucket expression would otherwise dump them into the LAST one
    # (F.least SKIPS null args: least(NULL, tp-1) = tp-1 — round-6
    # review find), skewing its stats
    df = df.filter(F.col(order_col).isNotNull())
    ext = df.groupBy(*group_cols).agg(
        F.min(order_col).alias("__lo"), F.max(order_col).alias("__hi")
    )
    j = df.join(F.broadcast(ext), list(group_cols))
    span = F.col("__hi") - F.col("__lo")
    bucket = F.when(span <= 0, F.lit(0)).otherwise(
        F.least(
            F.floor(
                (F.col(order_col) - F.col("__lo")) / span * target_points
            ).cast("int"),
            F.lit(target_points - 1),
        )
    )
    return (
        j.withColumn("__b", bucket)
        .groupBy(*group_cols, "__b")
        .agg(
            F.avg(order_col).alias("x"),
            F.avg(value_col).alias("y_mean"),
            F.min(value_col).alias("y_min"),
            F.max(value_col).alias("y_max"),
            F.count("*").alias("n_points"),
        )
        .withColumnRenamed("__b", "bucket")
    )


def lttb_downsample(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    value_col: str,
    target_points: int = 1000,
) -> DataFrame:
    """Largest-Triangle-Three-Buckets chart downsampling, parallel variant.

    Classic LTTB selects, per bucket, the point forming the largest
    triangle with the PREVIOUS SELECTED point and the next bucket's mean
    — a sequential dependency chain.  The standard parallel relaxation
    anchors on the neighbor buckets' MEANS instead (both sides), which
    breaks the chain: every bucket selects independently, one window
    pass over bucket-level rows.  First/last buckets keep their
    first/last points exactly (LTTB's endpoint rule).

    Cross-engine determinism: bucket means are floor-rounded before the
    area formula (double SUM order is engine-dependent; everything after
    is per-row IEEE arithmetic), and the per-bucket argmax is a
    row_number ordered by (area DESC, order_col) — ties break on the
    x position, never on float identity.
    """
    # Built from parsed expr strings (round-8 conversion): the Column-API
    # build — two windows with seven window Columns, the area formula,
    # three row_numbers — paid 0.37 s of driver py4j per invocation at
    # sf0.1, half this query's wall; the parsed strings produce the
    # identical Catalyst plan (oracle parity re-certified).  0.5D in the
    # rounding literal: a bare SQL 0.5 parses as DECIMAL and would
    # insert a cast the Column build never had.
    def bq(c: str) -> str:
        return "`" + c.replace("`", "``") + "`"

    g = [bq(c) for c in group_cols]
    gl = ", ".join(g)
    x, y = bq(order_col), bq(value_col)
    tp = int(target_points)
    # drop NULL-x rows up front: they belong to no bucket, and the
    # bucket expression would otherwise dump them into the LAST one
    # (least() SKIPS null args: least(NULL, tp-1) = tp-1 — round-6
    # review find), skewing its stats
    df = df.filter(f"{x} IS NOT NULL")
    ext = df.groupBy(*group_cols).agg(
        F.expr(f"min({x}) AS __lo"), F.expr(f"max({x}) AS __hi")
    )
    j = df.join(F.broadcast(ext), list(group_cols))
    bucket = (
        "CASE WHEN __hi - __lo <= 0 THEN 0 ELSE least("
        f"CAST(floor(({x} - __lo) / (__hi - __lo) * {tp}) AS INT), {tp - 1})"
        " END"
    )
    d = j.selectExpr("*", f"{bucket} AS __b").drop("__lo", "__hi")
    p = 10**6  # bucket means floor-rounded to 6 digits
    rr = lambda e: f"floor(({e}) * {p} + 0.5D) / {p}"  # noqa: E731
    means = d.groupBy(*group_cols, "__b").agg(
        F.expr(f"{rr(f'avg({x})')} AS __mx"),
        F.expr(f"{rr(f'avg({y})')} AS __my"),
    )
    wb = ("PARTITION BY " + gl + " " if g else "") + "ORDER BY __b"
    anchors = means.selectExpr(
        "*",
        f"lag(__mx) OVER ({wb}) AS __px",
        f"lag(__my) OVER ({wb}) AS __py",
        f"lead(__mx) OVER ({wb}) AS __nx",
        f"lead(__my) OVER ({wb}) AS __ny",
    )
    cand = d.join(anchors, [*group_cols, "__b"])
    area = (
        f"abs(__px * ({y} - __ny) + {x} * (__ny - __py)"
        f" + __nx * (__py - {y}))"
    )
    interior = "(__px IS NOT NULL AND __nx IS NOT NULL)"
    pb = "PARTITION BY " + (gl + ", __b" if g else "__b")
    # value_col joins every tie-break: duplicate timestamps must not make
    # the selection depend on row order
    wsel = f"{pb} ORDER BY __area DESC, {x}, {y}"
    wfirst = f"{pb} ORDER BY {x}, {y}"
    wlast = f"{pb} ORDER BY {x} DESC, {y} DESC"
    out = (
        cand.selectExpr(
            "*", f"CASE WHEN {interior} THEN {area} END AS __area"
        )
        .selectExpr(
            "*",
            f"row_number() OVER ({wsel}) AS __rsel",
            f"row_number() OVER ({wfirst}) AS __rfirst",
            f"row_number() OVER ({wlast}) AS __rlast",
        )
        # no px-NOT-NULL requirement on the last-bucket branch: a
        # group collapsing to ONE bucket (constant x / short series)
        # has px AND nx NULL, and the docstring's endpoint rule must
        # still keep BOTH its first and last points (round-6 fix,
        # mirrored in the SQL oracle)
        .filter(
            f"({interior} AND __rsel = 1)"
            " OR (__px IS NULL AND __rfirst = 1)"
            " OR (__nx IS NULL AND __rlast = 1)"
        )
    )
    return out.selectExpr(*g, "__b AS bucket", x, y)
