"""Temporal operators Spark lacks natively: as-of join, range join,
time-bucket (hypertable-style) rollup.  (SURVEY.md §2.3 notes the reference
has none of these; they're required custom operators for the north star.)

Design notes (guide §Common OLAP patterns):
- as-of join = union-marker + last-non-null window: ONE shuffle on
  (keys, time) — no per-group Python, no merge_asof UDF needed.  Exactly
  DuckDB's ASOF JOIN semantics (right.ts <= left.ts, greatest wins).
- range join = bucketize the range key + equi-join on neighboring buckets +
  exact residual filter: turns an O(n·m) inequality join into a bounded
  hash join.  Bucket width trades join fan-out vs candidate count.
- time-bucket rollups bucket by date_trunc (DST-aware); hierarchical
  rollups reaggregate coarse from fine (hypertable continuous-aggregate
  pattern) so each level is one cheap pass over the previous.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_time: str,
    right_time: str,
    right_values: Sequence[str],
    how: str = "inner",
    suffix: str = "_asof",
) -> DataFrame:
    """For each left row, attach the most recent right row with
    right_time <= left_time within the `on` group.

    Implementation: union both sides with a side marker (right sorts before
    left at equal times, matching ASOF's <=), then ONE
    last_value(struct, ignorenulls) over (partition ON order time, marker).
    Carrying the whole matched row as a single struct (round-6 review
    fix) is what gives true ASOF semantics: filling each carried column
    independently let a genuinely-NULL right value be replaced by a
    STALE earlier row's value — and different columns could come from
    DIFFERENT right rows (a torn match that never existed).  The struct
    itself is never null for right rows, so ignorenulls skips only the
    left placeholders.
    Output: all left columns + right_time+suffix + right_values+suffix.

    Built from parsed expr strings where names/types don't have to be
    re-parsed (round 7): the Column-API version of this plan cost
    ~0.27 s of driver-side py4j construction per invocation at bench
    scale vs ~0.07 s parsed.  NULL placeholders and the carried struct
    stay Column-API on purpose — they take DataType objects and column
    references directly, so exotic column names and struct field names
    never round-trip through the SQL parser (a simpleString() CAST or a
    named_struct literal would break on names needing quoting).
    """
    from pyspark.sql import types as T

    if how not in ("inner", "left"):
        # anything else would silently degrade to left semantics
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    lcols = left.columns
    marker = "__side"
    time_col = "__t"
    carried = [right_time] + list(right_values)
    rs_type = T.StructType(
        [T.StructField(c, right.schema[c].dataType) for c in carried]
    )

    def bq(c: str) -> str:
        return "`" + c.replace("`", "``") + "`"

    # every name-based reference goes through bq(): a bare F.col("a.b")
    # or select("a.b") parses as a MULTIPART reference and fails to
    # resolve (round-7 review find, reproduced live) — the backquoted
    # form is a single identifier everywhere
    l_tagged = left.select(
        *[F.col(bq(c)) for c in lcols],
        F.expr(f"{bq(left_time)} AS {time_col}"),
        F.expr(f"1 AS {marker}"),
        F.lit(None).cast(rs_type).alias("__rs"),
    )
    r_tagged = right.select(
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in lcols
            if c not in on
        ],
        *[F.col(bq(c)) for c in on],
        F.expr(f"{bq(right_time)} AS {time_col}"),
        F.expr(f"0 AS {marker}"),
        F.struct(*[F.col(bq(c)).alias(c) for c in carried]).alias("__rs"),
    ).select(*[F.col(bq(c)) for c in l_tagged.columns])  # align column order

    unioned = l_tagged.unionByName(r_tagged)
    # keyless as-of (on=[]) is a valid global window: omit PARTITION BY
    # entirely rather than emitting the unparseable 'PARTITION BY ORDER BY'
    part = (
        f"PARTITION BY {', '.join(bq(c) for c in on)} " if on else ""
    )
    over = (
        f"OVER ({part}"
        f"ORDER BY {time_col}, {marker} "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    filled = unioned.selectExpr(
        *[bq(c) for c in unioned.columns if c != "__rs"],
        f"last(__rs, true) {over} AS __rsf",
    )
    out = filled.selectExpr(
        *[bq(c) for c in filled.columns if c not in ("__rsf", marker, time_col)],
        *[f"__rsf.{bq(c)} AS {bq(f'{c}{suffix}')}" for c in carried],
        marker,
    ).where(f"{marker} = 1").drop(marker)
    if how == "inner":
        out = out.where(f"{bq(f'{right_time}{suffix}')} IS NOT NULL")
    return out


def range_join_bucketized(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_val: str,
    right_val: str,
    max_distance: float,
    bucket_width: float | None = None,
) -> DataFrame:
    """Join rows with |left_val - right_val| <= max_distance (plus equi
    keys): bucket both sides at `bucket_width` (default = max_distance),
    explode the left side into every bucket within reach
    (±ceil(max_distance/width) — round-6 review fix: the hardcoded ±1
    silently DROPPED matching pairs whenever bucket_width <
    max_distance, the exact tuning the docstring invites), hash-join on
    (keys..., bucket), then apply the exact residual predicate.
    """
    import math

    if max_distance <= 0:
        raise ValueError(f"max_distance must be > 0, got {max_distance}")
    width = max_distance if bucket_width is None else bucket_width
    if width <= 0:
        raise ValueError(f"bucket_width must be > 0, got {width}")
    n_side = math.ceil(max_distance / width)
    lb = left.withColumn(
        "__bk",
        F.explode(
            F.array(
                *[
                    (F.floor(F.col(left_val) / width) + d).cast("long")
                    for d in range(-n_side, n_side + 1)
                ]
            )
        ),
    )
    rb = right.withColumn("__bk", F.floor(F.col(right_val) / width).cast("long"))
    joined = lb.join(rb, on=[*on, "__bk"]).drop("__bk")
    return joined.filter(
        F.abs(F.col(left_val) - F.col(right_val)) <= max_distance
    )


def rollup_hierarchy(
    df: DataFrame,
    time_col: str,
    levels: Sequence[str],
    group_cols: Sequence[str],
    value_col: str,
) -> dict[str, DataFrame]:
    """Hierarchical continuous-aggregate rollups: the finest level scans the
    data once; each coarser level reaggregates the previous (sum/count
    compose; avg derives from them) — the hypertable pattern that keeps
    100 TB rollups incremental."""
    out: dict[str, DataFrame] = {}
    finest = levels[0]
    cur = (
        df.groupBy(F.date_trunc(finest, F.col(time_col)).alias("bucket"), *group_cols)
        .agg(
            F.count("*").alias("n"),
            F.sum(value_col).alias("sum_v"),
            F.min(value_col).alias("min_v"),
            F.max(value_col).alias("max_v"),
        )
    )
    out[finest] = cur
    for lvl in levels[1:]:
        cur = (
            cur.groupBy(F.date_trunc(lvl, F.col("bucket")).alias("bucket"), *group_cols)
            .agg(
                F.sum("n").alias("n"),
                F.sum("sum_v").alias("sum_v"),
                F.min("min_v").alias("min_v"),
                F.max("max_v").alias("max_v"),
            )
        )
        out[lvl] = cur
    return out


def resample_interpolate(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step_seconds: int,
) -> DataFrame:
    """Resample each key's irregular series onto a regular time grid with
    linear interpolation — the hypertable `time_bucket_gapfill` +
    `interpolate` analog.

    Relational construction (no per-key Python, no UDFs):
      1. per-key grid = explode(sequence(ceil(min/step), floor(max/step)))
         — grid rows carry NULL values;
      2. union grid with the real points and window-fill BOTH directions:
         last(ignorenulls) over preceding rows → the previous real point,
         first(ignorenulls) over following rows → the next one (value AND
         timestamp each);
      3. y = py + (ny − py) · (t − pt)/(nt − pt), degenerating to the
         single neighbor at the series edges and to the exact value when
         a real point lands on the grid.
    One shuffle on the key (the fact's natural bucketing); the grid adds
    ≤ span/step rows per key.  Interpolated values are floor-rounded to
    6 digits by the caller when cross-engine hashing matters.
    """
    # Built from parsed expr strings (the round-7/8 rule): the Column-API
    # build of this plan — two windows, four ignore-nulls fills, the
    # guarded sequence — paid 0.27 s of driver py4j per invocation, 44%
    # of the query's wall at sf0.1; the parsed strings produce the
    # identical Catalyst plan (oracle parity re-certified).
    def bq(c: str) -> str:
        return "`" + c.replace("`", "``") + "`"

    s = int(step_seconds)
    pts = df.selectExpr(
        f"{bq(key_col)} AS k",
        f"CAST({bq(ts_col)} AS DOUBLE) AS t",
        f"{bq(value_col)} AS v",
    )
    ext = pts.groupBy("k").agg(F.expr("min(t) AS lo"), F.expr("max(t) AS hi"))
    # guard start <= stop: Spark's sequence() AUTO-DESCENDS (sequence(1,0)
    # = [1,0]) where SQL generate_series returns empty — a key whose whole
    # span sits inside one grid interval with no grid point would emit
    # two extrapolated rows outside the series and diverge from the
    # oracle (round-6 review find)
    g_lo = f"CAST(ceil(lo / {s}) AS BIGINT)"
    g_hi = f"CAST(floor(hi / {s}) AS BIGINT)"
    grid = ext.selectExpr(
        "k",
        f"explode(CASE WHEN {g_lo} <= {g_hi} THEN sequence({g_lo}, {g_hi})"
        " ELSE CAST(array() AS ARRAY<BIGINT>) END) AS slot",
    ).selectExpr("k", f"slot * CAST({s} AS DOUBLE) AS t")
    unioned = pts.selectExpr("k", "t", "v", "0 AS is_grid").unionByName(
        grid.selectExpr("k", "t", "CAST(NULL AS DOUBLE) AS v", "1 AS is_grid")
    )
    # real points sort BEFORE the grid row at the same instant, so an
    # exact-hit grid row sees that point as its "previous" neighbor and
    # interpolation degenerates to the exact value
    wp = (
        "PARTITION BY k ORDER BY t, is_grid"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    )
    wn = (
        "PARTITION BY k ORDER BY t, is_grid"
        " ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING"
    )
    filled = unioned.selectExpr(
        "k",
        "t",
        "is_grid",
        f"last(CASE WHEN is_grid = 0 THEN v END, true) OVER ({wp}) AS py",
        f"last(CASE WHEN is_grid = 0 THEN t END, true) OVER ({wp}) AS pt",
        f"first(CASE WHEN is_grid = 0 THEN v END, true) OVER ({wn}) AS ny",
        f"first(CASE WHEN is_grid = 0 THEN t END, true) OVER ({wn}) AS nt",
    ).filter("is_grid = 1")
    y = (
        "CASE WHEN py IS NULL THEN ny"
        " WHEN ny IS NULL THEN py"
        " WHEN nt = pt THEN py"
        " ELSE py + (ny - py) * (t - pt) / (nt - pt) END"
    )
    return filled.selectExpr(
        f"k AS {bq(key_col)}", "t AS grid_ts", f"{y} AS value_interp"
    )
