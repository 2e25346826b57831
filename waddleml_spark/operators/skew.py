"""Skew mitigation (SURVEY.md §4.2: metrics is skewed by chatty runs).

Two tools:
- salted_agg: two-stage aggregation for skewed group keys — partial
  aggregate on (key, salt), then final on key.  Works for any algebraic
  aggregate (sum/count/min/max; avg = sum/count).  AQE's skew handling
  covers joins; skewed AGGREGATION keys still need salting because the
  partial aggregate happens before AQE can observe the skew.
- salted_broadcast_left: for a skewed join where the hot side is too big
  to broadcast, explode the small side over salt values so the hot key's
  rows split across partitions.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    group_cols: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-stage skew-safe aggregation.

    aggs: {output_name: (fn, col)} with fn ∈ {sum, count, min, max}.
    Stage 1 aggregates on (group_cols..., salt) — the hot key's rows spread
    over salt_buckets partitions; stage 2 combines partials on group_cols.
    The second shuffle moves only salt_buckets rows per group.
    """
    salted = df.withColumn(
        "__salt", (F.rand(seed=7) * salt_buckets).cast("int")
    )
    partial_exprs = []
    final_exprs = []
    for name, (fn, col) in aggs.items():
        if fn == "count":
            partial_exprs.append(F.count(col).alias(f"__p_{name}"))
            final_exprs.append(F.sum(f"__p_{name}").alias(name))
        elif fn == "sum":
            partial_exprs.append(F.sum(col).alias(f"__p_{name}"))
            final_exprs.append(F.sum(f"__p_{name}").alias(name))
        elif fn == "min":
            partial_exprs.append(F.min(col).alias(f"__p_{name}"))
            final_exprs.append(F.min(f"__p_{name}").alias(name))
        elif fn == "max":
            partial_exprs.append(F.max(col).alias(f"__p_{name}"))
            final_exprs.append(F.max(f"__p_{name}").alias(name))
        else:
            raise ValueError(f"non-algebraic aggregate {fn!r}; decompose it")
    partial = salted.groupBy(*group_cols, "__salt").agg(*partial_exprs)
    return partial.groupBy(*group_cols).agg(*final_exprs)


def salted_broadcast_left(
    big: DataFrame,
    small: DataFrame,
    on: str,
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-safe equi-join: salt the big side, explode the small side over
    all salt values, join on (key, salt).  The hot key's rows land in
    salt_buckets different tasks instead of one straggler."""
    bigs = big.withColumn("__salt", (F.rand(seed=7) * salt_buckets).cast("int"))
    smalls = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    return bigs.join(F.broadcast(smalls), on=[on, "__salt"]).drop("__salt")


def sliced_running_sum(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    slice_seconds: int = 3600,
) -> DataFrame:
    """Skew-safe per-key running sum ordered by time.

    The naive `sum().over(Window.partitionBy(key).orderBy(ts))` puts a
    hot key's ENTIRE history in one task — the classic chatty-run
    bottleneck (a key with 10% of a 100 TB stream serializes 10 TB
    through one core).  This decomposes it with the same two-pass
    prefix-sum used by llmops.packing: time-slice each key's rows
    (bucket = floor(epoch/slice)), cumsum within (key, slice) — a
    parallel window whose partitions are bounded by slice width, not key
    popularity — then add per-slice exclusive offsets (one row per
    (key, slice), tiny relative to the fact) back via a join AQE sizes
    at runtime — offs has one row per DISTINCT (key, slice), which
    grows with keys × time span, so a pinned broadcast hint is NOT
    bounded by construction (the repo rule; round-6 review find).
    Output: input rows + `running_sum`.  NOTE ties: rows sharing an
    exact timestamp within a slice get window-order-dependent partial
    sums (orderBy is ts alone); pre-aggregate to the timestamp grain —
    or add a unique column to the orderBy — when duplicate timestamps
    are possible and per-row determinism matters.

    Measured crossover (SCALING.md): below ~1M rows per hot key the
    plain window wins (its single-task sort is cheap and slicing adds
    3 stages + a join); above, this wins and the gap grows linearly
    with hot-key size.  Reach for it for chatty keys, not by default.
    """
    ep = F.col(ts_col).cast("double")
    d = df.withColumn("__slice", F.floor(ep / slice_seconds))
    w_in = (
        Window.partitionBy(key_col, "__slice")
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn("__local", F.sum(value_col).over(w_in))
    totals = d.groupBy(key_col, "__slice").agg(
        F.sum(value_col).alias("__tot")
    )
    w_off = (
        Window.partitionBy(key_col)
        .orderBy("__slice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = totals.withColumn(
        "__off", F.coalesce(F.sum("__tot").over(w_off), F.lit(0.0))
    ).select(key_col, "__slice", "__off")
    return (
        d.join(offs, [key_col, "__slice"])
        .withColumn("running_sum", F.col("__local") + F.col("__off"))
        .drop("__slice", "__local", "__off")
    )
