"""Skew mitigation (SURVEY.md §4.2: metrics is skewed by chatty runs).

salted_agg: two-stage aggregation for skewed group keys — partial
aggregate on (key, salt), then final on key.  Works for any algebraic
aggregate (sum/count/min/max; avg = sum/count).  AQE's skew handling
covers joins; skewed AGGREGATION keys still need salting because the
partial aggregate happens before AQE can observe the skew.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
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

