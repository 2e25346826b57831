"""Z-order (Morton-curve) layout: multi-column data skipping.

Sorting files by ONE column gives tight per-file min/max on that column
and useless ranges on every other; interleaving the bits of SEVERAL
columns into one Morton key and range-partitioning on it gives each file
a tight hyper-rectangle in ALL of them — so footer-stats pruning
(snaptable.read's manifest skip, or Spark's own row-group pushdown)
skips files for predicates on any z-ordered column.  This is the public
technique behind Delta OPTIMIZE ZORDER BY and the classic UB-tree
paper (Bayer 1997); implementation here is independent and pure Spark
expressions.

Shape at scale: one pass to sample min/max bounds (driver gets 2 doubles
per column), one range-repartition shuffle on the Morton key (sampled
range boundaries — Spark's RangePartitioner), files written in curve
order.  The Morton key is built from plain shift/mask expressions —
whole-stage codegen, no UDFs.

Linear bucketization (width_bucket against [min, max]) is used rather
than rank-based: no global sort or quantile pass, at the cost of weaker
curves under extreme skew — documented trade; pre-transform a heavily
skewed column (log, clamp) before z-ordering on it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: bits per column; n_cols * BITS must stay under 63 (signed long key).
_MAX_TOTAL_BITS = 62


def morton_key(
    cols: list[str],
    bounds: dict[str, tuple[float, float]],
    bits: int = 12,
) -> F.Column:
    """Interleaved-bit Morton key over numeric columns.

    Each column is scaled to an integer cell id in [0, 2^bits) against
    its [lo, hi] bounds (nulls and out-of-range values clamp to the
    edges — layout only ever affects WHERE a row lands, never results),
    then bit i of column j lands at key bit ``i * n_cols + j``.
    """
    n = len(cols)
    if n < 2:
        raise ValueError("z-order needs >= 2 columns (sort handles 1)")
    if n * bits > _MAX_TOTAL_BITS:
        raise ValueError(f"{n} cols x {bits} bits exceeds {_MAX_TOTAL_BITS}")
    cells = []
    max_cell = (1 << bits) - 1
    for c in cols:
        lo, hi = bounds[c]
        span = (hi - lo) or 1.0
        scaled = (F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * F.lit(
            float(max_cell)
        )
        cell = F.least(
            F.greatest(F.coalesce(scaled, F.lit(0.0)), F.lit(0.0)),
            F.lit(float(max_cell)),
        ).cast("long")
        cells.append(cell)
    key = F.lit(0).cast("long")
    for j, cell in enumerate(cells):
        for i in range(bits):
            key = key + (
                F.shiftleft(
                    F.shiftright(cell, i).bitwiseAND(F.lit(1)), i * n + j
                )
            )
    return key


def column_bounds(df: DataFrame, cols: list[str]) -> dict[str, tuple[float, float]]:
    """One aggregate pass -> {col: (min, max)} as doubles (driver-tiny)."""
    aggs = []
    for c in cols:
        aggs += [
            F.min(F.col(c).cast("double")).alias(f"__lo_{c}"),
            F.max(F.col(c).cast("double")).alias(f"__hi_{c}"),
        ]
    row = df.agg(*aggs).first()
    return {
        c: (row[f"__lo_{c}"] or 0.0, row[f"__hi_{c}"] or 0.0) for c in cols
    }


def zorder_layout(
    df: DataFrame,
    cols: list[str],
    n_files: int = 16,
    bits: int = 12,
) -> DataFrame:
    """Rows re-laid along the Morton curve: range-partitioned into
    ``n_files`` curve segments and sorted within each, so every output
    file covers a tight range of EVERY z-ordered column.  Feed the
    result straight to a writer — e.g.
    ``snaptable.write(zorder_layout(df, ["a", "b"]), table)`` — and
    footer-stats pruning skips files on predicates over any of them.
    """
    keyed = df.withColumn("__z", morton_key(cols, column_bounds(df, cols), bits))
    return (
        keyed.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
