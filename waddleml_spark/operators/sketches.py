"""Mergeable sketches: distinct counts (Apache DataSketches HLL, built
into Spark) and frequency estimates (count-min, Arrow-batch partials)
over arbitrary ranges.

The 100 TB pattern this enables: a plain `approx_count_distinct` answers
ONE question per scan; storing a compact HLL sketch per (bucket, group)
row instead lets any later query union sketches over any bucket range —
distinct users last week / last quarter / per campaign — WITHOUT
re-reading the fact table.  Sketch union is associative and
order-independent, so rollups compose exactly like sums: daily → weekly →
monthly materializations each merge the previous level's sketches, never
the raw events.

Estimates are deterministic for a given input set (the sketch hash is
seeded), so tests can pin error bounds tightly.  Not SQL-oracle-able
(DuckDB has no DataSketches) — catalog entry is rows-only with an
exact-vs-estimate error-bound test instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bucket_sketches(
    df: DataFrame,
    bucket_col,
    key_col: str,
) -> DataFrame:
    """One HLL sketch of key_col per bucket: (bucket, sketch, estimate).

    lg_k 12 → ~2 KB per sketch, ~1.6% standard error — the storage cost
    is per BUCKET, independent of cardinality.  This is the
    materialization step; keep the binary `sketch` column for later
    merging and the `estimate` for direct display.
    """
    return (
        df.groupBy(bucket_col)
        .agg(F.hll_sketch_agg(key_col, F.lit(12)).alias("sketch"))
        .withColumn("estimate", F.hll_sketch_estimate("sketch"))
    )


def merge_sketches(sketches: DataFrame, group_cols=None) -> DataFrame:
    """Union sketches across buckets (optionally per group): the
    arbitrary-range distinct count, computed from materialized sketches
    only.  A year of daily sketches is 365 rows × ~2 KB — the merge is
    driver-trivial at any fact-table size."""
    if isinstance(group_cols, str):
        # groupBy(*"campaign") would splat into single-char column names
        group_cols = [group_cols]
    g = sketches.groupBy(*group_cols) if group_cols else sketches.groupBy()
    return g.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("merged_estimate")
    )


# --- count-min sketch (frequency estimation) --------------------------------

CMS_SEED = 42  # the build and the probe hash with this one seed


def _cms_positions(value, width: int, depth: int):
    """depth bucket positions for ``value`` — the ONE shared build/probe
    hash expression (functions.scalars.hash_positions, also used by
    llmops.bloom), so the pairing rule holds by construction."""
    from waddleml_spark.functions.scalars import hash_positions

    return hash_positions(value, width, depth, CMS_SEED)


def cms_build(
    df: DataFrame,
    value,
    width: int = 1 << 14,
):
    """Count-min sketch over every value occurrence: a (depth × width)
    int64 matrix (512 KB at the defaults) answering "about how often did
    X occur" for ANY X, with one-sided error: estimate ≥ true count
    always, overcount ≤ ~2N/width with prob 1 - 2^-depth.

    The 100 TB shape: an exact frequency table's OUTPUT is
    distinct-value-sized (a token vocabulary is billions of rows); the
    sketch is constant-size.  Each Arrow batch accumulates a partial
    matrix and emits one row; the driver SUMS the partials — count-min
    merge is elementwise addition, so per-day sketches roll up to
    arbitrary ranges exactly like the HLL sketches above, never
    re-reading the corpus.  Returns the numpy matrix."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    from waddleml_spark.session import ensure_shipped

    spark = df.sparkSession
    ensure_shipped(spark)
    depth = 4
    pos = df.select(_cms_positions(value, width, depth).alias("__pos"))
    schema = T.StructType([T.StructField("cms", T.BinaryType())])

    def pack(batches):
        acc = np.zeros((depth, width), dtype=np.int64)
        any_rows = False
        for pdf in batches:
            if not len(pdf):
                continue
            any_rows = True
            p = np.stack(pdf["__pos"].to_numpy()).astype(np.int64)  # (n, depth)
            for d in range(depth):
                np.add.at(acc[d], p[:, d], 1)
        if any_rows:
            yield pd.DataFrame({"cms": [acc.tobytes()]})

    out = np.zeros((depth, width), dtype=np.int64)
    for r in pos.mapInPandas(pack, schema).collect():
        out += np.frombuffer(r.cms, dtype=np.int64).reshape(depth, width)
    return out


def cms_estimates(
    df: DataFrame,
    value,
    cms,
    est_col: str = "cms_est",
) -> DataFrame:
    """Append the count-min estimate (min over the depth rows) for each
    row's value.  Map-only: the sketch broadcasts once, each Arrow batch
    looks its positions up vectorized.  Estimates are exact for values
    whose buckets saw no collisions, and only ever OVER-count."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    from waddleml_spark.session import ensure_shipped

    cms = np.asarray(cms, dtype=np.int64)
    depth, width = cms.shape
    spark = df.sparkSession
    ensure_shipped(spark)
    bcms = spark.sparkContext.broadcast(cms.tobytes())
    src = df.withColumn("__pos", _cms_positions(value, width, depth))
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(est_col, T.LongType())]
    )

    def probe(batches):
        tbl = np.frombuffer(bcms.value, dtype=np.int64).reshape(depth, width)
        rng = np.arange(depth)
        for pdf in batches:
            if not len(pdf):
                continue
            p = np.stack(pdf["__pos"].to_numpy()).astype(np.int64)  # (n, depth)
            est = tbl[rng[None, :], p].min(axis=1)
            out = pdf.drop(columns=["__pos"])
            out[est_col] = est
            yield out

    return src.mapInPandas(probe, schema)
