"""Bucketed-table layout: the shuffle-free co-located join this engine's
docstrings keep promising, made concrete.

Many catalog shapes note "at scale, bucket both facts by the join key and
this join is shuffle-free".  `write_bucketed` performs that layout with
Spark's native (Hive-less) bucketing: rows are hash-partitioned into
`n_buckets` files per partition by the bucket keys at WRITE time, and the
session catalog records the bucket spec.  A later join or aggregation on
those keys finds both sides already hash-distributed the same way, so the
planner drops the Exchange entirely — the one-time write-side shuffle is
amortized over every subsequent query (the standard trade for a fact
table queried by the same key forever, e.g. metrics by run_id,
lineitem⋈orders by orderkey).

tests/test_bucketed.py asserts the property on a real plan: bucketed
lineitem ⋈ bucketed orders → SortMergeJoin with ZERO Exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: list[str],
    n_buckets: int = 32,
    sort_by: list[str] | None = None,
    path: str | None = None,
) -> None:
    """Persist `df` as a bucketed (+optionally sorted) parquet table,
    replacing any table of that name.

    `sort_by` additionally sorts within each bucket file — that gives
    sort-merge joins their sort for free AND parquet min/max stats that
    prune row groups on point lookups (the B-tree-index replacement).
    Bucket counts must match across tables meant to co-join.

    The repartition below is load-bearing (round-6 review find):
    without it every input task writes its own file per bucket
    (tasks × n_buckets small files), and Spark only propagates a
    bucket's sort order when the bucket is ONE file — multi-file
    buckets silently reintroduce the Sort the sortBy promised away.
    repartition(n_buckets, keys) uses the same Murmur3-pmod placement
    as the bucket spec, so each task holds exactly one bucket.
    """
    w = (
        df.repartition(n_buckets, *[F.col(k) for k in keys])
        .write.format("parquet")
        .mode("overwrite")
        .bucketBy(n_buckets, *keys)
    )
    if sort_by:
        w = w.sortBy(*sort_by)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


# Join keys (and within-bucket sort) for the fact tables a deployment
# would bucket: the testdata facts by their join key, the store's metrics
# by run grain.  One mapping so bucket_facts callers and DEPLOY.md agree.
FACT_KEYS: dict[str, tuple[list[str], list[str]]] = {
    "lineitem": (["l_orderkey"], ["l_orderkey"]),
    "orders": (["o_orderkey"], ["o_orderkey"]),
    "events": (["user_id"], ["user_id", "ts"]),
    "metrics": (["run_id"], ["run_id", "key", "step"]),
}


def bucket_facts(
    spark: SparkSession,
    sf_dir: str,
    n_buckets: int = 32,
    prefix: str = "wb_",
) -> dict[str, str]:
    """ONE call from plain parquet to the co-located layout: write
    lineitem and orders bucketed (and sorted) by its join key per FACT_KEYS,
    returning {table_name: catalog_table_name} for read_bucketed.

    This is the ingest-side shuffle a 100 TB deployment pays once per
    fact table so that every subsequent same-key join/aggregate plans
    with ZERO Exchange (SCALING.md 100× section, r8 history row: revenue
    join 5.34 s → 0.90 s at the 100x replica, plan-asserted exchange-
    free, quiet-window measurement).  Bucket
    counts must match across tables meant to co-join — this writes both
    tables with the same n_buckets.
    """
    out: dict[str, str] = {}
    for name in ("lineitem", "orders"):
        keys, sort_by = FACT_KEYS[name]
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        cat_name = f"{prefix}{name}"
        write_bucketed(df, cat_name, keys, n_buckets=n_buckets, sort_by=sort_by)
        out[name] = cat_name
    return out


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table back WITH its bucket spec (a plain
    spark.read.parquet(path) on the same files would lose the spec and
    reintroduce the shuffle — the catalog carries the layout metadata,
    so always read through it)."""
    return spark.table(table)
