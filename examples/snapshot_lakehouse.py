"""Corpus snapshots with SnapTable + z-order layout.

The ingestion loop a training-data pipeline runs at scale:

1. each crawl batch is deduped against the PREVIOUS corpus snapshot
   (fingerprint anti-join — the stored corpus never rescans),
2. survivors are laid out along a Morton curve so file footer stats
   stay tight on every query column,
3. the batch commits as an immutable snapshot version — training runs
   pin a version; time travel reproduces any of them bit-for-bit.

Run: PYTHONPATH=. python examples/snapshot_lakehouse.py
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from waddleml_spark.llmops import dedup
from waddleml_spark.session import get_spark, read_table
from waddleml_spark.sources import snaptable, zorder
from waddleml_spark.streaming import snapsink

SF_DIR = "/root/testdata/sf0.001"


def main() -> None:
    spark = get_spark(app_name="snapshot-lakehouse-example")
    spark.sparkContext.setLogLevel("ERROR")
    table = tempfile.mkdtemp(prefix="corpus_snap_")

    docs = read_table(spark, SF_DIR, "documents")

    # -- version 1: first crawl (dedup within itself, z-ordered layout)
    batch1 = dedup.exact_dedup_keep(docs.filter(F.col("doc_id") % 2 == 0))
    v1 = snaptable.write(
        zorder.zorder_layout(batch1, ["doc_id", "n_chars"], n_files=4, bits=8),
        table,
    )
    print(f"v{v1}: {snaptable.read(spark, table).count()} docs")

    # -- version 2: second crawl re-sees everything; only fresh content lands
    snap1 = snaptable.read(spark, table, version=v1)
    keep = dedup.incremental_dedup(docs, snap1)
    fresh = docs.join(
        keep.select(F.col("keeper_id").alias("doc_id")), "doc_id", "semi"
    )
    v2 = snaptable.write(
        zorder.zorder_layout(fresh, ["doc_id", "n_chars"], n_files=4, bits=8),
        table,
        mode="append",
    )
    print(f"v{v2}: {snaptable.read(spark, table).count()} docs "
          f"(+{fresh.count()} fresh)")

    # -- manifest pruning: a tight n_chars predicate skips whole files
    all_files = snaptable.file_list(table)
    kept = snaptable._prune(all_files, "n_chars", 0, 120)
    print(f"prune n_chars<=120: reads {len(kept)}/{len(all_files)} files")
    short = snaptable.read(spark, table, prune=("n_chars", 0, 120)).filter(
        F.col("n_chars") <= 120
    )
    print(f"short docs: {short.count()}")

    # -- time travel: v1 is immutable under the append
    assert snaptable.read(spark, table, version=v1).count() == batch1.count()
    for h in snaptable.history(table):
        print(h)

    # -- streaming near-dup ingest: each batch is exact- AND LSH-deduped
    # against the stored corpus before committing (foreachBatch shape;
    # driven directly here — a readStream would call the same sink)
    near_tbl = tempfile.mkdtemp(prefix="corpus_near_")
    ingest = snapsink.neardup_snapshot_sink(near_tbl, jaccard_threshold=0.6)
    ingest(docs.filter(F.col("doc_id") < 100), 0)
    ingest(docs.filter(F.col("doc_id") < 150), 1)  # 100 replays + 50 new
    print("near-dup ingest versions:", snaptable.history(near_tbl)[-1])
    spark.stop()


if __name__ == "__main__":
    main()
