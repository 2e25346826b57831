"""Streaming sink committing each micro-batch as a SnapTable version.

Bridges Structured Streaming to the snapshot table format
(sources/snaptable.py): every non-empty micro-batch becomes one atomic
manifest commit, so downstream readers only ever see whole batches —
never a half-written file set — and any historical batch boundary can be
time-traveled back to.  This is the exactly-once-ish pattern Delta's
streaming sink uses (idempotent versioned commits per epoch).

Two sinks: ``snapshot_sink`` commits each micro-batch as it arrives;
``neardup_snapshot_sink`` first drops exact and SimHash near-duplicates,
within the batch and against the current snapshot, and commits only the
survivors.

Epoch identity is scoped by ``stream_id``: Structured Streaming epoch
ids are monotone only WITHIN one checkpoint, so "epoch seen before"
is meaningful only per (checkpoint ≙ stream_id).  A query restarted
from the SAME checkpoint re-delivers its last epoch and is skipped; a
query started with a NEW checkpoint (or a second query feeding the same
table) must pass its own ``stream_id`` — with the default id its fresh
epochs 0..N would collide with the old stream's and be dropped as
replays.  Delta's transactional sink keys idempotence by (appId,
version) the same way.

Each commit records (stream_id, epoch) in the manifest's ``streams``
field (snaptable._commit carries every stream's high-water mark forward
in each later manifest, overwrites included), so the replay check is one
read of the tip manifest per trigger — ``snaptable.delivered_epoch`` —
and holds after any vacuum.  Per trigger the sink costs one Spark
parquet write (data plane) plus one footer-stat pass and one manifest
publish (metadata plane) — no compaction stalls; run snaptable.vacuum
out of band.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from waddleml_spark.llmops import STAR_CAP
from waddleml_spark.sources import snaptable


def _commit_epoch(df: DataFrame, table: str, stream_id: str, epoch_id: int) -> None:
    """Commit one non-replayed micro-batch as the next version, tagged
    (stream_id, epoch) in its operation and its manifest's ``streams``;
    an empty batch commits nothing."""
    if df.isEmpty():
        return
    # uuid suffix: every commit lands in a FRESH dir — overwriting an
    # epoch-named dir would delete part files an earlier manifest
    # references
    snaptable._stage_and_commit(
        df, table, f"epoch-{stream_id}-{epoch_id}-{uuid.uuid4().hex[:8]}",
        f"append-epoch-{stream_id}-{epoch_id}",
        snaptable.current_version(table),
        stream=(stream_id, epoch_id),
    )


def _drop_known(batch: DataFrame, snap: DataFrame, text_col: str) -> DataFrame:
    """Exact dedup against the snapshot: anti-join ``batch`` on content
    fingerprints (16-byte hashes; the stored corpus never ships text)."""
    from waddleml_spark.llmops.textstats import fingerprint

    return batch.join(
        snap.select(fingerprint(F.col(text_col)).alias("__fp")).distinct(),
        fingerprint(F.col(text_col)) == F.col("__fp"),
        "left_anti",
    )


def snapshot_sink(table: str, stream_id: str = "default"):
    """foreachBatch function: ``stream.writeStream.foreachBatch(
    snapshot_sink(path))``.  Commits each micro-batch as one snapshot
    version tagged (stream_id, epoch); a re-delivered epoch of the SAME
    stream (query restart from its checkpoint) is skipped, keeping the
    table exactly-once at batch grain.  Pass a fresh ``stream_id`` when
    starting over with a new checkpoint — epoch numbering restarts there,
    and under the old id the new batches would look like replays."""

    def sink(df: DataFrame, epoch_id: int) -> None:
        if epoch_id > snaptable.delivered_epoch(table, stream_id):
            _commit_epoch(df, table, stream_id, epoch_id)

    return sink


def neardup_snapshot_sink(
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    stream_id: str = "default",
    jaccard_threshold: float = 0.8,
):
    """foreachBatch function: streaming NEAR-dup ingest, the streaming
    half of the corpus-ingestion loop (examples/snapshot_lakehouse.py).
    Per micro-batch: exact dedup (lowest id per content fingerprint)
    within the
    batch, exact fingerprint anti-join against the snapshot, banded
    32-bit SimHash near-dup removal WITHIN the batch, then against the
    stored corpus — every candidate verified at exact n-gram Jaccard >=
    ``jaccard_threshold`` before a drop.  Survivors commit as the next
    snapshot version.

    8-bit bands give 4 bands: by pigeonhole every pair within hamming
    distance 3 of the 32-bit signature shares a clean band — the right
    recall default for one-edit near-dups (16-bit bands measured missing
    a 3-bit-distant pair).  The mega-bucket star guard caps snapshot
    buckets at STAR_CAP; capped buckets fall back to verifying
    against ONE representative (min id) per bucket, so the dominant
    boilerplate cluster cannot grow unboundedly through the guard's
    blind spot (recall trade: a capped bucket is checked via its
    representative only).

    Replays skip O(1) at the top (stream-scoped high-water check before
    any compute).  The deduped batch and the drop-id sets are
    localCheckpointed — the anti-join filter sets derive from the
    expensive SimHash/Jaccard branch, and without the cut the committed
    plan re-evaluates that branch per reference (the CLAUDE.md
    filter-set rule).  Doc ids must be globally unique across batches.
    At large snapshots, persist the signature column in the table
    instead of recomputing per batch."""
    from waddleml_spark.llmops import dedup

    band_bits = 8

    def _drop_verified(frame, cand):
        """Anti-join frame by the id_a side of Jaccard-verified pairs."""
        near = dedup.jaccard_pairs(
            frame,
            candidates=cand,
            text_col=text_col,
            id_col=id_col,
            threshold=jaccard_threshold,
        )
        drops = near.select(F.col("id_a").alias(id_col)).distinct().localCheckpoint()
        return frame.join(drops, id_col, "anti")

    def sink(df, epoch_id: int) -> None:
        if epoch_id <= snaptable.delivered_epoch(table, stream_id):
            return  # replay: skip before ANY compute
        if df.isEmpty():
            return
        cols = df.columns
        # exact within batch, then near-dup within batch (keep lower id)
        batch = dedup.exact_dedup_keep(df, text_col=text_col, id_col=id_col)
        in_batch = dedup.simhash32_band_pairs(
            batch, text_col=text_col, id_col=id_col,
            band_bits=band_bits,
        ).select("id_a", "id_b")
        # drop the HIGHER id of each verified in-batch pair
        batch = _drop_verified(
            batch, in_batch.select(F.col("id_b").alias("id_a"),
                                   F.col("id_a").alias("id_b")),
        ).localCheckpoint()
        if snaptable.current_version(table) > 0:
            spark = df.sparkSession
            snap = snaptable.read(spark, table)
            batch = _drop_known(batch, snap, text_col).localCheckpoint()
            b_keys = dedup.band_rows(
                dedup.simhash32_jvm(batch, text_col, id_col),
                band_bits,
                id_col=id_col,
            )
            # ONE evaluation of the snapshot signature pipeline: bucket
            # size + representative come from a single window pass, and
            # the mega-bucket guard is one filter — keep a bucket's rows
            # when it is small enough, else only its min-id
            # representative (not zero coverage).  The previous
            # ok_keys ∪ reps construction referenced the keys subtree
            # four times, and Catalyst re-executes the corpus-scale
            # signature projection once per reference.
            from pyspark.sql import Window

            w = Window.partitionBy("band", "bucket")
            s_annot = (
                dedup.band_rows(
                    dedup.simhash32_jvm(snap, text_col, id_col),
                    band_bits,
                    id_col=id_col,
                )
                .withColumn("__n", F.count("*").over(w))
                .withColumn("__min", F.min("id").over(w))
            )
            snap_keys = s_annot.filter(
                (F.col("__n") <= STAR_CAP) | (F.col("id") == F.col("__min"))
            ).select(F.col("id").alias("snap_id"), "band", "bucket")
            cand = (
                b_keys.join(snap_keys, ["band", "bucket"])
                .select(F.col("id").alias("id_a"), F.col("snap_id").alias("id_b"))
                .distinct()
            )
            union = batch.select(id_col, text_col).unionByName(
                snap.select(id_col, text_col)
            )
            near = dedup.jaccard_pairs(
                union,
                candidates=cand,
                text_col=text_col,
                id_col=id_col,
                threshold=jaccard_threshold,
            )
            drops = (
                near.select(F.col("id_a").alias(id_col)).distinct().localCheckpoint()
            )
            batch = batch.join(drops, id_col, "anti")
        # joins reorder columns (USING keys move first); the snapshot's
        # append-schema check is order-sensitive by design
        _commit_epoch(batch.select(*cols), table, stream_id, epoch_id)

    return sink
