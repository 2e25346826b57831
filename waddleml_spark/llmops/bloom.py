"""Bloom-filter membership at corpus scale — the decontamination path
when the benchmark shingle set is too large to broadcast as an exact
hash set but the corpus is far larger still.

Design (Spark-first):

- Hashing stays JVM-side: both build and probe compute the k bit
  positions as ``pmod(xxhash64(value, seed_i), n_bits)`` — whole-stage
  codegen, and bit-identical between the two passes by construction
  (the classic Bloom pitfall is build/probe hash drift; here they are
  the same Catalyst expression).
- The BUILD aggregates bit positions into per-batch packed bitsets in
  an Arrow kernel (numpy ``np.bitwise_or.reduceat``-free: index + OR),
  yielding ONE n_bits/8-byte row per batch; the driver ORs those few
  rows.  Shuffle volume is O(n_batches * n_bits/8), never
  O(distinct-shingles).
- The PROBE broadcasts the final bitset and tests each row's k
  positions vectorized per Arrow batch — map-only, no join, no shuffle.
  A value is flagged iff ALL k bits are set: NO false negatives ever;
  false positives at the standard (1 - e^{-kn/m})^k rate, which the
  report MEASURES against the exact join on the same data.

Reference has no counterpart (waddle/_server.py serves dashboards);
this extends SURVEY.md §2.12's decontamination row with the 100 TB
shape: the exact broadcast-semi-join twin is `contamination_by_source`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


# Hashes per value and their seed: the build and the probe share them.
BLOOM_K = 5
BLOOM_SEED = 42


def _bit_positions(value: Column, n_bits: int) -> Column:
    """BLOOM_K bit positions for ``value`` — the ONE shared build/probe
    hash expression (functions.scalars.hash_positions; the count-min
    sketch uses the same helper, so the pairing rule holds by
    construction)."""
    from waddleml_spark.functions.scalars import hash_positions

    return hash_positions(value, n_bits, BLOOM_K, BLOOM_SEED)


def bloom_build(
    df: DataFrame,
    value: Column | str,
    n_bits: int = 1 << 23,
) -> bytes:
    """Build the packed bitset (n_bits/8 bytes) over every value in
    ``df[value]``.  One map pass: each Arrow batch emits its partial
    bitset; the driver ORs O(n_batches) rows of n_bits/8 bytes each —
    independent of the number of distinct values."""
    import numpy as np
    import pandas as pd

    from waddleml_spark.session import ensure_shipped

    if n_bits % 8:
        raise ValueError(f"n_bits must be a multiple of 8 (got {n_bits})")
    spark = df.sparkSession
    ensure_shipped(spark)
    col = F.col(value) if isinstance(value, str) else value
    pos = df.select(_bit_positions(col, n_bits).alias("__pos"))

    n_bytes = n_bits // 8
    schema = T.StructType([T.StructField("bits", T.BinaryType())])

    def pack(batches):
        acc = np.zeros(n_bytes, dtype=np.uint8)
        any_rows = False
        for pdf in batches:
            if not len(pdf):
                continue
            any_rows = True
            p = np.concatenate(pdf["__pos"].to_numpy()).astype(np.int64)
            np.bitwise_or.at(acc, p >> 3, np.uint8(1) << (p & 7).astype(np.uint8))
        if any_rows:
            yield pd.DataFrame({"bits": [acc.tobytes()]})

    partials = pos.mapInPandas(pack, schema).collect()
    out = np.zeros(n_bytes, dtype=np.uint8)
    for r in partials:
        out |= np.frombuffer(r.bits, dtype=np.uint8)
    return out.tobytes()


def bloom_flag(
    df: DataFrame,
    value: Column | str,
    bits: bytes,
    flag_col: str = "in_bloom",
) -> DataFrame:
    """Append ``flag_col``: true iff ALL BLOOM_K of the value's bits are set.
    Map-only: the bitset broadcasts once; each Arrow batch tests its
    positions vectorized.  Never a false negative; false-positive rate
    is the standard Bloom bound (measure it — bloom_decontamination
    reports flagged-vs-exact on the same data)."""
    import numpy as np
    import pandas as pd

    from waddleml_spark.session import ensure_shipped

    n_bits = len(bits) * 8
    spark = df.sparkSession
    ensure_shipped(spark)
    bbits = spark.sparkContext.broadcast(bits)
    col = F.col(value) if isinstance(value, str) else value
    src = df.withColumn("__pos", _bit_positions(col, n_bits))
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(flag_col, T.BooleanType())]
    )

    def probe(batches):
        arr = np.frombuffer(bbits.value, dtype=np.uint8)
        for pdf in batches:
            if not len(pdf):
                continue
            p = np.stack(pdf["__pos"].to_numpy()).astype(np.int64)  # (n, k)
            hit = (arr[p >> 3] & (np.uint8(1) << (p & 7).astype(np.uint8))) != 0
            out = pdf.drop(columns=["__pos"])
            out[flag_col] = hit.all(axis=1)
            yield out

    return src.mapInPandas(probe, schema)


def bloom_decontamination_report(
    docs: DataFrame,
    bench_pred: Column,
) -> DataFrame:
    """Per-source decontamination via the Bloom path over word-trigram
    shingles in a 2^23-bit filter, SELF-AUDITED
    against the exact shingle semi-join on the same data: per corpus
    source reports doc counts flagged by the Bloom filter vs truly
    contaminated, so the false-positive cost of the compact filter is a
    measured number, not a formula.  n_flagged >= n_contaminated always
    (no false negatives)."""
    from waddleml_spark.llmops import rotate_persist
    from waddleml_spark.llmops.textstats import (
        nopartial_gram_exprs,
        word_tokens,
    )
    from waddleml_spark.session import fan_out

    # ONE exploded shingle-row frame at per-doc-DISTINCT (doc_id,
    # __bench, g) grain, shared by all three shingle consumers (bloom
    # build action, probe branch, exact-audit semi join).  Shape notes:
    # (a) rotate_persist, never localCheckpoint — the round-5 finding:
    # checkpoint blocks are unevictable and a corpus-scale pin OOM'd
    # the 100x harness; eviction worst-case re-runs the tokenize pass.
    # (b) explode ONCE before the persist so build/probe/audit all read
    # the same materialized rows.  (c) r10 rebuild (the trigram_novelty
    # / contamination lesson): the interpreted-HOF shingle array
    # (transform over slices) + explode was the cold-pass cost center —
    # the codegen'd generator explode + concat_ws + an explicit
    # distinct (restoring the per-doc-distinct grain the HOF's
    # array_distinct provided, so the persisted frame and the probe
    # volume do not double) measured cold 28.2 vs 35.9 s and warm 11.7
    # vs 12.4 s at 100x, identical output.  Tokenize below the fan_out
    # barrier (exchange = CSE barrier).
    toks = word_tokens(F.col("text"))
    base = fan_out(
        docs.select(
            "doc_id",
            bench_pred.alias("__bench"),
            toks.alias("__t"),
            F.size(toks).alias("__n"),
        )
    )
    starts, gram = nopartial_gram_exprs(3)
    g_rows = rotate_persist(
        "bloom.shingle_rows",
        base.select(
            "doc_id", "__bench", "__t", F.explode(starts).alias("__i")
        )
        .select("doc_id", "__bench", gram.alias("g"))
        .distinct(),
    )
    bench_g = g_rows.filter(F.col("__bench")).select("g").distinct()
    # the doc universe comes straight off the pruned docs scan (doc_id,
    # source + bench_pred's columns only — no text): shingle-less docs
    # (< 3 words) stay counted as docs, exactly as the exact twin
    # (`contamination_by_source`) counts them, without carrying them
    # through the explode
    corpus_docs = docs.filter(~bench_pred).select("doc_id", "source")
    corpus_g = g_rows.filter(~F.col("__bench")).select("doc_id", "g")
    bits = bloom_build(bench_g, "g")
    by_doc_flag = (
        bloom_flag(corpus_g, "g", bits)
        .groupBy("doc_id")
        .agg(F.max("in_bloom").alias("__flag"))
    )
    # NO broadcast hint on the exact-audit semi join: the benchmark
    # shingle set grows with the benchmark corpus — this report exists
    # precisely because that set can outgrow a broadcast hash set, so
    # the audit must not assume broadcastability either (the repo's
    # round-5 rule: hints only where size is bounded by construction).
    # AQE sizes the join at runtime and still broadcasts when it fits.
    exact_hits = (
        corpus_g.join(bench_g, "g", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("__exact", F.lit(True))
    )
    return (
        corpus_docs.join(by_doc_flag, "doc_id", "left")
        .join(exact_hits, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.coalesce(F.col("__flag"), F.lit(False)).cast("long")
            ).alias("n_flagged"),
            F.sum(
                F.coalesce(F.col("__exact"), F.lit(False)).cast("long")
            ).alias("n_contaminated"),
        )
    )
