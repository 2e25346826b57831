"""Sequence packing + deterministic resampling (llmops.packing).

The scale-critical claim under test: the distributed two-pass prefix sum
(bucketed window + offset broadcast) reproduces the single-window global
layout EXACTLY — same offsets, same sequence assignment.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from waddleml_spark.llmops.packing import (
    bernoulli_keep,
    order_key,
    packed_sequences,
    resample_to_mix,
)
from waddleml_spark.llmops.textstats import token_count_bpe
from tests.conftest import SF_SMOKE


def docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


def test_bucketed_prefix_sum_matches_global_window(spark):
    d = docs(spark)
    plan = packed_sequences(d, seq_len=512)
    naive = (
        d.select(
            F.col("doc_id").alias("id"),
            token_count_bpe(F.col("text")).cast("long").alias("n_tok"),
            order_key(F.col("doc_id")).alias("h"),
        )
        .filter(F.col("n_tok") > 0)
        .withColumn(
            "end",
            F.sum("n_tok").over(
                Window.orderBy("h", "id").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        )
        .select("id", "end")
    )
    diff = (
        plan.select("id", "end")
        .exceptAll(naive)
        .unionAll(naive.exceptAll(plan.select("id", "end")))
    )
    assert diff.count() == 0


def test_packing_spans_are_contiguous_and_conserve_tokens(spark):
    plan = packed_sequences(docs(spark), seq_len=512).collect()
    rows = sorted(plan, key=lambda r: r.start)
    assert rows[0].start == 0
    for prev, cur in zip(rows, rows[1:]):
        assert cur.start == prev.end  # gapless tape
    total = rows[-1].end
    assert total == sum(r.n_tok for r in rows)
    for r in rows:
        assert r.first_seq == r.start // 512
        assert r.last_seq == (r.end - 1) // 512


def test_resample_deterministic_and_rate_shaped(spark):
    d = docs(spark)
    rates = {"src0": 2.0, "src1": 0.5, "src2": 0.0}
    a = resample_to_mix(d, rates).groupBy("source").count().collect()
    b = resample_to_mix(d, rates).groupBy("source").count().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    counts = {r.source: r["count"] for r in a}
    n_in = {r.source: r["count"] for r in d.groupBy("source").count().collect()}
    assert counts["src0"] == 2 * n_in["src0"]  # integer rate is exact
    assert "src2" not in counts  # rate 0 drops the group
    assert 0 < counts.get("src1", 0) < n_in["src1"]  # strict downsample
    # untouched sources keep default rate 1.0 exactly
    assert counts["src4"] == n_in["src4"]


def test_bernoulli_keep_is_stable_and_salted(spark):
    d = docs(spark).select("doc_id")
    kept = d.filter(bernoulli_keep(F.col("doc_id"), 0.5, ":a"))
    again = d.filter(bernoulli_keep(F.col("doc_id"), 0.5, ":a"))
    assert kept.exceptAll(again).count() == 0
    other_salt = d.filter(bernoulli_keep(F.col("doc_id"), 0.5, ":b"))
    # different salt ⇒ a genuinely different (decorrelated) subset
    assert kept.exceptAll(other_salt).count() > 0


def test_chunk_tokens_coverage_and_overlap(spark):
    from waddleml_spark.llmops.packing import chunk_tokens

    rows = chunk_tokens(docs(spark)).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.id, []).append(r)
    for chunks in by_doc.values():
        chunks.sort(key=lambda r: r.chunk_idx)
        assert chunks[0].chunk_idx == 0
        # all but the last chunk are full-size
        for ch in chunks[:-1]:
            assert ch.n_in_chunk == 64
        # consecutive chunks overlap by exactly 16 tokens
        for a, b in zip(chunks, chunks[1:]):
            assert a.toks[48:] == b.toks[:16]


def test_top_token_run_matches_explode_groupby(spark):
    from pyspark.sql import functions as F
    from waddleml_spark.llmops.textstats import top_token_run

    d = docs(spark)
    toks = F.regexp_extract_all(
        F.lower(F.col("text")), F.lit("[a-z0-9]+"), F.lit(0)
    )
    fast = d.select(F.col("doc_id").alias("id"), top_token_run(toks).alias("m"))
    slow = (
        d.select(F.col("doc_id").alias("id"), F.explode(toks).alias("w"))
        .groupBy("id", "w")
        .count()
        .groupBy("id")
        .agg(F.max("count").alias("m"))
    )
    assert fast.exceptAll(slow).count() == 0 and slow.exceptAll(fast).count() == 0


def test_rotate_persist_keeps_previous_invocation_cached(spark):
    # building a SECOND invocation must not unpersist the FIRST before the
    # caller collects it (compose-two-then-collect pattern); only frames
    # two rotations old are released
    from waddleml_spark.llmops import _PERSIST_SLOTS, rotate_persist

    a = rotate_persist("test.slot", spark.range(10))
    b = rotate_persist("test.slot", spark.range(20))
    assert a.storageLevel.useMemory and b.storageLevel.useMemory
    c = rotate_persist("test.slot", spark.range(30))
    assert not a.storageLevel.useMemory      # two rotations old: released
    assert b.storageLevel.useMemory and c.storageLevel.useMemory
    assert len(_PERSIST_SLOTS["test.slot"]) == 2
    for df in (b, c):
        df.unpersist(blocking=False)
    del _PERSIST_SLOTS["test.slot"]


def test_rotate_persist_never_evicts_a_shared_same_plan_cache(spark):
    # Spark's CacheManager dedupes persist() by CANONICAL plan: two
    # invocations of the same catalog query share ONE InMemoryRelation.
    # Rotating on the re-invocation would unpersist that shared entry
    # two calls later — destroying the cache each repeat is about to
    # read (measured 2-3x steady-state slowdown before the fix).  Same
    # plan => slot untouched, cache stays live through many repeats.
    from waddleml_spark.llmops import _PERSIST_SLOTS, rotate_persist

    frames = [
        rotate_persist("test.same", spark.range(40).selectExpr("id * 2 AS x"))
        for _ in range(4)
    ]
    assert len(_PERSIST_SLOTS["test.same"]) == 1
    for f in frames:
        f.count()
        assert f.storageLevel.useMemory  # the shared entry never dropped
    frames[0].unpersist(blocking=False)
    del _PERSIST_SLOTS["test.same"]


def test_rotate_persist_dedup_hit_refreshes_recency(spark):
    # interleaved A, B, A, C: the dedup hit on A must move it to the
    # recent end, so C's rotation evicts the older-used B — not the
    # just-re-served A
    from waddleml_spark.llmops import _PERSIST_SLOTS, rotate_persist

    plan_a = lambda: spark.range(50).selectExpr("id + 1 AS x")  # noqa: E731
    a1 = rotate_persist("test.lru", plan_a())
    b = rotate_persist("test.lru", spark.range(60).selectExpr("id + 2 AS y"))
    a2 = rotate_persist("test.lru", plan_a())  # dedup hit, refreshes A
    c = rotate_persist("test.lru", spark.range(70).selectExpr("id + 3 AS z"))
    assert a1.storageLevel.useMemory and a2.storageLevel.useMemory
    assert not b.storageLevel.useMemory  # B was the least recently served
    assert c.storageLevel.useMemory
    for df in (a1, c):
        df.unpersist(blocking=False)
    del _PERSIST_SLOTS["test.lru"]


def test_weighted_sample_exact_k_deterministic_and_weight_proportional(spark):
    # A-ES invariants: exactly k rows, identical sample across partition
    # layouts, and inclusion frequency proportional to weight — a
    # weight-9 item must be drawn ~9x as often as a weight-1 item across
    # independent salts (binomial bounds keep this test stable)
    from pyspark.sql import functions as F

    from waddleml_spark.llmops.packing import weighted_sample

    df = spark.range(0, 100).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 10, 9.0).otherwise(1.0).alias("w"),
    )
    s1 = weighted_sample(df, "w", 20, salt=":a").collect()
    s2 = weighted_sample(df.repartition(7), "w", 20, salt=":a").collect()
    assert len(s1) == 20
    assert sorted(r.doc_id for r in s1) == sorted(r.doc_id for r in s2)
    assert [r.doc_id for r in s1] == [r.doc_id for r in s2]  # same order too

    heavy_hits = light_hits = 0
    for t in range(24):
        s = weighted_sample(df, "w", 10, salt=f":t{t}").collect()
        heavy_hits += sum(1 for r in s if r.doc_id < 10)
        light_hits += sum(1 for r in s if r.doc_id >= 10)
    # heavy items are 10 of 100 ids but carry half the total weight
    # (10*9 = 90 vs 90*1); in a k=10 draw they should take roughly half
    # the slots — far more than their 10% count share
    assert heavy_hits > light_hits * 0.55, (heavy_hits, light_hits)

    # zero/negative weights never sampled
    df2 = spark.createDataFrame(
        [(1, 0.0), (2, -1.0), (3, 5.0)], "doc_id long, w double"
    )
    got = weighted_sample(df2, "w", 3).collect()
    assert [r.doc_id for r in got] == [3]


def test_bernoulli_keep_p_one_keeps_everything(spark):
    # round-6 review find: format(65536,'04x') is the FIVE-char '10000'
    # and the lexicographic compare h4 < '10000' kept only ~6% of rows;
    # p=1.0 must be keep-all (hits fit_sample whenever its oversampling
    # ratio crosses 1.0)
    d = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    assert d.filter(bernoulli_keep(F.col("doc_id"), 1.0, ":one")).count() == 2000
    # and a near-1 probability keeps nearly everything, never ~6%
    kept = d.filter(bernoulli_keep(F.col("doc_id"), 0.999, ":near")).count()
    assert kept > 1900


def test_resample_rate_with_near_one_fraction_not_truncated(spark):
    # round-6 review find: frac(rate) >= 0.9999924 rounded to hex
    # '10000' and lpad TRUNCATED it to '1000' — a ~certain extra copy
    # became a 1/16 chance.  With the least() clamp every row gets
    # floor(r)+1 copies except the 1-in-65536 h4 == 'ffff' edge
    from waddleml_spark.llmops.packing import resample_to_mix

    d = (
        spark.range(0, 300)
        .withColumnRenamed("id", "doc_id")
        .withColumn("source", F.lit("srcX"))
    )
    out = resample_to_mix(d, {"srcX": 2.9999999})
    n = out.count()
    assert n >= 3 * 300 - 3  # allow the hash-edge rows only
