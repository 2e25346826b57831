"""Dedup operator units: exact_dedup_keep, jaccard thresholding, simhash
banding, candidate↔verifier integration."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from waddleml_spark.llmops import dedup


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),          # exact dup of 0
        (2, "THE  quick   Brown fox jumps over the lazy dog"),       # normalized dup of 0
        (3, "the quick brown fox leaps over the lazy dog"),          # near dup
        (4, "completely different text about spark engines"),
        (5, "spark engines process completely different text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_dedup_groups(spark, docs):
    out = {r.keeper_id: r.n_dups for r in dedup.exact_dedup(docs).collect()}
    assert out[0] == 3  # docs 0,1,2 share a normalized fingerprint
    assert out[3] == 1 and out[4] == 1 and out[5] == 1


def test_exact_dedup_keep_lowest_id(spark, docs):
    kept = sorted(r.doc_id for r in dedup.exact_dedup_keep(docs).collect())
    assert kept == [0, 3, 4, 5]


def test_jaccard_threshold_and_candidates(spark, docs):
    cand = dedup.minhash_lsh_candidates(docs)
    pairs = {(r.id_a, r.id_b) for r in cand.collect()}
    # the three exact/normalized dups must be candidates of each other
    assert {(0, 1), (0, 2), (1, 2)} <= pairs
    verified = dedup.jaccard_pairs(docs, candidates=cand, threshold=0.8)
    vp = {(r.id_a, r.id_b): r.jaccard for r in verified.collect()}
    assert vp[(0, 1)] == 1.0
    # near-dup 3: one middle word differs → k=3 shingling flips 3 of 7
    # shingles (inter 4 / union 10 = 0.4) — still well above unrelated docs
    all_j = {(r.id_a, r.id_b): r.jaccard for r in dedup.jaccard_pairs(docs).collect()}
    assert all_j[(0, 3)] == pytest.approx(0.4)
    assert all_j[(4, 5)] < 0.999  # same words, different order → shingles differ
    # edge docs: the clamp and NULL semantics jaccard_pairs' shingle sets
    # (and the DuckDB twins in catalog_llm) rely on
    edge = spark.createDataFrame(
        [(10, None), (11, ""), (12, "   "), (13, "one"), (14, "one two"),
         (15, "A  b\tc d a b c")],
        "doc_id long, text string",
    )
    sets = {}
    for r in dedup.shingle_rows(edge).collect():
        sets.setdefault(r["id"], set()).add(r["__s"])
    assert sets == {
        10: {""}, 11: {""}, 12: {""},
        13: {"one"},
        14: {"one two"},
        15: {"a b c", "b c d", "c d a", "d a b"},
    }
    edge_j = {(r.id_a, r.id_b): r.jaccard
              for r in dedup.jaccard_pairs(edge).collect()}
    assert edge_j[(10, 11)] == 1.0


def test_minhash_block_candidates_semantics(spark, docs):
    # single-permutation MinHash blocking (round 6 — the demo-feeding
    # LSH): exact/normalized dups share every word, so they ALWAYS share
    # the min word hash and must pair; word-disjoint docs never can
    from waddleml_spark.llmops import WS_RE
    from waddleml_spark.llmops.textstats import lower_trim

    d = docs.select(
        "doc_id",
        F.array_distinct(F.split(lower_trim(F.col("text")), WS_RE)).alias("ws"),
    )
    pairs = {(r.id_a, r.id_b)
             for r in dedup.minhash_block_candidates(d, "ws", "doc_id").collect()}
    assert {(0, 1), (0, 2), (1, 2)} <= pairs
    # 4 and 5 share ALL words (reordered) — same word set, same min hash
    assert (4, 5) in pairs
    # no pair can bridge word-disjoint docs (0-3 family vs 4-5 family
    # share no word, hence never a min-hash bucket)
    assert not any((a in (4, 5)) != (b in (4, 5)) for a, b in pairs)

    # mega-bucket guard: 200 identical word sets = one bucket of 200
    # > the star cap -> DROPPED entirely (mirrored in the demo oracles'
    # HAVING); at 64 members it still pairs
    big = spark.createDataFrame(
        [(i, ["tpl", "words"]) for i in range(200)], "doc_id long, ws array<string>"
    )
    assert dedup.minhash_block_candidates(big, "ws", "doc_id").count() == 0
    ok = spark.createDataFrame(
        [(i, ["tpl", "words"]) for i in range(64)], "doc_id long, ws array<string>"
    )
    assert dedup.minhash_block_candidates(ok, "ws", "doc_id").count() == 64 * 63 // 2


def test_simhash_similar_docs_close(spark, docs):
    sigs = {r.doc_id: r.simhash for r in dedup.simhash_signatures(docs).collect()}
    def hamming(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert hamming(sigs[0], sigs[1]) == 0            # identical text
    assert hamming(sigs[0], sigs[3]) <= 16           # near dup: close
    assert hamming(sigs[0], sigs[4]) > hamming(sigs[0], sigs[3])


def test_simhash_kernel_vectorized_parity():
    """Pin the r12 vectorized Arrow kernel against the scalar reference
    (the r1 per-row/per-token loop, reproduced inline): bit-identical
    on every regime the kernel branches on — narrow vocab (count-matrix
    matmul), wide vocab (reduceat path), tokens past the byte-matrix
    fold cap (scalar hash64 fallback), empty/whitespace docs, unicode.
    Pure pandas — no Spark session needed."""
    import numpy as np
    import pandas as pd

    def scalar_sig(text: str) -> int:
        toks = text.lower().split()
        if not toks:
            return 0
        votes = [0] * 64
        for tok in toks:
            h = dedup.hash64(tok)
            for bit in range(64):
                votes[bit] += 1 if (h >> bit) & 1 else -1
        sig = 0
        for bit in range(64):
            if votes[bit] > 0:
                sig |= 1 << bit
        return sig - (1 << 64) if sig >= (1 << 63) else sig

    rng = np.random.RandomState(7)
    narrow = [" ".join(rng.choice(["a", "b", "cc", "ddd", "the"], 40))
              for _ in range(50)]
    # 300 docs x 50 distinct tokens = 15000 uniques -> n*nu = 4.5M,
    # past _SH_CM_CELLS: exercises the reduceat path
    wide = [" ".join(f"w{i}_{j}" for j in range(50)) for i in range(300)]
    edge = ["", "   ", "single", "a a a a a", "\tmixed\nWS  tok",
            "ünïcödé tôkens ünïcödé", "x" * 2000,
            ("y" * 1500 + " short ") * 2]
    for texts in (narrow, wide, edge, narrow + wide + edge):
        pdf = pd.DataFrame(
            {"doc_id": np.arange(len(texts), dtype=np.int64), "text": texts}
        )
        got = next(dedup._simhash_batch(iter([pdf])))
        want = [scalar_sig(t) for t in texts]
        assert got["simhash"].tolist() == want
        assert got["doc_id"].tolist() == list(range(len(texts)))


def test_minhash_mega_bucket_star_pattern(spark):
    # 200 identical docs: naive expansion = 19900 pairs; star caps at O(n)
    rows = [(i, "same exact text repeated for the template case") for i in range(200)]
    rows += [(500, "another unrelated document body entirely")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.minhash_lsh_candidates(df).collect()
    ids = {r.id_a for r in pairs} | {r.id_b for r in pairs}
    assert ids == set(range(200))           # all dups connected, outlier absent
    assert len(pairs) == 199                 # star: min id ↔ each other id
    assert all(r.id_a == 0 for r in pairs)


def test_connected_components_groups(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long",
    )
    comps = {r.id: r.component for r in dedup.connected_components(edges).collect()}
    assert comps == {
        1: 1, 2: 1, 3: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20, 23: 20,
    }


def test_connected_components_long_chain_converges(spark):
    # adversarial diameter: a 600-node path.  Plain min-propagation moves
    # the label ONE hop per round (600 rounds); pointer jumping doubles
    # the reach per round, so the default max_iter=20 (~2^20 diameter)
    # must cover it — and every node must land on the chain minimum.
    n = 600
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    comps = {r.id: r.component for r in dedup.connected_components(edges).collect()}
    assert len(comps) == n
    assert set(comps.values()) == {0}


def test_connected_components_raises_when_cap_too_small(spark):
    import pytest

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(edges, max_iter=2)


def test_end_to_end_dedup_groups(spark, docs):
    cand = dedup.minhash_lsh_candidates(docs)
    verified = dedup.jaccard_pairs(docs, candidates=cand, threshold=0.9)
    comps = dedup.connected_components(verified)
    groups = {r.id: r.component for r in comps.collect()}
    # exact/normalized dups 0,1,2 collapse to component 0
    assert groups[0] == groups[1] == groups[2] == 0
    assert 4 not in groups and 5 not in groups  # no high-jaccard edges


def test_ngram_collision_report_semantics(spark):
    from waddleml_spark.llmops import textstats

    docs = spark.createDataFrame(
        [
            # benchmark
            (0, "the quick brown fox jumps", "bench"),
            # shares the 3-gram "quick brown fox" -> contaminated
            (1, "a quick brown fox runs away", "web"),
            # no shared 3-gram
            (2, "entirely different words here now", "web"),
            # short doc (<3 tokens): zero shingles, never contaminated
            (3, "quick brown", "web"),
            (4, "the quick brown fox jumps", "books"),  # full dup of bench
        ],
        "doc_id long, text string, source string",
    )
    out = {
        r["source"]: (r["n_docs"], r["n_contaminated"])
        for r in textstats.ngram_collision_report(
            docs, bench_pred=F.col("source") == "bench"
        ).collect()
    }
    assert out == {"web": (3, 1), "books": (1, 1)}


def test_simhash32_jvm_matches_semantics_and_is_close_for_neardups(spark, docs):
    """JVM 32-bit simhash: identical text → identical signature; near-dup
    closer than unrelated (the property banding relies on)."""
    sigs = {r.doc_id: r.simhash32 for r in dedup.simhash32_jvm(docs).collect()}

    def hamming(a, b):
        return bin((a ^ b) & 0xFFFFFFFF).count("1")

    assert hamming(sigs[0], sigs[1]) == 0           # identical text
    assert hamming(sigs[0], sigs[3]) <= 8           # near dup: close
    assert hamming(sigs[0], sigs[4]) > hamming(sigs[0], sigs[3])
    assert all(0 <= s < (1 << 32) for s in sigs.values())


def test_minhash32_exact_estimates_jaccard(spark, docs):
    """Signature agreement rate ≈ Jaccard: exact dups agree on all 32
    functions; the docs-0/3 near-dup pair (true J=0.4) agrees on
    substantially more functions than unrelated docs."""
    from collections import defaultdict

    sig = defaultdict(dict)
    for r in dedup.minhash32_exact(docs).collect():
        sig[r.doc_id][r.h_index] = r.minhash

    def agree(a, b):
        return sum(sig[a][i] == sig[b][i] for i in range(32))

    assert agree(0, 1) == 32                  # identical text
    assert agree(0, 2) == 32                  # whitespace/case-normalized dup
    assert agree(0, 3) >= 6                   # J=0.4 → E[agree]=12.8
    assert agree(0, 3) > agree(0, 5)          # near-dup beats unrelated


def test_band_bits_must_divide_32(spark, docs):
    import pytest as _pytest

    from waddleml_spark.llmops import dedup as _dedup

    with _pytest.raises(ValueError, match="band_bits must divide 32"):
        _dedup.simhash32_band_pairs(docs, band_bits=12)


def test_levenshtein_pairs_candidate_fed(spark):
    from waddleml_spark.llmops import dedup as _dedup

    rows = [(1, "kitten goes home"), (2, "sitting goes home"), (3, "zzz")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cand = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    got = _dedup.levenshtein_pairs(df, cand).collect()
    assert len(got) == 1 and got[0].edit_dist == 3  # kitten->sitting
    # max_chars drops long docs before the join (pair disappears)
    assert _dedup.levenshtein_pairs(df, cand, max_chars=10).count() == 0


def test_bucket_pairs_matches_combinations(spark):
    """_bucket_pairs (generator expansion) == itertools.combinations on
    sorted ids, across bucket shapes: pair bucket, larger bucket, star-
    guarded bucket, duplicate ids across buckets (distinct collapses),
    and distinct=False keeping per-co-occurrence rows."""
    import itertools

    from pyspark.sql import functions as F

    from waddleml_spark.llmops.dedup import _bucket_pairs

    rows = [
        ("b0", [1, 2]),
        ("b1", [3, 4, 5, 6]),
        ("b2", [1, 2, 7]),          # re-pairs (1,2) -> distinct collapses
        ("b3", list(range(10, 20))),  # exceeds star threshold of 4
    ]
    buckets = spark.createDataFrame(rows, "bucket string, ids array<long>")

    got = {(r.id_a, r.id_b) for r in _bucket_pairs(buckets).collect()}
    want = set()
    for _, ids in rows:
        want |= set(itertools.combinations(sorted(ids), 2))
    assert got == want

    # star guard: the over-threshold bucket contributes min-id star edges
    got_star = {
        (r.id_a, r.id_b)
        for r in _bucket_pairs(buckets, star_threshold=4).collect()
    }
    want_star = set()
    for _, ids in rows:
        s = sorted(ids)
        if len(s) <= 4:
            want_star |= set(itertools.combinations(s, 2))
        else:
            want_star |= {(s[0], x) for x in s[1:]}
    assert got_star == want_star

    # distinct=False: (1,2) appears once per shared bucket
    counts = (
        _bucket_pairs(buckets, distinct=False)
        .groupBy("id_a", "id_b").count().collect()
    )
    by_pair = {(r.id_a, r.id_b): r["count"] for r in counts}
    assert by_pair[(1, 2)] == 2 and by_pair[(3, 4)] == 1


def test_minhash32_band_pairs_recall_and_guard(spark, docs):
    pairs = {(r.id_a, r.id_b) for r in dedup.minhash32_band_pairs(docs).collect()}
    # exact/normalized dups share every band -> always candidates
    assert {(0, 1), (0, 2), (1, 2)} <= pairs
    # unrelated docs share no shingles -> no band collision on 4 raw mins
    assert (0, 4) not in pairs and (0, 5) not in pairs


def test_minhash32_band_pairs_mega_bucket_dropped(spark):
    rows = [(i, "same exact text repeated for the template case") for i in range(80)]
    rows += [(500, "tiny pair one of two near dup docs here"),
             (501, "tiny pair one of two near dup docs here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.id_a, r.id_b) for r in dedup.minhash32_band_pairs(df).collect()}
    # the 80-doc template bucket exceeds the star cap (64) in EVERY band -> dropped
    assert pairs == {(500, 501)}


def test_passage_dup_report_detects_shared_block(spark):
    block = " ".join(f"w{i}" for i in range(20))          # one full 20-word chunk
    rows = [
        (0, "src0", block + " tail only in doc zero"),
        (1, "src1", block + " different tail here entirely"),
        (2, "src1", "no shared content in this document at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r.source: r for r in dedup.passage_dup_report(df).collect()}
    # doc0: chunks [block, tail(4w)]; doc1: [block, tail(4w)]; doc2: 1 chunk
    assert out["src0"].total_passages == 2
    assert out["src1"].total_passages == 3
    # the shared block is duplicated in both sources; tails are unique
    assert out["src0"].dup_passages == 1 and out["src0"].docs_affected == 1
    assert out["src1"].dup_passages == 1 and out["src1"].docs_affected == 1
    assert out["src1"].docs_affected == 1  # doc2 untouched


def test_bloom_no_false_negatives_and_measured_fp(spark):
    # every built value must be flagged (Bloom cannot false-negative);
    # values never built flag only at the (small) false-positive rate
    from pyspark.sql import functions as F

    from waddleml_spark.llmops import bloom

    members = spark.range(0, 2000).select(
        F.concat(F.lit("m"), F.col("id").cast("string")).alias("v")
    )
    others = spark.range(0, 2000).select(
        F.concat(F.lit("x"), F.col("id").cast("string")).alias("v")
    )
    bits = bloom.bloom_build(members, "v", n_bits=1 << 16)
    assert len(bits) == (1 << 16) // 8
    flagged_m = bloom.bloom_flag(members, "v", bits).filter("in_bloom").count()
    assert flagged_m == 2000  # no false negatives, ever
    fp = bloom.bloom_flag(others, "v", bits).filter("in_bloom").count()
    # m=65536 bits, n=2000, k=5 -> theoretical fp ~ 0.00025; allow 50x
    assert fp <= 25
    # determinism across partition layouts
    bits2 = bloom.bloom_build(members.repartition(7), "v", n_bits=1 << 16)
    assert bits == bits2


def test_bloom_decontamination_bounds_exact(spark):
    # the self-audit invariant: bloom-flagged doc count >= exact
    # contaminated count per source, and both <= n_docs
    from pyspark.sql import functions as F

    from waddleml_spark.llmops import bloom
    from waddleml_spark.session import read_table
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents")
    rep = bloom.bloom_decontamination_report(
        docs, bench_pred=F.col("source") == "src0"
    ).collect()
    assert len(rep) >= 1
    for r in rep:
        assert 0 <= r.n_contaminated <= r.n_flagged <= r.n_docs
    # cross-check the exact column against the certified exact query
    from waddleml_spark import catalog

    exact = {
        r.source: r.n_contaminated
        for r in catalog.QUERIES["contamination_by_source"](spark, SF_SMOKE).collect()
    }
    got = {r.source: r.n_contaminated for r in rep}
    assert got == exact


def test_corpus_text_is_ascii_levenshtein_parity_canary(spark):
    # THREE oracle-pairing families are sound ONLY on ASCII text
    # (fuzz-/review-found): DuckDB's levenshtein counts UTF-8 bytes vs
    # Spark's characters (lev('', 'é') = 2 vs 1); Java's \b is
    # Unicode-aware vs RE2's ASCII one (the gopher/lang-ID stopword
    # counts); and lower() itself diverges beyond ASCII (Java full case
    # mapping: lower('İ') = 'i' + combining dot vs DuckDB utf8proc's
    # simple 'i') — which touches EVERY fingerprint/tokenizer/dedup
    # pairing.  The synthetic corpus is pure ASCII today; if a testdata
    # regen ever emits non-ASCII text this canary explains the
    # resulting driver reds instead of leaving a mystery hash mismatch
    from pyspark.sql import functions as F

    from waddleml_spark.session import read_table
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents")
    non_ascii = docs.filter(~F.col("text").rlike(r"\A[\x00-\x7F]*\z")).count()
    assert non_ascii == 0, (
        f"{non_ascii} documents contain non-ASCII text: the "
        "levenshtein_verify_lsh / levenshtein_pairs_src0 oracle pairing "
        "(byte-based DuckDB vs char-based Spark) is no longer sound"
    )


def test_minhash_estimate_audit_pairs_match_band_pairs_and_estimator_sane(spark):
    # the audit (round 7) must cover EXACTLY the minhash32_band_pairs
    # candidate set (same keys, same guards, signatures just ride along),
    # estimate exact duplicates at 1.0 with zero error, and stay in [0,1]
    from tests.conftest import SF_SMOKE
    from waddleml_spark.session import read_table

    docs = read_table(spark, SF_SMOKE, "documents")
    audit = dedup.minhash_estimate_pairs(docs).collect()
    got = {(r.id_a, r.id_b) for r in audit}
    want = {
        (r.id_a, r.id_b)
        for r in dedup.minhash32_band_pairs(docs).collect()
    }
    assert got == want and got
    for r in audit:
        assert 0.0 <= r.est_jaccard <= 1.0 and 0.0 <= r.exact_jaccard <= 1.0
        assert r.abs_err == abs(r.est_jaccard - r.exact_jaccard)
        if r.exact_jaccard == 1.0:  # exact dup: all 32 minhashes collide
            assert r.n_match == 32 and r.abs_err == 0.0


def test_ngram_overlap_pairs_exact_counts_and_df_cap(spark):
    # docs 1/2 share exactly two trigrams ("alpha beta gamma",
    # "beta gamma delta"); doc 3 shares nothing
    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "zeta alpha beta gamma delta"),
        (3, "completely unrelated words here now"),
    ]
    # plus 70 docs sharing ONLY one boilerplate trigram — its document
    # frequency (70) exceeds the star cap (64), so the cap must drop it and the
    # 70 docs must produce ZERO pairs even at min_shared=1
    rows += [(100 + i, f"common gram here u{i} v{i} w{i}") for i in range(70)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r.id_a, r.id_b): r.n_shared
        for r in dedup.ngram_overlap_pairs(df, min_shared=1).collect()
    }
    assert out == {(1, 2): 2}


def test_ngram_overlap_min_shared_filters(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "zeta alpha beta gamma delta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # the pair shares 2 trigrams; the default min_shared=3 excludes it
    assert dedup.ngram_overlap_pairs(df).count() == 0


def test_self_repetition_report_counts_internal_repeats(spark):
    # doc 1 = the SAME 20-word chunk three times -> every chunk instance
    # is an internal repeat (inst=3, ratio 1.0); doc 2 has no repeats
    chunk = " ".join(f"w{i}" for i in range(20))
    rows = [
        (1, " ".join([chunk] * 3), "en", "srcA", 0),
        (2, " ".join(f"u{i}" for i in range(40)), "en", "srcA", 0),
        (3, " ".join(f"v{i}" for i in range(25)), "en", "srcB", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r.source: r for r in dedup.self_repetition_report(df).collect()}
    a = out["srcA"]
    # srcA: doc1 3 chunks (all one hash, inst=3) + doc2 2 chunks
    assert a.total_passages == 5 and a.self_dup_passages == 3
    assert a.docs_with_internal_repeat == 1 and a.self_dup_ratio == 3 / 5
    b = out["srcB"]
    assert b.self_dup_passages == 0 and b.docs_with_internal_repeat == 0
    assert b.self_dup_ratio == 0.0


def test_winnowing_overlap_guarantee_and_sampling(spark):
    # the winnowing guarantee: any shared token run of >= w+k-1 = 6
    # tokens yields at least one shared window-min fingerprint (docs 1/2
    # share a 7-token run); doc 3 shares nothing
    rows = [
        (1, "pine quartz river stone tiger umbrella velvet walnut xenon yarn"),
        (2, "apple bronze cedar pine quartz river stone tiger umbrella velvet zinc"),
        (3, "completely disjoint vocabulary without any overlap here today"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b)
        for r in dedup.winnowing32_overlap_pairs(df, min_shared=1).collect()
    }
    assert got == {(1, 2)}


def test_winnowing_samples_below_gram_volume(spark):
    # fingerprints are a ~2/(w+1) SAMPLE of the gram volume: on a long
    # doc the distinct fingerprint count must sit well under the
    # distinct gram count (the whole point of winnowing at scale)
    text = " ".join(f"tok{i}" for i in range(200))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    n_grams = dedup.shingle_rows(df).count()  # 198 distinct trigrams
    # each fingerprint of a duplicated doc is shared, so n_shared equals
    # doc 1's distinct fingerprint count
    two = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    )
    n_fp = dedup.winnowing32_overlap_pairs(two, min_shared=1).collect()[0].n_shared
    assert n_fp < n_grams / 2


def test_containment_pairs_doc_in_doc(spark):
    # doc 1 is quoted verbatim inside doc 2: every one of doc 1's three
    # trigrams appears in doc 2, so containment = 3/min(3, 9) = 1.0 even
    # though Jaccard (3/9) would sit below any near-dup threshold
    a = "alpha beta gamma delta epsilon"
    b = "intro words here " + a + " closing words after"
    rows = [
        (1, a),
        (2, b),
        (3, "completely unrelated text about nothing shared at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.id_a, r.id_b): r for r in dedup.containment_pairs(df).collect()}
    assert set(out) == {(1, 2)}
    r = out[(1, 2)]
    assert r.n_shared == 3 and r.n_a == 3  # all of doc 1 is inside doc 2
    assert r.n_b == 9 and r.containment == 1.0


def test_containment_threshold_and_df_cap(spark):
    # the pair shares 3 grams but each doc is mostly unique content:
    # unique (df=1) grams stay in the denominators, so containment =
    # 3/15 = 0.2 — filtered at the default 0.5, kept at 0.1
    filler_a = " ".join(f"ua{i}" for i in range(12))
    filler_b = " ".join(f"ub{i}" for i in range(12))
    rows = [
        (1, "alpha beta gamma delta epsilon " + filler_a),
        (2, "alpha beta gamma delta epsilon " + filler_b),
    ]
    # plus 70 docs sharing one boilerplate trigram: df = 70 > the star cap (64)
    # drops it from numerators AND denominators on the flood docs, which
    # then hold zero rare grams and can produce no pairs
    rows += [(100 + i, f"common gram here u{i} v{i} w{i}") for i in range(70)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert dedup.containment_pairs(df).count() == 0
    kept = dedup.containment_pairs(df, min_containment=0.1).collect()
    assert [(r.id_a, r.id_b, r.n_shared) for r in kept] == [(1, 2, 3)]
    assert kept[0].n_a == 15 and kept[0].containment == 3 / 15


def test_remove_duplicate_passages_semantics(spark):
    """The rewrite stage: a shared 20-word chunk keeps only its global
    first (doc, pos) instance; later holders are re-emitted without it;
    a full duplicate empties; NULL/'' docs survive at doc grain."""
    shared = " ".join(f"w{i}" for i in range(20))
    rows = [
        (1, shared + " second chunk words here x y z"),
        (2, shared + " totally different tail content"),
        (3, "unique document with nothing shared at all"),
        (4, shared),      # exactly the duplicated chunk -> empties
        (5, None),
        (6, ""),          # dups doc 5's ''-chunk -> removed
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in dedup.remove_duplicate_passages(df).collect()
    }
    assert out[1].n_removed == 0 and out[1].clean_text.startswith("w0 w1")
    assert out[2].n_removed == 1 and out[2].n_words_removed == 20
    assert out[2].clean_text == "totally different tail content"
    assert out[3].n_removed == 0
    assert out[4].clean_text == "" and out[4].n_removed == 1
    assert set(out) == {1, 2, 3, 4, 5, 6}  # nobody dropped
    # the two empty-token docs share the '' chunk: first (5) keeps it
    assert out[5].n_removed == 0 and out[6].n_removed == 1
    # r11 review pin: the REMOVED empty chunk counts its one ''-token
    # word exactly like the SQL twin's ['']-token doc (nw was
    # size(NULL)=NULL for NULL text before the coalesce fix)
    assert out[6].n_words_removed == 1
    two_nulls = spark.createDataFrame(
        [(1, None), (2, None)], "doc_id long, text string"
    )
    tn = {
        r.doc_id: r
        for r in dedup.remove_duplicate_passages(two_nulls).collect()
    }
    assert tn[1].n_removed == 0
    assert tn[2].n_removed == 1 and tn[2].n_words_removed == 1
    # determinism: a second run rewrites byte-identically
    again = {
        r.doc_id: r
        for r in dedup.remove_duplicate_passages(df).collect()
    }
    assert {k: tuple(v) for k, v in out.items()} == {
        k: tuple(v) for k, v in again.items()
    }


def test_remove_duplicate_passages_accounting(spark):
    """Corpus-wide accounting against the counting reports (the r10
    verdict's cross-check ask): removed instances == total instances
    - distinct chunk hashes (first-keeper discipline), and the total
    instance mass agrees with passage_dedup_report's per-source sums."""
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    out = dedup.remove_duplicate_passages(docs).agg(
        F.sum("n_passages").alias("tot"), F.sum("n_removed").alias("rem")
    ).head()
    inst = dedup._passage_inst(docs, "text", "doc_id", "source")
    stats = inst.agg(
        F.sum("inst").alias("tot"),
        F.count_distinct("ph").alias("nh"),
    ).head()
    assert out.tot == stats.tot
    assert out.rem == stats.tot - stats.nh
    rep = dedup.passage_dup_report(docs).agg(
        F.sum("total_passages").alias("tot")
    ).head()
    assert rep.tot == out.tot


def test_cdc_chunks_survive_insertion(spark):
    """The reason content-defined chunking exists: one word inserted at
    the front of a copied document shifts every fixed 20-word window
    (passage_dup_report sees ~nothing) but CDC boundaries re-synchronize
    after one chunk, so the bulk of the copy stays visibly duplicated."""
    body = " ".join(f"tok{i}" for i in range(200))
    rows = [(1, "s", body), (2, "s", "inserted " + body)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    fixed = dedup.passage_dup_report(df).collect()[0]
    cdc = dedup.cdc_dedup_report(df).collect()[0]
    # fixed chunking: the shifted copy shares (almost) nothing
    assert fixed.dup_passages <= 2
    # CDC: most chunk instances are shared between the two docs
    assert cdc.dup_chunks >= cdc.total_chunks * 0.6
    assert cdc.docs_affected == 2
    # sanity: boundaries actually split the 200-word doc into several
    # chunks of ~divisor mean width
    assert cdc.total_chunks >= 10
    assert 4 <= cdc.avg_chunk_words <= 64


def test_remove_contaminated_spans_semantics(spark):
    """The decontamination rewrite: a doc carrying an eval trigram
    loses exactly the touched 20-word chunk(s); a boundary-spanning
    gram removes BOTH chunks; clean docs pass through intact."""
    bench = "leaked secret answer " + " ".join(f"b{i}" for i in range(10))
    # doc 1: eval trigram inside chunk 1 (words 20..39)
    d1 = (
        " ".join(f"w{i}" for i in range(20))
        + " leaked secret answer "
        + " ".join(f"x{i}" for i in range(17))
    )
    # doc 2: the trigram spans the chunk 0/1 boundary (words 19..21)
    d2 = (
        " ".join(f"y{i}" for i in range(19))
        + " leaked secret answer "
        + " ".join(f"z{i}" for i in range(18))
    )
    d3 = "completely clean document with no overlap at all"
    df = spark.createDataFrame(
        [
            (0, "src0", bench),
            (1, "srcA", d1),
            (2, "srcA", d2),
            (3, "srcB", d3),
        ],
        "doc_id long, source string, text string",
    )
    out = {
        r.doc_id: r
        for r in dedup.remove_contaminated_spans(
            df, bench_pred=F.col("source") == "src0"
        ).collect()
    }
    assert set(out) == {1, 2, 3}  # bench doc never re-emitted
    # doc 1: chunk 1 (the trigram's home) removed, chunk 0 kept
    assert out[1].n_chunks == 2 and out[1].n_removed == 1
    assert out[1].clean_text == " ".join(f"w{i}" for i in range(20))
    # doc 2: the gram touches chunks 0 AND 1 -> both removed
    assert out[2].n_chunks == 2 and out[2].n_removed == 2
    assert out[2].clean_text == ""
    assert out[3].n_removed == 0 and out[3].clean_text == d3


def test_remove_contaminated_spans_null_predicate_doc_reemitted(spark):
    """r11 review find: a doc whose bench_pred evaluates to NULL (NULL
    source under an equality predicate) must land on the CORPUS side
    and be re-emitted — a bare ~pred dropped it from BOTH filter
    branches (silent data loss in a rewrite stage)."""
    df = spark.createDataFrame(
        [
            (0, "src0", "leaked secret answer plus bench padding words"),
            (1, None, "totally clean null source document here"),
            (2, None, "carrying the leaked secret answer span here"),
        ],
        "doc_id long, source string, text string",
    )
    out = {
        r.doc_id: r
        for r in dedup.remove_contaminated_spans(
            df, bench_pred=F.col("source") == "src0"
        ).collect()
    }
    assert set(out) == {1, 2}, "NULL-source docs must be re-emitted"
    assert out[1].n_removed == 0
    assert out[1].clean_text == "totally clean null source document here"
    assert out[2].n_removed == 1 and out[2].clean_text == ""


def test_cdc_report_partition_independent(spark):
    """r11 opt round: cdc_chunks now fan_outs its input before the
    word posexplode (the single-row-group serial-stage fix).  The
    report must be value-identical regardless of input partitioning —
    the running-sum window and the ordered listagg are keyed per doc,
    so round-robin placement cannot change any value."""
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    one = sorted(
        dedup.cdc_dedup_report(docs.coalesce(1)).collect(),
        key=lambda r: r.source,
    )
    many = sorted(
        dedup.cdc_dedup_report(docs.repartition(7)).collect(),
        key=lambda r: r.source,
    )
    assert [tuple(r) for r in one] == [tuple(r) for r in many]
