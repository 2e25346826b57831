"""Gopher-rule quality flags and cluster-composition report units."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from waddleml_spark.llmops import dedup, textstats


@pytest.fixture(scope="module")
def rule_docs(spark):
    # 55 distinct 5-6 char words + stopwords: mean len > 3, ttr ~1, 57 words
    long_ok = " ".join(f"word{i:02d}" for i in range(55)) + " the and"
    rows = [
        (0, "srcA", long_ok),                           # passes everything
        (1, "srcA", "too short a doc"),                 # fails word count
        (2, "srcA", " ".join(["zzzz"] * 60)),           # fails stopwords + ttr
        (3, "srcB", " ".join(["1234", "3456"] * 30) + " the and"),  # fails alpha
        (4, "srcB", " ".join(["a"] * 26 + ["the"] * 26)),  # fails mean len + ttr
    ]
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_gopher_flags_per_rule(spark, rule_docs):
    out = {r.doc_id: r for r in textstats.gopher_flags(rule_docs).collect()}
    assert out[0].fail_word_count == 0 and out[0].fail_stopwords == 0
    assert out[0].fail_mean_word_len == 0 and out[0].fail_ttr == 0
    assert out[0].fail_alpha_ratio == 0
    assert out[1].fail_word_count == 1
    assert out[2].fail_stopwords == 1 and out[2].fail_ttr == 1
    assert out[2].fail_mean_word_len == 0  # 4-char words are in range
    assert out[3].fail_alpha_ratio == 1
    assert out[4].fail_mean_word_len == 1  # mean word length 2 < 3
    assert out[4].fail_ttr == 1            # 2 distinct / 52


def test_gopher_report_counts(spark, rule_docs):
    rep = {r.source: r for r in textstats.gopher_report(rule_docs).collect()}
    assert rep["srcA"].n_docs == 3 and rep["srcA"].n_pass == 1
    assert rep["srcB"].n_docs == 2 and rep["srcB"].n_pass == 0
    assert rep["srcA"].fail_word_count == 1
    assert rep["srcB"].fail_alpha_ratio == 1


def test_leakage_safe_split_covers_corpus(spark):
    from tests.conftest import SF_SMOKE
    from waddleml_spark import catalog
    from waddleml_spark.session import read_table

    docs = read_table(spark, SF_SMOKE, "documents")
    n_docs = docs.count()
    rep = catalog.QUERIES["leakage_safe_split"](spark, SF_SMOKE).collect()
    assert sum(r.n_docs for r in rep) == n_docs
    # independent largest-cluster check straight from CC
    pairs = dedup.minhash_lsh_candidates(docs)
    comps = dedup.connected_components(pairs)
    biggest = (
        comps.groupBy("component").count().agg(F.max("count")).first()[0]
    )
    assert max(r.max_cluster_size for r in rep) == biggest
    # clusters partition the docs: cluster totals match too
    n_clusters = comps.select("component").distinct().count() + (
        n_docs - comps.count()
    )
    assert sum(r.n_clusters for r in rep) == n_clusters


def test_cluster_canonical_keeper_rule(spark):
    from tests.conftest import SF_SMOKE
    from waddleml_spark import catalog
    from waddleml_spark.session import read_table

    rep = catalog.QUERIES["cluster_canonical_docs"](spark, SF_SMOKE)
    rows = rep.collect()
    assert rows, "smoke corpus has near-dup clusters"
    assert all(r.cluster_size >= 2 for r in rows)
    # keeper is the longest doc of its cluster: verify on one cluster
    docs = read_table(spark, SF_SMOKE, "documents")
    pairs = dedup.minhash_lsh_candidates(docs)
    comps = dedup.connected_components(pairs)
    comp0 = rows[0].component
    members = (
        comps.filter(F.col("component") == comp0)
        .join(docs, comps.id == docs.doc_id)
        .select("id", textstats.word_count(F.col("text")).alias("n"))
        .collect()
    )
    best = sorted(members, key=lambda r: (-r.n, r.id))[0]
    assert rows[0].keeper_id == best.id


def test_ws_class_identical_across_java_and_re2_on_vertical_tab(spark):
    # Java's `\s` includes \x0b, RE2's does not — the shared WS_RE class
    # must tokenize identically in Spark (Java regex) and DuckDB (RE2),
    # or chunk/passage hashes desync between a query and its oracle
    import duckdb
    from pyspark.sql import functions as F

    from waddleml_spark.llmops import WS_RE

    text = "alpha\x0bbeta \tgamma"
    spark_toks = (
        spark.range(1)
        .select(F.split(F.regexp_replace(F.lit(text), WS_RE, " "), " ").alias("t"))
        .collect()[0]["t"]
    )
    duck_toks = duckdb.sql(
        f"SELECT str_split_regex('{text}', '{WS_RE}') AS t"
    ).fetchone()[0]
    assert spark_toks == duck_toks == ["alpha", "beta", "gamma"]


def test_bpe_token_class_identical_across_engines_on_vertical_tab(spark):
    # the BPE pattern's NEGATED class ([^A-Za-z0-9<ws>]) hits the same
    # Java-vs-RE2 `\s` divergence: \x0b must count as whitespace (never a
    # symbol token) in BOTH engines
    import duckdb
    from pyspark.sql import functions as F

    from waddleml_spark.llmops.textstats import BPE_RE

    text = "ab\x0b! cd"
    n_spark = (
        spark.range(1)
        .select(F.size(F.regexp_extract_all(F.lit(text), F.lit(BPE_RE), F.lit(0))).alias("n"))
        .collect()[0]["n"]
    )
    n_duck = duckdb.sql(
        f"SELECT len(regexp_extract_all('{text}', '{BPE_RE}')) AS n"
    ).fetchone()[0]
    assert n_spark == n_duck == 3  # ab, !, cd — \x0b is whitespace


def test_shingle_novelty_report_hand_checked(spark):
    from waddleml_spark.llmops.textstats import shingle_novelty_report

    df = spark.createDataFrame(
        [
            (1, "s1", "a b c d"),  # trigrams: "a b c", "b c d"
            (2, "s2", "a b c"),  #  trigram:  "a b c" (dup of doc 1's)
        ],
        "doc_id long, source string, text string",
    )
    rows = {
        r.source: r
        for r in shingle_novelty_report(df).collect()
    }
    s1, s2 = rows["s1"], rows["s2"]
    assert (s1.shingle_slots, s1.distinct_shingles) == (2, 2)
    assert (s1.dup_slots, s1.owned_shingles) == (1, 2)  # doc 1 saw both first
    assert s1.dup_ratio == 0.5
    assert (s2.shingle_slots, s2.distinct_shingles) == (1, 1)
    assert (s2.dup_slots, s2.owned_shingles) == (1, 0)
    assert s2.dup_ratio == 1.0


def test_perplexity_buckets_balanced_and_ordered(spark):
    from waddleml_spark import catalog
    from tests.conftest import SF_SMOKE

    rows = catalog.QUERIES["perplexity_buckets_by_lang"](
        spark, SF_SMOKE
    ).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, {})[r.bucket] = r
    for lang, b in by_lang.items():
        # ntile(3): bucket sizes within a language differ by <= 1
        sizes = [r.n_docs for r in b.values()]
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)
        # head = most corpus-like (ordered by score DESC)
        if "head" in b and "tail" in b:
            assert b["head"].mean_lm_score >= b["tail"].mean_lm_score


def test_bpe_encode_report_token_economics(spark):
    from waddleml_spark import catalog
    from tests.conftest import SF_SMOKE

    rows = catalog.QUERIES["bpe_encode_report"](spark, SF_SMOKE).collect()
    assert rows, "corpus has documents in every lang"
    for r in rows:
        # BPE never splits below one token per word, and 24 merges must
        # compress below the char-per-word ceiling (merges only shrink)
        assert r.total_bpe_tokens >= r.total_words
        assert r.tokens_per_word >= 1.0
        assert r.n_docs > 0


def test_temperature_mix_flattens_shares(spark):
    from waddleml_spark import catalog
    from tests.conftest import SF_SMOKE

    rows = catalog.QUERIES["temperature_mix_report"](
        spark, SF_SMOKE
    ).collect()
    assert len(rows) >= 2
    raw = [r.raw_share for r in rows]
    temp = [r.temp_share for r in rows]
    # shares are distributions (floor-rounding eats <= 1e-6 per row)
    assert abs(sum(raw) - 1.0) < 1e-4 and abs(sum(temp) - 1.0) < 1e-4
    # tau < 1 flattens: the dominant source sheds, the smallest gains
    assert max(temp) <= max(raw) + 1e-9
    assert min(temp) >= min(raw) - 1e-9
    hi = max(rows, key=lambda r: r.raw_share)
    lo = min(rows, key=lambda r: r.raw_share)
    assert hi.upsample_factor <= 1.0 + 1e-9
    assert lo.upsample_factor >= 1.0 - 1e-9


def test_salient_terms_exact_lift_and_floor(spark, tmp_path):
    from waddleml_spark import catalog

    # two balanced sources with one distinctive word each: lift(apple in
    # srcA) = (6/16)/(6/32) = 2.0 EXACTLY (dyadic doubles), the shared
    # word lifts to 1.0; source C holds only a below-floor word (4 < 5)
    # so it vanishes from the report AND from the corpus total (the
    # documented reported-sources T_g semantics — lift(apple) stays 2.0)
    rows = [
        (1, " ".join(["apple"] * 6 + ["common"] * 10), "en", "srcA", 0),
        (2, " ".join(["banana"] * 6 + ["common"] * 10), "en", "srcB", 0),
        (3, " ".join(["solo"] * 4), "en", "srcC", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "sf")
    (tmp_path / "sf").mkdir()
    df.coalesce(1).write.parquet(f"{d}/documents.parquet")
    out = {
        (r.source, r.word): r
        for r in catalog.QUERIES["salient_terms_by_source"](spark, d).collect()
    }
    assert set(out) == {
        ("srcA", "apple"), ("srcA", "common"),
        ("srcB", "banana"), ("srcB", "common"),
    }
    assert out[("srcA", "apple")].rnk == 1 and out[("srcA", "apple")].lift == 2.0
    assert out[("srcA", "common")].rnk == 2 and out[("srcA", "common")].lift == 1.0
    assert out[("srcB", "banana")].lift == 2.0


def test_salient_terms_shape_on_smoke_corpus(spark):
    from waddleml_spark import catalog
    from tests.conftest import SF_SMOKE

    rows = catalog.QUERIES["salient_terms_by_source"](spark, SF_SMOKE).collect()
    assert rows
    by_src = {}
    for r in rows:
        assert r.tf_src >= 5 and r.tf_src <= r.tf_all and r.lift > 0
        by_src.setdefault(r.source, []).append(r)
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 5
        # ranking follows the tf_src/tf_all over-representation ratio
        ratios = [r.tf_src / r.tf_all for r in rs]
        assert all(a >= b for a, b in zip(ratios, ratios[1:]))


def test_temperature_one_is_identity(spark):
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    # tau = 1 must reduce to the raw shares exactly (q ∝ p^1 = p)
    df = spark.createDataFrame(
        [("a", 10.0), ("b", 30.0), ("c", 60.0)], "src string, n double"
    )
    w = Window.partitionBy()
    p = F.col("n") / F.sum("n").over(w)
    q = F.pow(p, F.lit(1.0))
    out = df.select(
        (q / F.sum(q).over(w)).alias("temp"), p.alias("raw")
    ).collect()
    for r in out:
        assert abs(r.temp - r.raw) < 1e-12


def test_smoothed_shares_zero_weight_is_null_not_crash(spark):
    # ANSI mode is ON in this repo's Spark: 0/0 in the upsample rate
    # must surface as NULL via try_divide, never DIVIDE_BY_ZERO or a
    # NaN silently floored to 0
    from waddleml_spark.llmops.mixing import smoothed_shares

    df = spark.createDataFrame(
        [("a", 90.0), ("b", 10.0), ("z", 0.0)], "k string, w double"
    )
    rows = {r.k: r for r in smoothed_shares(df, "w", 0.7).collect()}
    assert rows["z"].natural_share == 0.0
    assert rows["z"].smoothed_share == 0.0
    assert rows["z"].sample_rate is None
    assert abs(sum(r.natural_share for r in rows.values()) - 1.0) < 1e-4
    assert abs(sum(r.smoothed_share for r in rows.values()) - 1.0) < 1e-4
    assert rows["b"].sample_rate > 1.0 > rows["a"].sample_rate


def test_quality_features_zero_word_doc_yields_null_not_crash(spark):
    # round-6 review find: ANSI divide-by-zero killed the job on any
    # punctuation-only / non-Latin doc; the ratio must be NULL instead
    from waddleml_spark.llmops import textstats

    d = spark.createDataFrame(
        [(1, "!!! ... ???"), (2, "real words here")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in textstats.quality_features(d).collect()}
    assert rows[1].q_avg_word_len is None
    assert rows[2].q_avg_word_len is not None


def test_sql_str_literal_round_trips_regex_patterns(spark):
    # expr-string plan builds embed WS_RE/WS_TRIM_RE as SQL literals;
    # the PARSED value must be byte-identical to the Python pattern or
    # the Java regex silently diverges from the Column-API path
    from waddleml_spark.llmops import WS_RE, WS_TRIM_RE, sql_str

    for pat in (WS_RE, WS_TRIM_RE, r"a\b'c\\d", "\t\x0b"):
        got = spark.sql(f"SELECT {sql_str(pat)} AS s").head().s
        assert got == pat, (got, pat)


def test_read_table_turns_off_escaped_string_literals(spark, tmp_path):
    # a session with the Hive-compat escapedStringLiterals flag on keeps
    # sql_str's doubled backslashes literally, corrupting every embedded
    # regex; read_table turns the flag back off, and does so again when
    # it is flipped after the table's first read (a memo hit)
    from waddleml_spark.llmops import sql_str
    from waddleml_spark.session import read_table

    spark.range(3).write.parquet(str(tmp_path / "t.parquet"))
    flag = "spark.sql.parser.escapedStringLiterals"
    ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    digits = sql_str(r"\d+")
    query = f"SELECT regexp_replace('a12b', {digits}, '#') AS s"
    spark.conf.set(flag, "true")
    try:
        assert spark.sql(query).head().s == "a12b"  # the corruption
        first = read_table(spark, str(tmp_path), "t")
        assert first.count() == 3
        assert spark.conf.get(flag) == "false"
        assert spark.sql(query).head().s == "a#b"
        for conf in (flag, ntz):
            spark.conf.set(conf, "true")
        assert read_table(spark, str(tmp_path), "t") is first
        assert [spark.conf.get(c) for c in (flag, ntz)] == ["false", "false"]
    finally:
        spark.conf.set(flag, "false")
        spark.conf.set(ntz, "false")
