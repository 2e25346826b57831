"""URL canonicalization: hand-pinned cases, cross-engine dialect fuzz
(the CLAUDE.md regex rule: every regex shorthand / anchor / string
builtin is engine-specific until fuzzed), and the shingle_rows
positioned-rows guard."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from waddleml_spark.llmops import dedup, urlnorm

SET = settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


CASES = [
    # scheme case + www + default port + fragment + tracking + order
    (
        "HTTPS://WWW.Example7.COM:443/page/3/?utm_source=feed&lang=en#top",
        "https://example7.com/page/3?lang=en",
    ),
    # http collapses into https; :80 stripped; index.html stripped
    (
        "http://example7.com:80/page/3/index.html?lang=en&utm_campaign=x",
        "https://example7.com/page/3?lang=en",
    ),
    # param sorting; ref dropped; no trailing slash to strip
    (
        "https://example1.com/a?z=1&ref=home&a=2",
        "https://example1.com/a?a=2&z=1",
    ),
    # empty path renders as '/'; all params tracking -> no '?'
    ("https://example.com?utm_source=x", "https://example.com/"),
    # bare host, no scheme marker: treated as host
    ("example.com/x/", "https://example.com/x"),
    # root slash survives
    ("https://example.com/", "https://example.com/"),
    # review find: an embedded URL in a query param must survive whole —
    # only the LEADING scheme is stripped, never a second '://'
    (
        "https://example.com/r?url=https://other.com/a",
        "https://example.com/r?url=https://other.com/a",
    ),
    # review find: '?' is legal inside a query (RFC 3986) — everything
    # after the FIRST '?' is the query, nothing past a second '?' drops
    ("https://example.com/p?a=1?v=2", "https://example.com/p?a=1?v=2"),
    # review find: tracking-param drop is case-insensitive
    ("https://example.com/a?UTM_SOURCE=feed", "https://example.com/a"),
    # review find: repeated suffix/prefix runs strip in ONE pass
    # (idempotence — a re-ingested canonical URL must not re-group)
    ("https://example.com/a//", "https://example.com/a"),
    (
        "https://example.com/a/index.html/index.html",
        "https://example.com/a",
    ),
    ("http://www.www.example.com:443:443/a", "https://example.com/a"),
    # advisor find: VALUELESS tracker params (no '=') must drop too —
    # the match is on the param NAME, not a "name=" prefix
    ("https://example.com/p?fbclid", "https://example.com/p"),
    ("https://example.com/p?a=1&gclid", "https://example.com/p?a=1"),
    # ...but a NON-tracker name that merely shares a prefix survives,
    # valueless or not
    ("https://example.com/p?refx=1", "https://example.com/p?refx=1"),
    ("https://example.com/p?x", "https://example.com/p?x"),
    # review find: NULL url folds to '' identically on both engines
    # (Spark concat propagates NULL, DuckDB concat skips it — without
    # the coalesce the oracle emitted a phantom group)
    (None, "https:///"),
    # r10 review find: whitespace-PADDED urls defeated the \A-anchored
    # scheme strip and canonicalized to garbage — edge-trim is now
    # stage 0 of the shared canonicalization
    (" https://example.com/a ", "https://example.com/a"),
    ("\thttp://WWW.example.com/b\n", "https://example.com/b"),
]


def test_canonical_url_hand_cases(spark):
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(CASES)], "i int, url string"
    )
    got = {
        r.i: r.canonical_url
        for r in urlnorm.with_canonical_url(df).collect()
    }
    for i, (u, want) in enumerate(CASES):
        assert got[i] == want, (u, got[i], want)


def test_canonical_url_sql_twin_hand_cases():
    con = duckdb.connect()
    con.register(
        "t", pd.DataFrame({"i": range(len(CASES)), "url": [u for u, _ in CASES]})
    )
    sql = urlnorm.canonical_url_subquery_sql("SELECT i, url FROM t")
    got = dict(con.execute(f"SELECT i, canonical_url FROM ({sql})").fetchall())
    for i, (u, want) in enumerate(CASES):
        assert got[i] == want, (u, got[i], want)


# URL-ish ASCII soup: delimiters in wrong places, repeated markers,
# tracking-prefix fragments, case mixing — the canonicalization must be
# TOTAL and the two engines must agree on any ASCII input, not only on
# well-formed URLs.  ASCII-only by documented soundness (lower()
# diverges beyond ASCII — CLAUDE.md).
_url_st = st.lists(
    st.text(
        alphabet="abWw09.:/?&=#_-uTtMmRrEeFf",
        min_size=0,
        max_size=30,
    ),
    min_size=1,
    max_size=8,
)


@SET
@given(urls=_url_st)
def test_canonical_url_parity_spark_vs_duckdb(spark, urls):
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "i int, url string"
    )
    got = {
        r.i: r.canonical_url
        for r in urlnorm.with_canonical_url(df).collect()
    }
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"i": range(len(urls)), "url": urls}))
    sql = urlnorm.canonical_url_subquery_sql("SELECT i, url FROM t")
    want = dict(con.execute(f"SELECT i, canonical_url FROM ({sql})").fetchall())
    for i, u in enumerate(urls):
        assert got[i] == want[i], (repr(u), got[i], want[i])
    # idempotence on ARBITRARY input, not just the plant: canonical is a
    # fixed point (probed over 5000 random-soup inputs before pinning)
    con.register("t2", pd.DataFrame({"i": list(want), "url": list(want.values())}))
    sql2 = urlnorm.canonical_url_subquery_sql("SELECT i, url FROM t2")
    twice = dict(con.execute(f"SELECT i, canonical_url FROM ({sql2})").fetchall())
    for i, u in enumerate(urls):
        assert twice[i] == want[i], (repr(u), want[i], twice[i])


def test_url_dedup_report_keeper_is_min_and_groups_collapse(spark):
    """At smoke SF the report's groups obey the plant's arithmetic:
    keeper_id == min over the group, and every group >= 2 collapses at
    least one raw variant pair (n_variants <= n_docs)."""
    from waddleml_spark import catalog

    from pyspark.sql import functions as F

    from waddleml_spark.catalog_llm import _URL_PLANT
    from waddleml_spark.llmops import urlnorm

    rows = catalog.QUERIES["url_dedup_report"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows, "plant should produce duplicate canonical groups"
    # recompute the true per-group min doc_id from the canonicalized
    # frame — the keeper RULE itself, not just the group shape (review
    # find: the rule was asserted by name only)
    planted = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).selectExpr("doc_id", f"{_URL_PLANT} AS url")
    true_min = {
        r.canonical_url: r.m
        for r in urlnorm.with_canonical_url(planted)
        .groupBy("canonical_url")
        .agg(F.min("doc_id").alias("m"))
        .collect()
    }
    for r in rows:
        assert r.n_docs >= 2
        assert 1 <= r.n_variants <= r.n_docs
        assert r.keeper_id == true_min[r.canonical_url]
        assert r.canonical_url.startswith("https://example")
        # tracking params and fragments never survive
        assert "utm_" not in r.canonical_url
        assert "#" not in r.canonical_url


DOMAIN_CASES = [
    # host -> registered domain (last two labels; single label falls back)
    ("https://a.b.example.com/x", "example.com"),
    ("https://example.com/x", "example.com"),
    ("https://localhost/x", "localhost"),
    ("https://example.co.uk/x", "co.uk"),  # documented: no PSL in-container
    ("https:///x", ""),  # empty host (url-less plant) stays empty
    # r10 review find: non-default ports and userinfo must not fragment
    # the registered domain (blocklist bypass / cap evasion)
    ("https://example.com:8080/x", "example.com"),
    ("https://user@example.com/x", "example.com"),
    ("https://u@example.com:8080/x", "example.com"),
    ("https://[::1]:8080/x", "[::1]"),  # no dot -> whole depored host
    # r11 advisor find: multi-@ userinfo and FQDN trailing dots were
    # still in the bypass class — strip to the LAST '@', peel the
    # trailing dot run
    ("https://a@b@example.com/x", "example.com"),
    ("https://example.com./x", "example.com"),
    ("https://u@example.com.:8080/x", "example.com"),
    ("https://example.com.../x", "example.com"),
    # r11 review: EMPTY userinfo segments are RFC-legal and were still
    # in the bypass class
    ("https://@example.com/x", "example.com"),
    ("https://a@@example.com/x", "example.com"),
]


def test_registered_domain_hand_cases_and_parity(spark):
    """Domain extraction agrees with its DuckDB twin and matches the
    pinned hand cases on both engines (the CLAUDE.md regex rule:
    explicit class + \\z anchor, fuzz/pin before trusting)."""
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(DOMAIN_CASES)],
        "i int, canonical_url string",
    )
    got = {
        r.i: r.domain
        for r in urlnorm.with_registered_domain(df).collect()
    }
    con = duckdb.connect()
    con.register(
        "t",
        pd.DataFrame(
            {
                "i": range(len(DOMAIN_CASES)),
                "canonical_url": [u for u, _ in DOMAIN_CASES],
            }
        ),
    )
    sql = urlnorm.registered_domain_subquery_sql(
        "SELECT i, canonical_url FROM t"
    )
    want = dict(con.execute(f"SELECT i, domain FROM ({sql})").fetchall())
    for i, (u, expect) in enumerate(DOMAIN_CASES):
        assert got[i] == expect, (u, got[i], expect)
        assert want[i] == expect, (u, want[i], expect)


@SET
@given(urls=_url_st)
def test_registered_domain_parity_fuzz(spark, urls):
    """Full chain (canonicalize -> domain) engine parity on ASCII URL
    soup — TOTAL on any input, like the canonicalization fuzz above."""
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "i int, url string"
    )
    got = {
        r.i: r.domain
        for r in urlnorm.with_registered_domain(
            urlnorm.with_canonical_url(df)
        ).collect()
    }
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"i": range(len(urls)), "url": urls}))
    sql = urlnorm.registered_domain_subquery_sql(
        urlnorm.canonical_url_subquery_sql("SELECT i, url FROM t")
    )
    want = dict(con.execute(f"SELECT i, domain FROM ({sql})").fetchall())
    for i, u in enumerate(urls):
        assert got[i] == want[i], (repr(u), got[i], want[i])


@SET
@given(urls=_url_st)
def test_url_structure_parity_fuzz(spark, urls):
    """Full chain (canonicalize -> structure features) engine parity on
    ASCII URL soup — the r11 _structure_stages are a new dialect-shared
    stage list, so they take the same fuzz pinning as the domain
    stages (every string builtin is engine-specific until fuzzed)."""
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "i int, url string"
    )
    got = {
        r.i: (r.path_depth, r.has_query, r.n_params)
        for r in urlnorm.with_url_structure(
            urlnorm.with_canonical_url(df)
        ).collect()
    }
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"i": range(len(urls)), "url": urls}))
    sql = urlnorm.url_structure_subquery_sql(
        urlnorm.canonical_url_subquery_sql("SELECT i, url FROM t")
    )
    want = {
        i: (d, h, p)
        for i, d, h, p in con.execute(
            f"SELECT i, path_depth, has_query, n_params FROM ({sql})"
        ).fetchall()
    }
    for i, u in enumerate(urls):
        assert got[i] == want[i], (repr(u), got[i], want[i])


def test_domain_capped_keepers_semantics(spark):
    """Cap binds per domain: <= cap rows kept per domain, the kept set
    is the md5-rank prefix (deterministic across invocations), and an
    uncapped domain keeps everything."""
    from waddleml_spark.catalog_llm import _URL_PLANT

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).selectExpr("doc_id", f"{_URL_PLANT} AS url")
    kept = urlnorm.domain_capped_keepers(docs, cap=3).collect()
    by_dom: dict[str, list] = {}
    for r in kept:
        by_dom.setdefault(r.domain, []).append(r)
    assert by_dom, "plant produces domains"
    for dom, members in by_dom.items():
        assert len(members) <= 3
        assert sorted(m.domain_rank for m in members) == list(
            range(1, len(members) + 1)
        )
    again = urlnorm.domain_capped_keepers(docs, cap=3).collect()
    assert sorted(r.doc_id for r in again) == sorted(r.doc_id for r in kept)
    total = urlnorm.domain_capped_keepers(docs, cap=10**9).count()
    assert total == docs.count()


def test_neardup_cluster_sizes_invariants(spark):
    """Histogram arithmetic holds (n_docs = size × n_clusters, sizes
    ≥ 2), and the clustered-doc total equals the distinct node count of
    the candidate pair graph."""
    from pyspark.sql import functions as F

    from waddleml_spark import catalog
    from waddleml_spark.llmops import dedup as _dd

    sf = "/root/testdata/sf0.001"
    rows = catalog.QUERIES["neardup_cluster_sizes"](spark, sf).collect()
    assert rows, "smoke corpus has near-dup candidates"
    for r in rows:
        assert r.cluster_size >= 2
        assert r.n_docs == r.cluster_size * r.n_clusters
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    pairs = _dd.minhash_lsh_candidates(docs)
    n_nodes = (
        pairs.select(F.col("id_a").alias("id"))
        .unionByName(pairs.select(F.col("id_b").alias("id")))
        .distinct()
        .count()
    )
    assert sum(r.n_docs for r in rows) == n_nodes


def test_shingle_rows_rejects_distinct_with_positions(spark):
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="with_pos"):
        dedup.shingle_rows(df, with_pos=True)
    # explicit distinct=False stays the supported path
    assert dedup.shingle_rows(df, with_pos=True, distinct=False).count() == 2


def test_training_shard_plan_invariants(spark):
    """Shard placement: pos is 1..n contiguous per shard, cum_size is the
    running sum of sizes in pos order, assignment is deterministic
    across invocations, and every doc lands in exactly one shard."""
    from waddleml_spark.llmops.packing import training_shard_plan

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = training_shard_plan(docs, n_shards=4)
    rows = plan.collect()
    assert len(rows) == docs.count()
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    assert set(by_shard) <= set(range(4))
    sizes = {r.doc_id: r.n_chars for r in docs.select("doc_id", "n_chars").collect()}
    for shard, members in by_shard.items():
        members.sort(key=lambda r: r.pos)
        assert [m.pos for m in members] == list(range(1, len(members) + 1))
        run = 0
        for m in members:
            run += sizes[m.doc_id]
            assert m.cum_size == run, (shard, m.pos)
    again = {
        (r.doc_id, r.shard, r.pos)
        for r in training_shard_plan(docs, n_shards=4).collect()
    }
    assert again == {(r.doc_id, r.shard, r.pos) for r in rows}


def test_source_overlap_matrix_semantics(spark):
    """Hand corpus: doc pairs sharing a 20-word passage across sources
    produce exactly one matrix cell; a source repeating a passage
    internally produces its diagonal cell; unrelated docs none."""
    from waddleml_spark.llmops.dedup import source_overlap_matrix

    passage = " ".join(f"w{i}" for i in range(20))
    other = " ".join(f"x{i}" for i in range(20))
    rows = [
        (1, passage, "srcA"),          # shared passage, source A
        (2, passage, "srcB"),          # same passage, source B
        (3, other + " " + other, "srcC"),  # internal repeat in C
        (4, "lonely unique words here", "srcD"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        (r.source_a, r.source_b): r.n_shared_passages
        for r in source_overlap_matrix(df).collect()
    }
    assert got == {("srcA", "srcB"): 1, ("srcC", "srcC"): 1}


def test_dsir_scores_separate_target_from_rest(spark):
    """The importance weight must rank target-distribution docs above
    the rest: mean score of lang='en' docs > mean of non-en docs (the
    en bigram distribution IS the target multinomial), and every score
    is finite (add-one smoothing covers empty buckets)."""
    import math

    from pyspark.sql import functions as F

    from waddleml_spark.llmops.textstats import dsir_scores

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    scored = dsir_scores(docs, F.col("lang").eqNullSafe("en")).join(
        docs.select(F.col("doc_id").alias("id"), "lang"), "id"
    )
    rows = scored.collect()
    assert all(math.isfinite(r.importance) for r in rows)
    en = [r.importance for r in rows if r.lang == "en"]
    rest = [r.importance for r in rows if r.lang != "en"]
    assert en and rest
    assert sum(en) / len(en) > sum(rest) / len(rest)


def test_canonical_url_is_a_fixed_point_on_canonical_output(spark):
    """canonical(canonical(u)) == canonical(u) for the planted corpus:
    the canonical form must be stable under re-canonicalization (a
    crawler re-ingesting its own canonical URLs must not re-dedup them
    into new groups)."""
    from pyspark.sql import functions as F

    from waddleml_spark import catalog
    from waddleml_spark.llmops import urlnorm

    once = catalog.QUERIES["url_dedup_report"](
        spark, "/root/testdata/sf0.001"
    ).select(F.col("canonical_url").alias("url"))
    twice = urlnorm.with_canonical_url(once).collect()
    assert twice
    for r in twice:
        assert r.canonical_url == r.url, (r.url, r.canonical_url)


def test_hard_negative_topk_excludes_anchor_label(spark):
    """Every mined negative has a label DIFFERENT from its anchor's, rnk
    is 1..k contiguous per anchor, and similarities are non-increasing
    in rank (the kernel's deterministic ordering)."""
    from waddleml_spark.llmops.similarity import hard_negative_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    anchor_label = {
        r.vec_id: r.label
        for r in emb.filter("vec_id < 8").select("vec_id", "label").collect()
    }
    rows = hard_negative_topk(emb, n_queries=8, k=3).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        assert r.label != anchor_label[r.qid], (r.qid, r.vec_id)
        by_q.setdefault(r.qid, []).append(r)
    assert set(by_q) == set(anchor_label)
    for qid, members in by_q.items():
        members.sort(key=lambda r: r.rnk)
        assert [m.rnk for m in members] == [1, 2, 3]
        sims = [m.cos_sim for m in members]
        assert sims == sorted(sims, reverse=True)


def test_hard_negative_kernels_bit_identical(spark):
    """The r10 Arrow kernel (dimension-wise accumulation) and the JVM
    left-fold expression twin must agree to the BIT — ids, ranks, and
    raw cosine doubles (the blocked_cosine_pairs exactness contract;
    the oracle certifies whichever kernel the catalog ships)."""
    from waddleml_spark.llmops.similarity import hard_negative_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    key = lambda r: (r.qid, r.rnk)  # noqa: E731
    a = sorted(hard_negative_topk(emb, 8, 3, kernel="arrow").collect(), key=key)
    e = sorted(hard_negative_topk(emb, 8, 3, kernel="expr").collect(), key=key)
    assert [tuple(r) for r in a] == [tuple(r) for r in e]


def test_hard_negative_kernels_edge_parity(spark):
    """Synthetic-frame parity on the edges the clean sf0.001 fixture
    never exercises (r11 advisor find — and the test found a real bug:
    raw '/' made ANSI Spark CRASH on a zero divisor while the numpy
    kernel said NaN).  Contract now pinned: zero-norm vectors -> NULL
    cosine (DuckDB x/0 semantics via try_divide), ranked LAST on DESC
    in both engines but still eligible as top-k fillers; NULL labels
    exclude anchor AND corpus rows (SQL `label <> qlabel` three-valued
    semantics, mirrored by the Arrow kernel's notnull mask); exactly
    tied cosines break by id asc."""
    from waddleml_spark.llmops.similarity import hard_negative_topk

    v = [1.0, 2.0, -3.0, 0.5]
    w = [2.0, -1.0, 0.25, 4.0]
    zero = [0.0, 0.0, 0.0, 0.0]
    rows = [
        # anchors (vec_id < 3)
        (0, v, 1),          # normal anchor
        (1, w, None),       # NULL-label anchor -> no output rows
        (2, zero, 2),       # zero-norm anchor -> all-NULL cosines
        # corpus
        (3, v, 2),          # cos == 1 vs anchor 0 (self-direction)
        (4, v, 2),          # identical vector -> tied cosine, id tiebreak
        (5, [x * 2.0 for x in v], 3),   # same direction, scaled
        (6, w, 1),
        (7, zero, 3),       # zero-norm corpus row -> NULL vs every anchor
        (8, zero, 1),       # second zero-norm: NULL ties -> id tiebreak
        (9, [-x for x in v], 2),        # cos == -1
        (10, v, None),      # NULL label -> excluded everywhere
        (11, [0.1, 0.2, 0.3, 0.4], 2),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    key = lambda r: (r.qid, r.rnk)  # noqa: E731
    a = sorted(
        hard_negative_topk(emb, 3, 4, kernel="arrow").collect(), key=key
    )
    e = sorted(
        hard_negative_topk(emb, 3, 4, kernel="expr").collect(), key=key
    )

    def bits(r):
        import struct

        return tuple(
            struct.pack(">d", x).hex() if isinstance(x, float) else x
            for x in r
        )

    assert [bits(r) for r in a] == [bits(r) for r in e]
    qids = {r.qid for r in a}
    assert 1 not in qids          # NULL-label anchor emitted nothing
    assert {0, 2} <= qids
    got_ids = {r.vec_id for r in a}
    assert 10 not in got_ids      # NULL-label corpus row never surfaces
    # anchor 0: finite candidates win; the tied cos==1 trio (3,4,5)
    # breaks by id asc; the zero-norm row 7 (NULL cosine) is pushed
    # past the finite k and never surfaces
    q0 = [r for r in a if r.qid == 0]
    assert [r.vec_id for r in q0] == [3, 4, 5, 11]
    assert all(r.cos_sim is not None for r in q0)
    # anchor 2 has zero norm: every cosine is NULL -> the top-k is the
    # id-asc filler set with SQL NULL cos_sim on BOTH kernels (anchor
    # rows are corpus rows too, so id 0 is a valid negative here)
    q2 = [r for r in a if r.qid == 2]
    assert [r.vec_id for r in q2] == [0, 5, 6, 7]
    assert all(r.cos_sim is None for r in q2)


def test_write_training_shards_round_trip(spark, tmp_path):
    """The export writer: every shard directory reads back with exactly
    the manifest's row count, rows inside a shard come back in pos
    order, and re-running produces an identical manifest (determinism
    down to the files)."""
    from waddleml_spark.llmops.packing import write_training_shards

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "shards")
    manifest = write_training_shards(docs, path, n_shards=4)
    assert set(manifest["shards"]) == {str(i) for i in range(4)}
    back = spark.read.parquet(path)
    assert back.count() == docs.count()
    for shard, st in manifest["shards"].items():
        rows = (
            back.filter(f"shard = {shard}").select("pos").collect()
        )
        assert len(rows) == st["rows"]
        ps = sorted(r.pos for r in rows)
        assert ps == list(range(1, st["rows"] + 1))
    again = write_training_shards(docs, str(tmp_path / "shards2"), n_shards=4)
    assert again == manifest


def test_write_training_shards_preserves_upsample_repeats(spark, tmp_path):
    """An upsampled (repeat-carrying) frame exports one file row per
    PLAN row — repeats ride the plan side with distinct positions; the
    payload join must not square the multiplicity."""
    from waddleml_spark.llmops.packing import write_training_shards

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(50)
    doubled = docs.union(docs)  # every doc twice
    path = str(tmp_path / "shards")
    manifest = write_training_shards(doubled, path, n_shards=2)
    back = spark.read.parquet(path)
    assert back.count() == 100  # NOT 200 (the squared-join bug)
    assert sum(st["rows"] for st in manifest["shards"].values()) == 100
    # each doc appears exactly twice, at two distinct positions
    per_doc = {
        r.doc_id: r.n
        for r in back.groupBy("doc_id").count().withColumnRenamed("count", "n").collect()
    }
    assert set(per_doc.values()) == {2}


def test_write_training_shards_rejects_colliding_columns(spark, tmp_path):
    """Re-exporting a frame that already carries shard/pos (e.g. a prior
    export read back) must fail crisply, not with an ambiguous-column
    join error."""
    from waddleml_spark.llmops.packing import write_training_shards

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(10)
    prior = str(tmp_path / "prior")
    write_training_shards(docs, prior, n_shards=2)
    back = spark.read.parquet(prior)
    with pytest.raises(ValueError, match="shard"):
        write_training_shards(back, str(tmp_path / "again"), n_shards=2)


def test_write_training_shards_path_guard(spark, tmp_path):
    """The manifest path guard parses with urlsplit (r11 advisor find):
    single-slash URI forms ('hdfs:/x') and authority-carrying file URIs
    ('file://host/p') are rejected up front; 'file:' URIs with an empty
    authority round-trip with the manifest at the PARSED local path."""
    from waddleml_spark.llmops.packing import write_training_shards

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(10)
    for bad in ("hdfs:/x", "hdfs://nn/x", "s3a://bucket/x",
                "file://host/path"):
        with pytest.raises(ValueError):
            write_training_shards(docs, bad, n_shards=2)
    # single-slash and triple-slash file URIs are local: manifest lands
    # at the parsed filesystem path, not a relative 'file:...' dir
    for i, uri_path in enumerate(
        [f"file:{tmp_path}/u{0}", f"file:///{str(tmp_path).lstrip('/')}/u1"]
    ):
        write_training_shards(docs, uri_path, n_shards=2)
    assert (tmp_path / "u0" / "_shard_manifest.json").exists()
    assert (tmp_path / "u1" / "_shard_manifest.json").exists()
