"""Similarity-search operators: brute-force ground truth, LSH and IVF
recall."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from waddleml_spark.llmops import similarity
from waddleml_spark.session import read_table
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def emb(spark):
    return read_table(spark, SF_SMOKE, "embeddings").cache()


@pytest.fixture(scope="module")
def qvec(emb):
    row = emb.filter(F.col("vec_id") == 0).head()
    return [float(x) for x in row.embedding]


def _brute_topk(emb, qvec, k):
    rows = emb.filter(F.col("vec_id") != 0).collect()
    q = np.array(qvec)
    sims = []
    for r in rows:
        v = np.array([float(x) for x in r.embedding])
        sims.append((float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q))), r.vec_id))
    sims.sort(key=lambda t: (-t[0], t[1]))
    return [vid for _, vid in sims[:k]]


def test_cosine_topk_matches_numpy(spark, emb, qvec):
    got = [r.vec_id for r in similarity.cosine_topk(emb, qvec, k=10, exclude_id=0).collect()]
    assert got == _brute_topk(emb, qvec, 10)


def test_cosine_topk_batch_matches_expression_kernel(spark, emb):
    """The Arrow/numpy batch kernel must agree with the expression kernel
    per query — same ids in the same order, sims equal to float noise."""
    q_rows = emb.filter(F.col("vec_id") < 5).collect()
    queries = [(int(r.vec_id), [float(x) for x in r.embedding]) for r in q_rows]
    got = similarity.cosine_topk_batch(emb, queries, k=10).collect()
    by_qid: dict[int, list] = {}
    for r in got:
        by_qid.setdefault(r.qid, []).append(r)
    assert set(by_qid) == {q for q, _ in queries}
    for qid, vec in queries:
        exact = similarity.cosine_topk(emb, vec, k=10).collect()
        batch = by_qid[qid]
        assert [r.vec_id for r in batch] == [r.vec_id for r in exact]
        for b, e in zip(batch, exact):
            assert abs(b.cos_sim - e.cos_sim) < 1e-9


def test_cosine_topk_batch_query_chunking_is_invariant(spark, emb):
    """query_chunk bounds the per-batch sims matrix at serving scale;
    the selected ids and their order must not depend on it (sims may
    move a couple of ulps with BLAS blocking — ids are the contract)."""
    q_rows = emb.filter(F.col("vec_id") < 7).collect()
    queries = [(int(r.vec_id), [float(x) for x in r.embedding]) for r in q_rows]
    full = similarity.cosine_topk_batch(emb, queries, k=5).collect()
    tiny = similarity.cosine_topk_batch(emb, queries, k=5, query_chunk=2).collect()
    assert [(r.qid, r.vec_id) for r in full] == [(r.qid, r.vec_id) for r in tiny]
    for a, b in zip(full, tiny):
        assert abs(a.cos_sim - b.cos_sim) < 1e-12


def test_cosine_topk_batch_single_partition_and_small_corpus(spark, emb):
    """kk == len(ids) branch: corpus smaller than k per batch."""
    tiny = emb.filter(F.col("vec_id") < 7).repartition(4)
    row = emb.filter(F.col("vec_id") == 0).head()
    q = [(0, [float(x) for x in row.embedding])]
    got = similarity.cosine_topk_batch(tiny, q, k=10).collect()
    assert len(got) == 7  # every corpus row returned, k not reachable
    assert got[0].vec_id == 0 and got[0].cos_sim == pytest.approx(1.0)


def test_ivf_fit_is_sample_bounded(spark, emb):
    """The KMeans fit input must be O(fit_sample_rows), not corpus-sized,
    while assignment still covers every corpus row."""
    n = emb.count()
    model, with_cells = similarity.ivf_index(
        emb, n_cells=4, fit_sample_rows=max(10, n // 10)
    )
    assert with_cells.count() == n  # full-corpus assignment
    assert model.summary.numIter >= 1
    # the fit saw a bounded sample, not the whole corpus
    assert model.summary.predictions.count() < n


def test_ivf_topk_recall(spark, emb, qvec):
    model, with_cells = similarity.ivf_index(emb.filter(F.col("vec_id") != 0), n_cells=8)
    got = {r.vec_id for r in similarity.ivf_topk(with_cells, model, qvec, k=10, n_probe=3).collect()}
    truth = set(_brute_topk(emb, qvec, 10))
    # ANN: probing 3/8 cells must recover a solid fraction of the true top-10
    assert len(got & truth) >= 5
    assert len(got) == 10


def test_lsh_bucket_determinism(spark, emb, qvec):
    planes = np.random.RandomState(42).randn(4, len(qvec)).tolist()
    b1 = similarity.lsh_bucketize(emb, planes).select("vec_id", "lsh_bucket").collect()
    b2 = similarity.lsh_bucketize(emb, planes).select("vec_id", "lsh_bucket").collect()
    assert sorted(map(tuple, b1)) == sorted(map(tuple, b2))
    n_buckets = len({r.lsh_bucket for r in b1})
    assert 2 <= n_buckets <= 16


def test_distributed_covariance_matches_local_numpy(spark):
    import numpy as np
    from waddleml_spark.llmops.similarity import covariance_matrix
    from tests.conftest import SF_SMOKE

    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cov, n = covariance_matrix(e)
    x = np.stack(
        [np.array(r.embedding, dtype="float64") for r in e.collect()]
    )
    assert n == len(x)
    local = np.cov(x, rowvar=False, bias=True)
    assert np.allclose(cov, local, atol=1e-12)


def test_pca_variance_report_shape(spark):
    from waddleml_spark.llmops.similarity import pca_variance_report
    from tests.conftest import SF_SMOKE

    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    rows = pca_variance_report(e, top_k=5).collect()
    assert [r.component for r in rows] == [0, 1, 2, 3, 4]
    vals = [r.eigenvalue for r in rows]
    assert vals == sorted(vals, reverse=True) and vals[-1] >= 0
    assert 0 < sum(r.explained_ratio for r in rows) <= 1.0001


def test_ann_recall_report_monotone_in_probes(spark):
    import waddleml_spark.catalog as c
    from tests.conftest import SF_SMOKE

    rows = c.QUERIES["ann_recall_report"](spark, SF_SMOKE).collect()
    assert len(rows) == 3
    for r in rows:
        assert 0.0 <= r.recall_lsh <= 1.0
        # more probed cells can only add candidates → recall is monotone
        assert r.recall_ivf_p1 <= r.recall_ivf_p2 <= r.recall_ivf_p4


def test_domain_mix_smoothing_upsamples_tail_domains(spark):
    from waddleml_spark.llmops.similarity import domain_mix_report
    from waddleml_spark.session import read_table
    from tests.conftest import SF_SMOKE

    emb = read_table(spark, SF_SMOKE, "embeddings")
    rep = domain_mix_report(emb, n_domains=4).collect()
    assert len(rep) == 4
    assert abs(sum(r.natural_share for r in rep) - 1.0) < 1e-4
    assert abs(sum(r.smoothed_share for r in rep) - 1.0) < 1e-4
    smallest = min(rep, key=lambda r: r.n_docs)
    largest = max(rep, key=lambda r: r.n_docs)
    if smallest.n_docs < largest.n_docs:  # non-degenerate clustering
        assert smallest.sample_rate > 1.0 > largest.sample_rate
    # deterministic (fixed KMeans seed + floor rounding)
    again = domain_mix_report(emb, n_domains=4).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in rep]


def test_blocked_cosine_pairs_drops_duplicate_id_self_pairs(spark):
    # the oracle's `a.vec_id < b.vec_id` join excludes pairs of DIFFERENT
    # rows sharing one id value; the kernel's triangle must too (duplicate
    # ids hash to the same chunk, so the same-chunk guard covers them)
    from waddleml_spark.llmops.similarity import blocked_cosine_pairs

    rows = [
        (1, "x", [1.0, 0.0]),
        (1, "x", [1.0, 0.0]),   # duplicate id, identical vector (cos=1)
        (2, "x", [1.0, 0.1]),
        (9, "y", [0.0, 1.0]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<float>"
    )
    got = blocked_cosine_pairs(df, "label").collect()
    pairs = {(r.id_a, r.id_b) for r in got}
    assert (1, 1) not in pairs          # duplicate-id self pair excluded
    assert (1, 2) in pairs              # real pair survives (twice: one
    n12 = sum(1 for r in got if (r.id_a, r.id_b) == (1, 2))
    assert n12 == 2                     # row per duplicate-source row,
    assert all(r.id_a < r.id_b for r in got)  # exactly like the SQL join


def test_semantic_dedup_report_cell_accounting(spark):
    # SemDeDup composition: IVF cells -> in-cell cosine pairs -> CC ->
    # per-cell dup accounting.  Deterministic (fixed KMeans seed), duplicates
    # never exceed members, and the total dropped count equals the CC
    # non-keeper count computed independently.
    from waddleml_spark import catalog
    from waddleml_spark.llmops import dedup, similarity
    from waddleml_spark.session import read_table
    from tests.conftest import SF_SMOKE

    rep = catalog.QUERIES["semantic_dedup_report"](spark, SF_SMOKE).collect()
    assert len(rep) >= 1
    assert all(0 <= r.n_dup <= r.n_vecs for r in rep)
    emb = read_table(spark, SF_SMOKE, "embeddings")
    assert sum(r.n_vecs for r in rep) == emb.count()
    # independent recomputation of the drop count
    _, cells = similarity.ivf_index(emb, n_cells=8, id_col="vec_id")
    pairs = similarity.blocked_cosine_pairs(
        emb.join(cells.select("vec_id", "ivf_cell"), "vec_id"),
        "ivf_cell",
    )
    comp = dedup.connected_components(pairs)
    from pyspark.sql import functions as F

    n_drop = comp.filter(F.col("id") != F.col("component")).count()
    assert sum(r.n_dup for r in rep) == n_drop
    again = catalog.QUERIES["semantic_dedup_report"](spark, SF_SMOKE).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in rep]


def test_blocked_cosine_pairs_carries_input_id_type(spark):
    # the output id type must follow the INPUT id column (driver compare
    # is type-sensitive and testdata physical types drift between rounds;
    # generic callers may pass int32 or string ids) — never hardcoded long
    from waddleml_spark.llmops.similarity import blocked_cosine_pairs

    rows = [("a", "x", [1.0, 0.0]), ("b", "x", [1.0, 0.1])]
    df = spark.createDataFrame(
        rows, "vec_id string, label string, embedding array<float>"
    )
    out = blocked_cosine_pairs(df, "label")
    assert out.schema["id_a"].dataType.simpleString() == "string"
    got = {(r.id_a, r.id_b) for r in out.collect()}
    assert got == {("a", "b")}

    df32 = spark.createDataFrame(
        [(1, "x", [1.0, 0.0]), (2, "x", [1.0, 0.1])],
        "vec_id int, label string, embedding array<float>",
    )
    out32 = blocked_cosine_pairs(df32, "label")
    assert out32.schema["id_a"].dataType.simpleString() == "int"
    assert {(r.id_a, r.id_b) for r in out32.collect()} == {(1, 2)}


def _pq_fixture(spark):
    from waddleml_spark.llmops import similarity
    from waddleml_spark.session import read_table
    from tests.conftest import SF_SMOKE

    emb = read_table(spark, SF_SMOKE, "embeddings")
    cb = similarity.pq_train(emb, m_subspaces=8, n_codes=16, id_col="vec_id")
    return emb, cb


def test_pq_codes_deterministic_and_compact(spark):
    # codes must be identical across partition layouts (deterministic fit
    # sample + canonical sort before the k-means++ draws), values bounded
    # by n_codes, and the id column's type carried from the input
    from waddleml_spark.llmops import similarity

    emb, cb = _pq_fixture(spark)
    assert cb.shape == (8, 16, 8)  # d=64 -> 8 subspaces of 8 dims
    a = similarity.pq_encode(emb, cb).collect()
    b = similarity.pq_encode(emb.repartition(7), cb).collect()
    amap = {r.vec_id: (list(r.pq_code), r.vec_norm) for r in a}
    bmap = {r.vec_id: (list(r.pq_code), r.vec_norm) for r in b}
    assert amap == bmap
    assert all(len(c) == 8 and max(c) < 16 and min(c) >= 0
               for c, _ in amap.values())
    out = similarity.pq_encode(emb, cb)
    assert out.schema["vec_id"].dataType.simpleString() == "bigint"

    cb2 = similarity.pq_train(emb.repartition(13), m_subspaces=8,
                              n_codes=16, id_col="vec_id")
    import numpy as np
    assert np.array_equal(cb, cb2)  # layout cannot leak into codebooks


def test_pq_rerank_recall_monotone_and_exact_at_full_rerank(spark):
    # recall(rerank=R) is monotone in R (ADC-top-k subset of ADC-top-R),
    # and reranking the WHOLE corpus is exact recall 1.0 by construction
    from pyspark.sql import functions as F

    from waddleml_spark.llmops import similarity

    emb, cb = _pq_fixture(spark)
    codes = similarity.pq_encode(emb, cb)
    n = emb.count()
    for qid in (0, 1):
        q = [float(x) for x in
             emb.filter(F.col("vec_id") == qid).select("embedding").head()[0]]
        cand_c = codes.filter(F.col("vec_id") != qid)
        cand_e = emb.filter(F.col("vec_id") != qid)
        exact = {r.vec_id
                 for r in similarity.cosine_topk(cand_e, q, k=10).collect()}
        plain = {r.vec_id
                 for r in similarity.pq_topk(cand_c, cb, q, k=10).collect()}
        r40 = {r.vec_id
               for r in similarity.pq_topk(cand_c, cb, q, k=10, rerank=40,
                                           corpus=cand_e).collect()}
        rall = {r.vec_id
                for r in similarity.pq_topk(cand_c, cb, q, k=10, rerank=n,
                                            corpus=cand_e).collect()}
        assert len(r40 & exact) >= len(plain & exact)
        assert rall == exact


def test_pq_guards(spark):
    import pytest as _pytest

    from waddleml_spark.llmops import similarity

    emb, cb = _pq_fixture(spark)
    with _pytest.raises(ValueError, match="not divisible"):
        similarity.pq_train(emb, m_subspaces=7, id_col="vec_id")
    codes = similarity.pq_encode(emb, cb)
    with _pytest.raises(ValueError, match="query dim"):
        similarity.pq_topk(codes, cb, [1.0, 2.0], k=5)
    with _pytest.raises(ValueError, match="rerank requires"):
        similarity.pq_topk(codes, cb, [0.0] * 64, k=5, rerank=10)


def test_ivfpq_topk_equals_pq_within_probed_cells(spark):
    # IVF-PQ = PQ restricted to the probed cells: with n_probe = n_cells
    # the two must return identical rows; keep_cols must pass ivf_cell
    # through pq_encode untouched
    from pyspark.sql import functions as F

    from waddleml_spark.llmops import similarity

    emb, cb = _pq_fixture(spark)
    model, with_cells = similarity.ivf_index(emb, n_cells=4, id_col="vec_id")
    codes = similarity.pq_encode(with_cells, cb, keep_cols=("ivf_cell",))
    assert codes.schema["ivf_cell"].dataType.simpleString() == "int"
    cells = {r.vec_id: r.ivf_cell for r in with_cells.select("vec_id", "ivf_cell").collect()}
    assert {r.vec_id: r.ivf_cell for r in codes.select("vec_id", "ivf_cell").collect()} == cells

    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]]
    cand = codes.filter(F.col("vec_id") != 0)
    full = similarity.pq_topk(cand, cb, q, k=10).collect()
    allprobe = similarity.ivfpq_topk(cand, model, cb, q, k=10, n_probe=4).collect()
    assert [(r.vec_id, r.cos_sim) for r in full] == [
        (r.vec_id, r.cos_sim) for r in allprobe
    ]
    # with one probed cell every returned id lives in that single cell
    one = similarity.ivfpq_topk(cand, model, cb, q, k=10, n_probe=1).collect()
    got_cells = {cells[r.vec_id] for r in one}
    assert len(got_cells) == 1


def test_pq_train_degenerate_fallback_is_bounded_and_deterministic(spark):
    # template-heavy corpus, no id_col: the value-keyed Bernoulli draw
    # gives duplicate vectors ONE fate and collapses below n_codes, so
    # the guard takes the fallback branch.  Round-5 advice: that branch
    # used to collect() the FULL over-cap corpus (driver-OOM shape);
    # it must now fit on a hash-order top-N capped at fit_sample_rows,
    # and stay layout-independent
    import numpy as np

    rows = [([float(i % 3)] * 8,) for i in range(6000)]
    df = spark.createDataFrame(rows, "embedding array<double>")
    cb = similarity.pq_train(
        df, m_subspaces=2, n_codes=4, id_col=None, fit_sample_rows=100
    )
    assert cb.shape == (2, 4, 4)
    cb2 = similarity.pq_train(
        df.repartition(13), m_subspaces=2, n_codes=4,
        id_col=None, fit_sample_rows=100,
    )
    assert np.array_equal(cb, cb2)


def test_cosine_topk_lookup_matches_literal_path_and_empty_is_zero_rows(spark):
    # the in-plan query-vector join (round 7) must be bit-identical to
    # the literal-array path, and a missing id yields 0 rows (the SQL
    # twin's semantics) instead of an error
    emb = read_table(spark, SF_SMOKE, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()[1]]
    lit_rows = [
        (r.vec_id, r.cos_sim)
        for r in similarity.cosine_topk(emb, qvec, k=10, exclude_id=0).collect()
    ]
    lookup_rows = [
        (r.vec_id, r.cos_sim)
        for r in similarity.cosine_topk_lookup(emb, 0).collect()
    ]
    assert lit_rows == lookup_rows
    assert similarity.cosine_topk_lookup(emb, -999).count() == 0


def test_dispersion_by_label_hand_values_and_exclusions(spark):
    """Hand-computed mean pairwise cosine + every exclusion rule:
    NULL label / NULL vector / zero-norm vector dropped, single-vector
    group emits no row (no pairs), parallel vectors give exactly 1.0."""
    rows = [
        # label a: e1, e2, (1,1)/sqrt2 -> mean over 6 ordered pairs
        #   = 2*(0 + 1/sqrt2 + 1/sqrt2)/6 = sqrt(2)/3
        (1, [1.0, 0.0], "a"),
        (2, [0.0, 1.0], "a"),
        (3, [1.0, 1.0], "a"),
        # label b: one vector -> no pairs -> no output row
        (4, [5.0, 5.0], "b"),
        # label c: parallel vectors (+ a zero-norm one that must drop)
        (5, [3.0, 4.0], "c"),
        (6, [6.0, 8.0], "c"),
        (7, [0.0, 0.0], "c"),
        # excluded entirely
        (8, [1.0, 2.0], None),
        (9, None, "a"),
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label string"
    )
    out = {
        r.label: r
        for r in similarity.dispersion_by_label(df).collect()
    }
    assert set(out) == {"a", "c"}
    assert out["a"].n_vecs == 3
    assert out["a"].mean_pairwise_cos == pytest.approx(2.0**0.5 / 3, abs=1e-12)
    assert out["c"].n_vecs == 2  # zero-norm vector excluded
    assert out["c"].mean_pairwise_cos == pytest.approx(1.0, abs=1e-12)


def test_dispersion_by_label_plan_has_no_join(spark, emb):
    """The scale contract: a pairwise statistic with NO pairwise
    expansion — the executed plan must contain no join operator and
    exactly one Generate (the posexplode)."""
    plan = (
        similarity.dispersion_by_label(emb)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan
    assert plan.count("Generate") == 1


def test_dispersion_by_label_matches_bruteforce_pairwise(spark):
    """Adversarial check of the ‖Σv̂‖² identity: on random frames
    (negatives, tiny magnitudes, several labels) the linear-pass result
    must equal the brute-force O(n²) pairwise mean cosine."""
    rng = np.random.default_rng(11)
    rows, expect = [], {}
    vid = 0
    for label, n in (("a", 2), ("b", 7), ("c", 13)):
        vecs = rng.normal(scale=[0.001, 1.0, 50.0], size=(n, 3))
        for v in vecs:
            rows.append((vid, [float(x) for x in v], label))
            vid += 1
        unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        g = unit @ unit.T
        expect[label] = (g.sum() - np.trace(g)) / (n * (n - 1))
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label string"
    )
    out = {r.label: r for r in similarity.dispersion_by_label(df).collect()}
    assert set(out) == set(expect)
    for label, want in expect.items():
        assert out[label].mean_pairwise_cos == pytest.approx(want, abs=1e-9)


def test_cluster_dispersion_report_invariants(spark):
    """Cluster-grain redundancy ranking: every cell's mean pairwise
    cosine is a valid mean (|cos| <= 1), n_vecs >= 2 per emitted row,
    survivors bounded by the corpus, and the ranking is descending."""
    from waddleml_spark.catalog import QUERIES
    from tests.conftest import SF_SMOKE

    out = QUERIES["cluster_dispersion_report"](spark, SF_SMOKE).collect()
    total = read_table(spark, SF_SMOKE, "embeddings").count()
    assert out, "no cells with >= 2 vectors"
    assert sum(r.n_vecs for r in out) <= total
    coss = [r.mean_pairwise_cos for r in out]
    assert all(abs(c) <= 1 + 1e-9 for c in coss)
    assert all(r.n_vecs >= 2 for r in out)
    assert coss == sorted(coss, reverse=True)


def test_dispersion_and_norm_oracle_parity_on_poison_vectors(spark, tmp_path):
    """r11 review-cycle pins, run through the REAL oracle pair on a
    synthetic corpus holding every poison class: a NaN element (passes
    a bare nrm>0 under NaN-largest comparison on BOTH engines and
    would force the _r-floor-0 vs NaN red), a NULL element (DuckDB
    list_dot_product RAISES on it where Spark's fold yields NULL), an
    inf element, a zero vector, a NULL vector, and a NULL label."""
    import duckdb

    from waddleml_spark.catalog import ORACLE, QUERIES
    from waddleml_spark.testing import compare

    rows = [
        (1, [1.0, 0.0], "a"),
        (2, [0.0, 1.0], "a"),
        (3, [float("nan"), 1.0], "a"),
        (4, [1.0, None], "a"),
        (5, [float("inf"), 1.0], "a"),
        (6, [0.0, 0.0], "a"),
        (7, None, "a"),
        (8, [1.0, 2.0], None),
        (9, [3.0, 4.0], "b"),
        (10, [6.0, 8.0], "b"),
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label string"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM read_parquet("
        f"'{tmp_path}/embeddings.parquet/*.parquet')"
    )
    for name in ("embedding_dispersion_by_label", "embedding_norm_by_label"):
        ok, info = compare(
            QUERIES[name](spark, str(tmp_path)), con, ORACLE[name], name=name
        )
        assert ok, info
    # and the survivors are exactly the clean ones: a -> (1,2), b -> (9,10)
    out = {r.label: r for r in
           QUERIES["embedding_dispersion_by_label"](spark, str(tmp_path)).collect()}
    assert {(l, r.n_vecs) for l, r in out.items()} == {("a", 2), ("b", 2)}
