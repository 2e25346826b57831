"""LLM-pipeline catalog entries (SURVEY.md §2.12) over documents/embeddings.

Registered into catalog.QUERIES/ORACLE.  SQL-expressible ops carry DuckDB
twins; LSH/SimHash/ANN/multimodal-features are rows-only (driver records
the weaker check — by design, they are not ANSI-SQL-expressible).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from waddleml_spark.catalog import _r, _r_nan, _r_nan_sql, _r_sql, _register, t
from waddleml_spark.llmops import dedup, multimodal, pii, similarity, textstats
from waddleml_spark.llmops.textstats import lower_trim as _lt
from waddleml_spark.llmops import STAR_CAP
from waddleml_spark.llmops import WS_CHARS as _WSC
from waddleml_spark.llmops import WS_TRIM_RE as _WST
from waddleml_spark.llmops import WS_RE as _WS  # one whitespace class for Spark
# (Java regex) and the DuckDB oracles (RE2): the engines' `\\s` differ on \\x0b.

def _qvec(emb, vec_id: int) -> list:
    """Driver-side query-vector lookup (a parameter fetch, not a data
    loop) with a crisp error: .head() returns None on a missing id /
    empty corpus, which otherwise surfaces as an opaque TypeError."""
    row = emb.filter(F.col("vec_id") == vec_id).select("embedding").head()
    if row is None:
        raise ValueError(f"query vector vec_id={vec_id} not found in embeddings")
    return [float(x) for x in row[0]]


def _emb_dim(emb) -> int:
    """Embedding dimensionality probe with the same crisp empty guard."""
    row = emb.select("embedding").head()
    if row is None:
        raise ValueError("embeddings table is empty")
    return len(row[0])


def _word_pos_sql(cols: str = "") -> str:
    """One row per (doc, token, 1-based position) — the LINEAR building
    block every shingle oracle sits on.  The naive list-comprehension
    form (``list_transform(range(...), i -> ws[i:i+2])``) is QUADRATIC
    in document width: DuckDB evaluates the slice against the full
    captured list per element (measured 0.9/12.6/202 s at 5k/20k/80k
    words — a single 1 MB web document hangs it).  Zipped unnest +
    window lead is O(n) and value-identical.

    NULL text coalesces to '' BECAUSE SPARK DOES: every Spark tokenizer
    here coerces a NULL body to the ['']-token shape (probed:
    dedup.shingle_rows yields the one gram '' for NULL and for ''),
    while unnesting a NULL list would emit zero rows and silently drop
    the document from passage/signature grains (test_wide_row.py pins a
    NULL-text doc through every text pairing)."""
    return rf"""SELECT doc_id{cols}, unnest(ws) AS wd,
               unnest(range(1, len(ws) + 1)) AS i
        FROM (SELECT doc_id{cols},
                     str_split_regex(regexp_replace(lower(coalesce(text, '')), '{_WST}', '', 'g'), '{_WS}') AS ws
              FROM documents)"""


def _trigram_rows_sql(cols: str = "") -> str:
    """(doc_id[, cols], g): word trigrams, NO partial shingles (docs
    under 3 tokens emit nothing) — g is NULL past position len-2, so
    consumers filter ``g IS NOT NULL``.  Linear (see _word_pos_sql)."""
    return rf"""SELECT doc_id{cols},
           wd || ' ' || lead(wd, 1) OVER (PARTITION BY doc_id ORDER BY i)
              || ' ' || lead(wd, 2) OVER (PARTITION BY doc_id ORDER BY i)
               AS g
        FROM ({_word_pos_sql(cols)})"""


def _trigram_rows_clamped_sql(cols: str = "") -> str:
    """(doc_id[, cols], i, g): the slice-CLAMPED shingle semantics of
    dedup.shingle_rows — docs under 3 tokens shingle to their whole text
    (position 1 emits the 1- or 2-token join).  Linear."""
    return rf"""SELECT doc_id{cols}, i,
           CASE WHEN w2 IS NOT NULL THEN wd || ' ' || w1 || ' ' || w2
                WHEN i = 1 THEN
                    CASE WHEN w1 IS NULL THEN wd ELSE wd || ' ' || w1 END
           END AS g
        FROM (SELECT doc_id{cols}, i, wd,
                     lead(wd, 1) OVER (PARTITION BY doc_id ORDER BY i) AS w1,
                     lead(wd, 2) OVER (PARTITION BY doc_id ORDER BY i) AS w2
              FROM ({_word_pos_sql(cols)}))"""


def _md5_be32_sql(col: str) -> str:
    """DuckDB twin of Spark's ``conv(substring(md5(x),1,8),16,10)`` —
    the big-endian first 4 md5 bytes.  ``md5_number_upper`` is the
    LITTLE-endian uint64 of the first 8 bytes, so the swizzle
    reassembles bytes 0..3 big-endianly (same trick as the simhash /
    minhash oracles)."""
    return (
        f"CAST(((md5_number_upper({col}) & 255) * 16777216)"
        f" + (((md5_number_upper({col}) >> 8) & 255) * 65536)"
        f" + (((md5_number_upper({col}) >> 16) & 255) * 256)"
        f" + ((md5_number_upper({col}) >> 24) & 255) AS BIGINT)"
    )


def _minhash_block_sql(d_cte: str) -> str:
    """Shared CTE chain for the single-permutation-MinHash-blocked pair
    demos — the SQL twin of dedup.minhash_block_candidates.  Expects a
    CTE named ``d`` with (doc_id, ws [, ...]) and emits ``kept``
    (doc_id, bkey) with the mega-bucket HAVING guard applied."""
    return f"""d AS (
        {d_cte}
    ), k AS (
        SELECT doc_id, min({_md5_be32_sql('tok')}) AS bkey
        FROM (SELECT doc_id, unnest(ws) AS tok FROM d)
        GROUP BY doc_id
    ), ok AS (
        SELECT bkey FROM k GROUP BY bkey
        HAVING COUNT(*) BETWEEN 2 AND {STAR_CAP}
    ), kept AS (
        SELECT k.doc_id, k.bkey FROM k JOIN ok USING (bkey)
    )"""


def _split_assign(key):
    """Deterministic 90/5/5 split from the first md5 hex byte of ``key``
    (<= 'e5' train, <= 'f2' val, else test) — the ONE definition of the
    cut points, shared by dataset_split_report, leakage_safe_split and
    corpus_pipeline_report so a retune can never desync them (their
    docstrings promise the same cut)."""
    cut = F.substring(F.md5(key.cast("string")), 1, 2)
    return (
        F.when(cut <= "e5", "train").when(cut <= "f2", "val").otherwise("test")
    )


# --- exact dedup -----------------------------------------------------------


@_register(
    "exact_dedup_docs",
    rf"""
    SELECT md5(regexp_replace(regexp_replace(lower(text), '{_WST}', '', 'g'), '{_WS}', ' ', 'g')) AS fp,
           min(doc_id) AS keeper_id, count(*) AS n_dups
    FROM documents
    GROUP BY fp
    """,
)
def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(t(spark, sf_dir, "documents"))


@_register(
    "fingerprint_docs",
    rf"""
    SELECT doc_id,
           md5(regexp_replace(regexp_replace(lower(text), '{_WST}', '', 'g'), '{_WS}', ' ', 'g')) AS fp
    FROM documents
    """,
)
def fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", textstats.fingerprint(F.col("text")).alias("fp"))


# --- text analysis ---------------------------------------------------------


_WORDS_SQL = "avg(len(regexp_extract_all(text, '[A-Za-z0-9]+')))"
_TOKENS_SQL = f"avg(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9{_WSC}]')))"


@_register(
    "text_quality_by_lang",
    f"""
    SELECT lang, count(*) AS n_docs,
           {_r_sql(_WORDS_SQL, 4)} AS avg_words,
           {_r_sql(_TOKENS_SQL, 4)} AS avg_tokens,
           {_r_sql('avg(length(text))', 4)} AS avg_chars
    FROM documents GROUP BY lang
    """,
)
def text_quality_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = textstats.quality_features(t(spark, sf_dir, "documents"))
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        _r(F.avg("q_words"), 4).alias("avg_words"),
        _r(F.avg("q_tokens"), 4).alias("avg_tokens"),
        _r(F.avg("q_chars"), 4).alias("avg_chars"),
    )


@_register(
    "token_totals_by_source",
    rf"""
    SELECT source,
           CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9{_WSC}]'))) AS BIGINT) AS total_tokens,
           CAST(sum(len(regexp_extract_all(text, '[A-Za-z0-9]+'))) AS BIGINT) AS total_words
    FROM documents GROUP BY source
    """,
)
def token_totals_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.sum(textstats.token_count_bpe(F.col("text"))).alias("total_tokens"),
        F.sum(textstats.word_count(F.col("text"))).alias("total_words"),
    )


def _lang_score_sql(markers: list[str]) -> str:
    pat = "\\b(" + "|".join(markers) + ")\\b"
    return f"len(regexp_extract_all(lower(text), '{pat}'))"


_LANGS = sorted(textstats.LANG_MARKERS)  # de, en, es, fr, zh


@_register(
    "lang_pred_matrix",
    """
    WITH scored AS (
        SELECT lang, """
    + ", ".join(
        f"{_lang_score_sql(textstats.LANG_MARKERS[c])} AS s_{c}" for c in _LANGS
    )
    + """,
        greatest("""
    + ", ".join(f"{_lang_score_sql(textstats.LANG_MARKERS[c])}" for c in _LANGS)
    + """) AS m
        FROM documents
    )
    SELECT lang,
           CASE WHEN m = 0 THEN NULL
                WHEN s_zh = m THEN 'zh' WHEN s_fr = m THEN 'fr'
                WHEN s_es = m THEN 'es' WHEN s_en = m THEN 'en'
                ELSE 'de' END AS lang_pred,
           count(*) AS n
    FROM scored GROUP BY lang, lang_pred
    """,
)
def lang_pred_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: heuristic marker-word argmax vs the
    labeled lang column.  Tie-break = highest language code (array_max on
    (score, lang) structs; mirrored by the CASE order in the oracle)."""
    from waddleml_spark.session import fan_out

    # fan_out before the 5-language marker-regex pass (r11 opt round):
    # serial on a single-row-group scan; 0.406 -> 0.232 s interleaved
    # min-of-5 at 0.02% steal
    d = textstats.lang_id(
        fan_out(t(spark, sf_dir, "documents").select("lang", "text"))
    )
    return d.groupBy("lang", "lang_pred").agg(F.count("*").alias("n"))


# --- similarity ------------------------------------------------------------

_COS_SQL = (
    "list_dot_product(ed, qd) / "
    "(sqrt(list_dot_product(ed, ed)) * sqrt(list_dot_product(qd, qd)))"
)


@_register(
    "cosine_topk_q0",
    f"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qd FROM embeddings WHERE vec_id = 0),
         c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings WHERE vec_id <> 0)
    SELECT vec_id, {_r_sql(_COS_SQL, 6)} AS cos_sim
    FROM c, q
    ORDER BY {_COS_SQL} DESC, vec_id
    LIMIT 10
    """,
)
def cosine_topk_q0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k vs the vec_id=0 embedding (the ANN baseline).

    The query vector is resolved IN-PLAN (1-row broadcast cross join —
    the oracle's ``FROM c, q``): no driver-side lookup job, and an empty
    corpus yields 0 rows exactly like the SQL twin (round-7; previously
    a driver-side ``.head()`` fetch that needed its own empty-input
    carve-out)."""
    emb = t(spark, sf_dir, "embeddings")
    out = similarity.cosine_topk_lookup(emb, 0)
    return out.select("vec_id", _r(F.col("cos_sim"), 6).alias("cos_sim"))


@_register("cosine_topk_batch8", None)
def cosine_topk_batch8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched brute-force cosine top-k: 8 query vectors, ONE corpus scan
    (llmops.similarity.cosine_topk_batch — Arrow-batched numpy matmul,
    per-batch local top-k, O(k·Q) shuffle).  Rows-only: the BLAS
    summation order differs from SQL in the last ulp, so an exact value
    hash cannot pair it; the equivalence test
    (tests/test_similarity.py::test_cosine_topk_batch_matches_expression_kernel)
    pins it to the oracle-paired expression kernel.  Measured 21.8×
    faster than the per-query expression loop at 100 queries / sf0.1."""
    emb = t(spark, sf_dir, "embeddings")
    q_rows = emb.filter(F.col("vec_id") < 8).collect()
    queries = [(int(r.vec_id), [float(x) for x in r.embedding]) for r in q_rows]
    out = similarity.cosine_topk_batch(emb, queries, k=10)
    return out.select("qid", "vec_id", _r(F.col("cos_sim"), 6).alias("cos_sim"))


@_register(
    "embedding_norm_by_label",
    f"""
    SELECT label, count(*) AS n,
           {_r_nan_sql('avg(CASE WHEN len(list_filter(embedding, x -> x IS NULL)) > 0 THEN NULL ELSE sqrt(list_dot_product(list_filter(CAST(embedding AS DOUBLE[]), x -> x IS NOT NULL), list_filter(CAST(embedding AS DOUBLE[]), x -> x IS NOT NULL))) END)', 4)}
               AS avg_norm
    FROM embeddings GROUP BY label
    """,
)
def embedding_norm_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean vector norm (normalization drift audit).  Values
    unchanged on any NULL-element-free finite corpus; two latent
    cross-engine traps closed in r11's review cycle: (a) the oracle
    norms NULL-element arrays to NULL via CASE with
    list_filter-stripped ARGUMENTS — list_dot_product RAISES on NULL
    elements where Spark's fold yields a NULL norm, and DuckDB 1.0
    evaluates it EAGERLY even behind CASE/WHERE, so only argument
    sanitization guards it; (b) avg_norm rounds through _r_nan so a
    NaN-carrying corpus surfaces as NaN on BOTH engines instead of the
    Spark-floor-NaN→0 vs DuckDB-NaN red (_r is finite-domain only —
    the CLAUDE.md rule)."""
    emb = t(spark, sf_dir, "embeddings")
    nrm = similarity.norm(similarity.as_double(F.col("embedding")))
    return emb.groupBy("label").agg(
        F.count("*").alias("n"), _r_nan(F.avg(nrm), 4).alias("avg_norm")
    )


@_register(
    "embedding_dispersion_by_label",
    f"""
    WITH v0 AS (
        SELECT label, CAST(embedding AS DOUBLE[]) AS ed
        FROM embeddings
        WHERE embedding IS NOT NULL AND label IS NOT NULL
    ), v AS (
        SELECT label, ed,
               CASE WHEN len(list_filter(ed, x -> x IS NULL)) > 0
                    THEN NULL
                    ELSE sqrt(list_dot_product(
                             list_filter(ed, x -> x IS NOT NULL),
                             list_filter(ed, x -> x IS NOT NULL))) END
                   AS nrm
        FROM v0
    ), f AS (
        SELECT * FROM v WHERE nrm > 0 AND nrm < 'infinity'::DOUBLE
    ), x AS (
        SELECT label, generate_subscripts(ed, 1) AS pos,
               unnest(ed) / nrm AS val
        FROM f
    ), sp AS (
        SELECT label, pos, sum(val) AS s, sum(val * val) AS q,
               count(*) AS cnt
        FROM x GROUP BY label, pos
    ), sl AS (
        SELECT label, sum(s * s) AS ss, sum(q) AS sq, max(cnt) AS n_vecs
        FROM sp GROUP BY label
    )
    SELECT label, n_vecs,
           {_r_sql('(ss - sq) / (CAST(n_vecs AS DOUBLE) * (n_vecs - 1))', 6)}
               AS mean_pairwise_cos
    FROM sl WHERE n_vecs >= 2 ORDER BY label
    """,
)
def embedding_dispersion_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label semantic-diversity audit: mean pairwise cosine with no
    pairwise join (similarity.dispersion_by_label — the ‖Σv̂‖² identity
    turns an O(n²) statistic into one linear pass + a |labels|·d-row
    shuffle).  A label near 1.0 is redundant (candidate for heavier
    dedup / downsampling in the mixture); near 0 is diverse.  The
    engines' per-dim float sums differ in the last ulp by order, so the
    mean is floor-rounded to 6 digits on both sides (the _r contract);
    n_vecs and the exclusion rules (NULL / NULL-element / zero-norm /
    non-finite vectors, n >= 2) are exact.  The oracle norms a
    NULL-element array to NULL via CASE with list_filter-stripped
    ARGUMENTS — DuckDB 1.0 evaluates list_dot_product EAGERLY even
    behind CASE/WHERE (it raises on NULL elements where Spark's fold
    yields a NULL norm), so the guard must sanitize the argument, not
    the row; plus the nrm < inf finite guard — both review-cycle
    finds.  Reference scope: briangu/waddleml has no embedding ops —
    extension surface per the brief (training-data pipeline family)."""
    emb = t(spark, sf_dir, "embeddings")
    rep = similarity.dispersion_by_label(emb)
    return rep.select(
        "label", "n_vecs", _r(F.col("mean_pairwise_cos"), 6).alias("mean_pairwise_cos")
    ).orderBy("label")


@_register("cluster_dispersion_report", None)
def cluster_dispersion_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-grain redundancy ranking — the D4-style prioritization
    signal (Tirumala et al. 2023, public recipe: dedup/downsample the
    most self-similar clusters first): IVF cells over the corpus, then
    mean pairwise cosine per cell via the no-pairwise-expansion
    identity (similarity.dispersion_by_label).  Most-redundant cell
    first — the order a budgeted dedup pass should visit them.

    Rows-only: KMeans is not SQL-expressible.  Cell count scales with
    the corpus (the semantic_dedup_report n//2048 rule — fixed cells
    were that function's r11 scale bug); the dispersion pass is
    O(n·d) + a |cells|·d-row shuffle regardless of cell count, so the
    whole report is fit-sample-bounded + two linear passes.
    Reference scope: briangu/waddleml has no embedding ops — extension
    surface per the brief."""
    emb = t(spark, sf_dir, "embeddings")
    _, cells = similarity.ivf_index(emb, n_cells=None, id_col="vec_id")
    rep = similarity.dispersion_by_label(cells, label_col="ivf_cell")
    return rep.select(
        F.col("label").alias("ivf_cell"), "n_vecs", "mean_pairwise_cos"
    ).orderBy(F.desc("mean_pairwise_cos"), "ivf_cell")


_JACCARD_SRC0_D = rf"""SELECT doc_id,
               list_distinct(str_split_regex(regexp_replace(lower(text), '{_WST}', '', 'g'), '{_WS}')) AS ws
        FROM documents WHERE source = 'src0'"""


@_register(
    "jaccard_word_pairs_src0",
    rf"""
    WITH {_minhash_block_sql(_JACCARD_SRC0_D)}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           floor((CAST(len(list_intersect(da.ws, db.ws)) AS DOUBLE)
                  / (len(da.ws) + len(db.ws) - len(list_intersect(da.ws, db.ws))))
                 * 1000000 + 0.5)
               / 1000000 AS jac
    FROM kept a JOIN kept b ON a.bkey = b.bkey AND a.doc_id < b.doc_id
    JOIN d da ON da.doc_id = a.doc_id
    JOIN d db ON db.doc_id = b.doc_id
    WHERE len(list_intersect(da.ws, db.ws)) * 2
          >= len(da.ws) + len(db.ws) - len(list_intersect(da.ws, db.ws))
    """,
)
def jaccard_word_pairs_src0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-set Jaccard (≥0.5 threshold) over single-permutation-
    MinHash candidate blocks: the n-gram Jaccard verifier fed by the
    cheapest real LSH (dedup.minhash_block_candidates — min md5-BE32
    word hash, 64-cap mega-bucket guard mirrored in the oracle HAVING).
    The round-5 all-pairs-within-src0 shape was a certified quadratic
    plan (BroadcastNestedLoopJoin); this is the same verify arithmetic
    bucket-bounded the way production feeds LSH candidates — candidate
    count O(n·bucket), two equi-join hydrations, no cross join."""
    d = (
        t(spark, sf_dir, "documents")
        .filter(F.col("source") == "src0")
        .select(
            "doc_id",
            F.array_distinct(
                F.split(_lt(F.col("text")), _WS)
            ).alias("ws"),
        )
    )
    cand = dedup.minhash_block_candidates(d, "ws", "doc_id")
    a, b = d.alias("a"), d.alias("b")
    inter = F.size(F.array_intersect(F.col("a.ws"), F.col("b.ws")))
    union = F.size(F.col("a.ws")) + F.size(F.col("b.ws")) - inter
    return (
        cand.join(a, cand.id_a == F.col("a.doc_id"))
        .join(b, cand.id_b == F.col("b.doc_id"))
        .filter(inter * 2 >= union)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            _r(inter.cast("double") / union.cast("double"), 6).alias("jac"),
        )
    )


_COS_PAIR_SQL = (
    "list_dot_product(a.ed, b.ed) / "
    "(sqrt(list_dot_product(a.ed, a.ed)) * sqrt(list_dot_product(b.ed, b.ed)))"
)


@_register(
    "embedding_neardup_pairs",
    f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_r_nan_sql(_COS_PAIR_SQL, 6)} AS cos_sim
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_COS_PAIR_SQL} >= 0.3
    """,
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: exact pairs within a blocking key (label)
    with cos >= 0.3 (chosen so sf0.01 yields non-trivial rows).  The
    blocking key bounds the quadratic term exactly the way LSH buckets do
    at scale (swap label for lsh_bucket / ivf_cell on an unlabeled corpus —
    ann_lsh_topk_q0 / ivf_ann_topk_q0 are that path).

    One shuffle on the blocking key, then the quadratic work runs INSIDE
    a per-block Arrow kernel (similarity.blocked_cosine_pairs) with
    dimension-ordered accumulation — bit-exact vs the oracle's sequential
    list_dot_product, but numpy-vectorized instead of an interpreted
    per-pair HOF (the round-4 review's cost center; a flat unrolled
    expression measured even worse — it knocked the join stage out of
    codegen).  Only surviving pairs leave the kernel."""
    e = t(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    pairs = similarity.blocked_cosine_pairs(
        e, "label", id_col="vec_id", vec_col="embedding"
    )
    # _r_nan, not _r: the kernel deliberately passes zero-norm NaN pairs
    # through the threshold (both engines order NaN above every value),
    # and Spark's plain _r would collapse NaN to 0.0 while DuckDB keeps
    # NaN — a latent red the rounding-formula fuzz exposed
    return pairs.select(
        "id_a", "id_b", _r_nan(F.col("cos_raw"), 6).alias("cos_sim")
    )


# --- multimodal ------------------------------------------------------------


@_register(
    "media_payload_stats",
    """
    SELECT modality, count(*) AS n,
           CAST(sum(octet_length(payload)) AS BIGINT) AS total_bytes,
           min(octet_length(payload)) AS min_bytes,
           max(octet_length(payload)) AS max_bytes
    FROM (SELECT 'image' AS modality, encode(text) AS payload FROM documents)
    GROUP BY modality
    """,
)
def media_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = multimodal.docs_as_media(t(spark, sf_dir, "documents"))
    return multimodal.payload_stats(media)


# --- rows-only ops (not ANSI-SQL-expressible; driver runs weaker check) ----


@_register("minhash_lsh_candidates", None)
def minhash_lsh_candidates_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_candidates(
        t(spark, sf_dir, "documents")
    ).orderBy("id_a", "id_b")


@_register("simhash_signatures", None)
def simhash_signatures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_signatures(t(spark, sf_dir, "documents")).orderBy("doc_id")


@_register("ann_lsh_topk_q0", None)
def ann_lsh_topk_q0(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    qvec = _qvec(emb, 0)
    # 4 planes → 16 buckets: sized so buckets hold tens of vectors at the
    # test SFs; at corpus scale raise planes with corpus size (bucket ≈ n/2^p)
    planes = np.random.RandomState(42).randn(4, len(qvec)).tolist()
    return similarity.ann_topk_lsh(
        emb.filter(F.col("vec_id") != 0), qvec, planes
    )


@_register("winnowing_overlap_pairs", None)
def winnowing_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-overlap detection: documents sharing ≥3 winnowing
    fingerprints (MOSS-style passage matching, not whole-doc identity).
    explode → bucket-group → in-bucket pair expansion (same shape as the
    MinHash band join — one shuffle on the fingerprint).

    r10 rebuild: this previously exploded a per-row HOF array of
    winnowing fingerprints, whose nested interpreted HOFs were QUADRATIC
    per document (the window lambda re-evaluated the grams transform
    per window — no CSE; the 100× pass hung past 570 s).
    The fingerprints now come from the LINEAR positioned construction
    (codegen'd generator gram rows + one doc-grain sliding window-min,
    xxhash64 gram hashes — dedup.winnowing32_overlap_pairs' shape with
    this query's production hash), measured seconds at 100×; the
    bucket tail is unchanged."""
    from pyspark.sql import Window

    from waddleml_spark.session import fan_out

    w = 4
    d = fan_out(t(spark, sf_dir, "documents").select("doc_id", "text"))
    rows = dedup.shingle_rows(
        d, "text", "doc_id", distinct=False, with_pos=True
    ).select("id", "__i", "__ng", F.xxhash64(F.col("__s")).alias("__h"))
    win = Window.partitionBy("id").orderBy("__i").rowsBetween(0, w - 1)
    fps = (
        rows.withColumn("fp", F.min("__h").over(win))
        .filter(F.col("__i") < F.greatest(F.col("__ng") - (w - 1), F.lit(1)))
        .select(F.col("id").alias("doc_id"), "fp")
        .distinct()
    )
    buckets = (
        fps.groupBy("fp")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= 50))
    )
    pairs = dedup._bucket_pairs(buckets, distinct=False)
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared_fps"))
        .filter(F.col("shared_fps") >= 3)
        .orderBy("id_a", "id_b")
    )


@_register("ivf_ann_topk_q0", None)
def ivf_ann_topk_q0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: KMeans cells (deterministic seed), probe nearest 3 of 8."""
    emb = t(spark, sf_dir, "embeddings")
    qvec = _qvec(emb, 0)
    model, with_cells = similarity.ivf_index(
        emb.filter(F.col("vec_id") != 0), n_cells=8, id_col="vec_id"
    )
    return similarity.ivf_topk(with_cells, model, qvec, k=10, n_probe=3)


@_register("semantic_dedup_report", None)
def semantic_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (public recipe: Abbas et al. 2023 —
    cluster embeddings, drop near-identical neighbors within clusters).

    This is the SCALE PATH for ``embedding_neardup_pairs``: the blocking
    key here is the IVF cell, whose cardinality GROWS with the corpus,
    so block size — the term the pair kernel is quadratic in — stays
    bounded no matter how large the corpus gets (the label-blocked twin
    is the measured 240×-at-100× stress case in SCALING.md).  Pipeline:
    sample-bounded KMeans cells (ivf_index) → chunk-pair cosine kernel
    within cells (blocked_cosine_pairs, oracle-grade exact dots) →
    connected components (pointer jumping) → keep the min-id member per
    duplicate group.  Rows-only: KMeans is not SQL-expressible.

    THE CELL COUNT MUST SCALE WITH THE CORPUS (r11 sweep find): a
    hard-coded n_cells=8 silently broke this function's own contract —
    at 100× each cell held ~250 k vectors and the quadratic pair term
    ran 8.6 MINUTES; sizing cells to ~2048 vectors (floor 8) restores
    bounded block size and the measured wall (SCALING.md r11 sweep).
    The rule now lives in ivf_index(n_cells=None) itself — the r11
    review moved it there so every consumer gets the growing blocking
    key by default, reusing the size probe's count.

    Threshold 0.3 suits the synthetic near-random fixture embeddings;
    real corpora use ~0.9+ (the SemDeDup paper's epsilon regime).

    One row per IVF cell: (ivf_cell, n_vecs, n_dup, dup_frac), ordered.
    """
    from waddleml_spark.llmops import rotate_persist

    emb = t(spark, sf_dir, "embeddings")
    _, cells = similarity.ivf_index(emb, n_cells=None, id_col="vec_id")
    # three consumers (pair kernel, per-cell counts, dup hydration) and
    # Catalyst does not dedupe common subtrees — pin the cell assignment
    cells = rotate_persist(
        "catalog.semantic_dedup.cells", cells.select("vec_id", "ivf_cell")
    )
    pairs = similarity.blocked_cosine_pairs(
        emb.join(cells, "vec_id"), "ivf_cell"
    )
    comp = dedup.connected_components(pairs)
    dups = comp.filter(F.col("id") != F.col("component")).join(
        cells.select(F.col("vec_id").alias("id"), "ivf_cell"), "id"
    )
    per_cell = cells.groupBy("ivf_cell").agg(F.count("*").alias("n_vecs"))
    dup_cell = dups.groupBy("ivf_cell").agg(F.count("*").alias("n_dup"))
    return (
        per_cell.join(dup_cell, "ivf_cell", "left")
        .select(
            "ivf_cell",
            "n_vecs",
            F.coalesce(F.col("n_dup"), F.lit(0)).alias("n_dup"),
            _r(
                F.coalesce(F.col("n_dup"), F.lit(0)) / F.col("n_vecs"), 4
            ).alias("dup_frac"),
        )
        .orderBy("ivf_cell")
    )


@_register("multimodal_features", None)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode end to end (rows-only): documents become binary-PPM
    payloads JVM-side (multimodal.docs_as_ppm_media), and the Arrow-batch
    decode kernel (decode_ppm — numpy, no codec libs) computes genuine
    per-channel pixel statistics; decoder column reads 'ppm', never
    'stub'.  Compressed codecs remain import-gated."""
    media = multimodal.docs_as_ppm_media(t(spark, sf_dir, "documents"))
    return multimodal.extract_features(media).orderBy("media_id")


@_register("media_phash_neardup", None)
def media_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup by perceptual hash (rows-only: the aHash block-mean
    kernel is numpy, not SQL): documents become real binary-PPM payloads
    (docs_as_ppm_media), image_phash decodes + average-hashes each in an
    Arrow batch task, and phash_neardup_pairs bands the 64-bit hash for
    a bucketed self-join with exact bit_count hamming verify — the
    pixel-space analog of simhash32_band_pairs, and the same scale
    shape: payloads never shuffle, only 8-byte hashes and pair ids."""
    media = multimodal.docs_as_ppm_media(t(spark, sf_dir, "documents"))
    ph = multimodal.image_phash(media)
    return multimodal.phash_neardup_pairs(ph, max_dist=6).orderBy(
        "id_a", "id_b"
    )


@_register("audio_fp_neardup", None)
def audio_fp_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup by spectral fingerprint (rows-only: FFT kernel is
    numpy): documents become real PCM16 WAV payloads (docs_as_wav_media),
    audio_fingerprint FFT-hashes each Arrow batch, and the same banded
    hamming join as images generates verified pairs — near-dup texts
    produce near-identical sample streams, so the fixture has true
    positives."""
    media = multimodal.docs_as_wav_media(t(spark, sf_dir, "documents"))
    fp = multimodal.audio_fingerprint(media)
    return multimodal.phash_neardup_pairs(fp, max_dist=6).orderBy(
        "id_a", "id_b"
    )


@_register("learned_filter_report", None)
def learned_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned corpus-filter distillation (rows-only: MLlib training is
    not SQL): the lang-ID-confidence teacher (CCNet-style: does the
    marker-regex bank identify a language at all) labels docs, a
    LogisticRegression student over cheap surface+marker features fits
    on a deterministic 80% hash split (distributed L-BFGS: executors
    see features, the driver sees one coefficient vector), and the
    held-out AUC lands in a one-row report — teacher swappable for
    bigram-LM perplexity on a real crawl (llmops/quality_model.py)."""
    from waddleml_spark.llmops import quality_model

    return quality_model.learned_filter_report(spark, sf_dir)


@_register("domain_mix_report", None)
def domain_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic data-mixing report (rows-only: KMeans is iterative):
    embeddings cluster into domains, each reported with its natural
    share, alpha=0.5 temperature-smoothed share, and the per-row
    sample_rate a resampler would apply — tail domains get rate > 1,
    dominant domains < 1 (llmops/similarity.py, XLM-R/mT5 recipe)."""
    return similarity.domain_mix_report(
        t(spark, sf_dir, "embeddings"), n_domains=8
    )


@_register("bpe_train_report", None)
def bpe_train_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (rows-only: an iterative
    algorithm, not SQL): one corpus-scale word-frequency pass, then 12
    merge iterations on the VOCAB table (pair counts weighted by word
    freq → deterministic argmax → Arrow-batched merge application) —
    the Sennrich/HF trainer shape where per-iteration cost is
    vocabulary-scale, never corpus-scale (llmops/bpe.py).  One row per
    learned merge with corpus tokens-per-word compression evidence."""
    from waddleml_spark.llmops import bpe

    return bpe.bpe_train_report(spark, sf_dir, n_merges=12)


# --- training-data pipeline reports ----------------------------------------


@_register(
    "contamination_by_source",
    rf"""
    WITH tri AS (
        {_trigram_rows_sql(", source")}
    ),
    bench AS (SELECT DISTINCT g FROM tri
              WHERE source = 'src0' AND g IS NOT NULL),
    corpus AS (SELECT DISTINCT doc_id, source, g FROM tri
               WHERE source <> 'src0' AND g IS NOT NULL),
    hits AS (SELECT DISTINCT c.doc_id FROM corpus c JOIN bench b ON c.g = b.g)
    SELECT s.source, count(*) AS n_docs, count(h.doc_id) AS n_contaminated
    FROM (SELECT DISTINCT doc_id, source FROM documents WHERE source <> 'src0') s
    LEFT JOIN hits h ON h.doc_id = s.doc_id
    GROUP BY s.source
    """,
)
def contamination_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination report: source 'src0' plays the eval set;
    every other source is checked for word-3-gram collisions against it
    (textstats.ngram_collision_report — broadcast semi join on shingles)."""
    return textstats.ngram_collision_report(
        t(spark, sf_dir, "documents"), bench_pred=F.col("source") == "src0"
    )


@_register(
    "decontamination_rewrite_report",
    rf"""
    WITH ct AS ({_trigram_rows_clamped_sql(", source")}),
    bench AS (SELECT DISTINCT g FROM ct
              WHERE source = 'src0' AND g IS NOT NULL),
    th AS (SELECT t.doc_id, t.i FROM ct t JOIN bench b ON t.g = b.g
           WHERE t.source IS DISTINCT FROM 'src0'),
    hits AS (
        SELECT DISTINCT doc_id, ci FROM (
            SELECT doc_id, CAST(floor((i - 1) / 20) AS BIGINT) AS ci
            FROM th
            UNION ALL
            SELECT doc_id, CAST(floor((i + 1) / 20) AS BIGINT) AS ci
            FROM th) u
    ),
    p AS (
        SELECT doc_id, source,
               CAST(floor((i - 1) / 20) AS BIGINT) AS ci,
               string_agg(wd, ' ' ORDER BY i) AS chunk,
               CAST(count(*) AS BIGINT) AS nw
        FROM ({_word_pos_sql(", source")})
        WHERE source IS DISTINCT FROM 'src0'
        GROUP BY doc_id, source, CAST(floor((i - 1) / 20) AS BIGINT)
    ),
    f AS (
        SELECT p.*, CASE WHEN h.ci IS NOT NULL THEN 1 ELSE 0 END AS rm
        FROM p LEFT JOIN hits h ON h.doc_id = p.doc_id AND h.ci = p.ci
    )
    SELECT doc_id, source,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(rm) AS BIGINT) AS n_removed,
           CAST(coalesce(sum(CASE WHEN rm = 1 THEN nw END), 0) AS BIGINT)
               AS n_words_removed,
           md5(coalesce(
               string_agg(CASE WHEN rm = 0 THEN chunk END,
                          ' ' ORDER BY ci), '')) AS clean_md5
    FROM f GROUP BY doc_id, source
    """,
)
def decontamination_rewrite_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Decontamination REWRITE (dedup.remove_contaminated_spans):
    source 'src0' plays the eval set (contamination_by_source's
    convention); every other document is re-emitted with the 20-word
    chunks touched by an eval trigram deleted — excising the leaked
    span instead of dropping the whole document.  Per doc: chunk
    counts, removed word mass, and the md5 of the REBUILT text (the
    ordered listagg pairing).  Boundary-spanning grams remove both
    touched chunks on BOTH engines."""
    out = dedup.remove_contaminated_spans(
        t(spark, sf_dir, "documents"),
        bench_pred=F.col("source") == "src0",
    )
    return out.select(
        "doc_id",
        "source",
        "n_chunks",
        "n_removed",
        "n_words_removed",
        F.md5(F.col("clean_text")).alias("clean_md5"),
    )


@_register(
    "gopher_quality_report",
    rf"""
    WITH f AS (
        SELECT source,
               len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n,
               len(array_to_string(
                   regexp_extract_all(lower(text), '[a-z0-9]+'), '')) AS wc,
               len(regexp_extract_all(lower(text),
                   '[0-9]*[a-z][a-z0-9]*')) AS na,
               len(regexp_extract_all(lower(text),
                   '\b(the|a|of|to|and|in)\b')) AS ns,
               len(list_distinct(
                   regexp_extract_all(lower(text), '[a-z0-9]+'))) AS nd
        FROM documents
    ), r AS (
        SELECT source,
               CASE WHEN n >= 50 AND n <= 100000 THEN 0 ELSE 1 END AS f_wc,
               CASE WHEN n > 0 AND CAST(wc AS DOUBLE) / n >= 3.0
                         AND CAST(wc AS DOUBLE) / n <= 10.0
                    THEN 0 ELSE 1 END AS f_ml,
               CASE WHEN ns >= 2 THEN 0 ELSE 1 END AS f_sw,
               CASE WHEN n > 0 AND CAST(na AS DOUBLE) / n >= 0.8
                    THEN 0 ELSE 1 END AS f_al,
               CASE WHEN n > 0 AND CAST(nd AS DOUBLE) / n >= 0.3
                    THEN 0 ELSE 1 END AS f_tt
        FROM f
    )
    SELECT source, count(*) AS n_docs,
           CAST(sum(f_wc) AS BIGINT) AS fail_word_count,
           CAST(sum(f_ml) AS BIGINT) AS fail_mean_word_len,
           CAST(sum(f_sw) AS BIGINT) AS fail_stopwords,
           CAST(sum(f_al) AS BIGINT) AS fail_alpha_ratio,
           CAST(sum(f_tt) AS BIGINT) AS fail_ttr,
           CAST(sum(CASE WHEN f_wc + f_ml + f_sw + f_al + f_tt = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
    FROM r GROUP BY source
    """,
)
def gopher_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based quality filter report (textstats.gopher_report):
    the published Rae et al. 2021 heuristics — word count, mean word
    length, stopword floor, alphabetic-word ratio, type-token repetition —
    as per-source failure counts.  All five rules are plain codegen'd
    regexp/array expressions; the ratio comparisons divide identical
    BIGINT operands as doubles in both engines, so the report is
    value-exact with no rounding helper."""
    from waddleml_spark.session import fan_out

    # fan_out before the 5-rule regex pass (r11 opt round): serial on a
    # single-row-group scan; 0.362 -> 0.270 s interleaved min-of-5 at
    # 0.02% steal
    return textstats.gopher_report(
        fan_out(t(spark, sf_dir, "documents").select("source", "text"))
    )


@_register(
    "self_repetition_report",
    rf"""
    WITH p AS (
        SELECT doc_id, source,
               md5(string_agg(wd, ' ' ORDER BY i)) AS ph
        FROM ({_word_pos_sql(", source")})
        GROUP BY doc_id, source, CAST(floor((i - 1) / 20) AS BIGINT)
    ), g AS (
        SELECT ph, source, doc_id, count(*) AS inst
        FROM p GROUP BY ph, source, doc_id
    )
    SELECT source,
           CAST(sum(inst) AS BIGINT) AS total_passages,
           CAST(coalesce(sum(CASE WHEN inst >= 2 THEN inst END), 0) AS BIGINT)
               AS self_dup_passages,
           count(DISTINCT CASE WHEN inst >= 2 THEN doc_id END)
               AS docs_with_internal_repeat,
           CAST(CAST(coalesce(sum(CASE WHEN inst >= 2 THEN inst END), 0)
                     AS BIGINT) AS DOUBLE) / CAST(sum(inst) AS BIGINT)
               AS self_dup_ratio
    FROM g GROUP BY source
    """,
)
def self_repetition_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document passage repetition (dedup.self_repetition_report):
    the duplicate-paragraph quality signal — documents repeating their
    OWN 20-word chunks (looped boilerplate, scraper stutter) — which the
    cross-doc passage window ignores and the token-grain repetition
    ratio under-detects.  Oracle-exact: integer chunk-instance counts
    plus one BIGINT-through-double division."""
    return dedup.self_repetition_report(t(spark, sf_dir, "documents"))


@_register(
    "passage_dedup_report",
    rf"""
    WITH p AS (
        SELECT doc_id, source,
               md5(string_agg(wd, ' ' ORDER BY i)) AS ph
        FROM ({_word_pos_sql(", source")})
        GROUP BY doc_id, source, CAST(floor((i - 1) / 20) AS BIGINT)
    ), g AS (
        SELECT ph, source, doc_id, count(*) AS inst
        FROM p GROUP BY ph, source, doc_id
    ), gw AS (
        SELECT *, count(*) OVER (PARTITION BY ph) AS nd FROM g
    )
    SELECT source,
           CAST(sum(inst) AS BIGINT) AS total_passages,
           CAST(coalesce(sum(CASE WHEN nd >= 2 THEN inst END), 0) AS BIGINT)
               AS dup_passages,
           count(DISTINCT CASE WHEN nd >= 2 THEN doc_id END) AS docs_affected
    FROM gw GROUP BY source
    """,
)
def passage_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact passage dedup (dedup.passage_dup_report):
    non-overlapping 20-word chunks md5-hashed; a chunk held by >= 2
    distinct docs counts as duplicated — the chunk-granular approximation
    of exact-substring dedup (Lee et al. 2021).  Per source: passage
    instances, duplicated instances, docs carrying any duplicate."""
    return dedup.passage_dup_report(t(spark, sf_dir, "documents"))


@_register(
    "cdc_dedup_report",
    rf"""
    WITH b AS (
        SELECT doc_id, source, i, wd,
               CASE WHEN {_md5_be32_sql('wd')} % 16 = 0
                    THEN 1 ELSE 0 END AS bf
        FROM ({_word_pos_sql(", source")})
    ), c AS (
        SELECT doc_id, source, i, wd,
               sum(bf) OVER (PARTITION BY doc_id ORDER BY i) AS ci
        FROM b
    ), ch AS (
        SELECT doc_id, source, md5(string_agg(wd, ' ' ORDER BY i)) AS ph,
               CAST(count(*) AS BIGINT) AS nw
        FROM c GROUP BY doc_id, source, ci
    ), g AS (
        SELECT ph, source, doc_id,
               count(*) AS inst, max(nw) AS nw
        FROM ch GROUP BY ph, source, doc_id
    ), gw AS (
        SELECT *, count(*) OVER (PARTITION BY ph) AS nd FROM g
    )
    SELECT source,
           CAST(sum(inst) AS BIGINT) AS total_chunks,
           CAST(coalesce(sum(CASE WHEN nd >= 2 THEN inst END), 0) AS BIGINT)
               AS dup_chunks,
           count(DISTINCT CASE WHEN nd >= 2 THEN doc_id END)
               AS docs_affected,
           CAST(CAST(sum(inst * nw) AS BIGINT) AS DOUBLE)
               / CAST(sum(inst) AS BIGINT) AS avg_chunk_words
    FROM gw GROUP BY source
    """,
)
def cdc_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup report (dedup.cdc_dedup_report):
    chunk boundaries open where the word's md5-BE32 ≡ 0 (mod 16) — the
    FastCDC/LBFS content-defined cut at word grain, so a single
    insertion re-synchronizes after one chunk instead of shifting every
    fixed 20-word window (the passage family's alignment fragility,
    pinned by the unit test).  Per source: chunk instances, cross-doc
    duplicated instances, docs affected, mean chunk width."""
    return dedup.cdc_dedup_report(t(spark, sf_dir, "documents"))


@_register(
    "span_removal_report",
    rf"""
    WITH p AS (
        SELECT doc_id, CAST(floor((i - 1) / 20) AS BIGINT) AS ci,
               string_agg(wd, ' ' ORDER BY i) AS ct,
               CAST(count(*) AS BIGINT) AS nw
        FROM ({_word_pos_sql()})
        GROUP BY doc_id, CAST(floor((i - 1) / 20) AS BIGINT)
    ), k AS (
        SELECT doc_id, ci, ct, nw,
               row_number() OVER (
                   PARTITION BY md5(ct) ORDER BY doc_id, ci) AS rn
        FROM p
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_passages,
           CAST(coalesce(sum(CASE WHEN rn > 1 THEN 1 END), 0) AS BIGINT)
               AS n_removed,
           CAST(coalesce(sum(CASE WHEN rn > 1 THEN nw END), 0) AS BIGINT)
               AS n_words_removed,
           md5(coalesce(
               string_agg(CASE WHEN rn = 1 THEN ct END, ' ' ORDER BY ci),
               '')) AS clean_md5
    FROM k GROUP BY doc_id
    """,
)
def span_removal_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span REMOVAL (dedup.remove_duplicate_passages) — the
    rewrite half of exact-substring dedup (Lee et al. 2022): every
    20-word chunk keeps only its global first instance by (doc, pos);
    docs are re-emitted with the rest deleted.  Per doc: chunk counts,
    removed counts, removed word mass, and the md5 of the REBUILT
    text — a full-fidelity cross-engine check of the actual rewrite
    (the ordered listagg/string_agg pairing, probed bit-identical;
    ASCII corpus per the lower() rule).  The keeper rank and the
    rebuild ride the shared _passage_chunks grain."""
    out = dedup.remove_duplicate_passages(t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        "n_passages",
        "n_removed",
        "n_words_removed",
        F.md5(F.col("clean_text")).alias("clean_md5"),
    )


@_register(
    "corpus_mix_report",
    f"""
    WITH per AS (
        SELECT source, lang,
               CAST(sum(len(regexp_extract_all(text, '[A-Za-z0-9]+'))) AS BIGINT) AS toks
        FROM documents GROUP BY source, lang
    )
    SELECT source, lang, toks AS total_tokens,
           {_r_sql('100.0 * toks / (SELECT sum(toks) FROM per)', 6)} AS pct_of_corpus
    FROM per
    """,
)
def corpus_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain/language mix report: token share per (source, lang) — the
    dataset-card table every training pipeline publishes.  Global total =
    an unpartitioned window SUM over the (source, lang)-grain aggregate —
    ~|sources|·|langs| rows, so the single window task is trivially safe,
    and unlike the scalar-aggregate + cross-join formulation it keeps ONE
    reference to the doc-grain pipeline (the agg + cross-join re-ran the
    corpus text tokenization twice).  Integer token counts are
    order-insensitive, so only the final ratio needs rounding."""
    d = t(spark, sf_dir, "documents")
    per = d.groupBy("source", "lang").agg(
        F.sum(textstats.word_count(F.col("text"))).alias("total_tokens")
    )
    total = F.sum("total_tokens").over(Window.partitionBy())
    return per.select(
        "source",
        "lang",
        "total_tokens",
        _r(F.lit(100.0) * F.col("total_tokens") / total, 6).alias(
            "pct_of_corpus"
        ),
    )


@_register(
    "type_token_ratio_by_lang",
    f"""
    WITH w AS (
        SELECT lang, str_split_regex(regexp_replace(lower(text), '{_WST}', '', 'g'), '{_WS}') AS toks
        FROM documents
    )
    SELECT lang, count(*) AS n_docs,
           {_r_sql('avg(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))', 6)}
               AS avg_ttr
    FROM w GROUP BY lang
    """,
)
def type_token_ratio_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio (distinct/total tokens) per language — the
    classic repetition/quality signal (low TTR = boilerplate or looped
    text).  Pure per-row expressions + one aggregate; no shuffle beyond
    the groupBy."""
    d = t(spark, sf_dir, "documents")
    toks = F.split(_lt(F.col("text")), _WS)  # one-pass tokenizer rule
    ttr = F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"), _r(F.avg(ttr), 6).alias("avg_ttr")
    )


@_register(
    "dataset_split_report",
    """
    SELECT source,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= 'e5' THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= 'f2' THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n
    FROM documents GROUP BY source, split
    """,
)
def dataset_split_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by content hash (~90/5/5
    via the first md5 hex byte: <= 'e5' / <= 'f2' / rest), reported per
    source.

    Hash-based splits are the reproducible alternative to RNG sampling:
    the same doc lands in the same split on any engine, any run, any
    cluster size — which is why production pipelines key splits on a
    stable id hash, never on sample().  Pure projection + one aggregate.
    """
    d = t(spark, sf_dir, "documents")
    split = _split_assign(F.col("doc_id"))
    return d.groupBy("source", split.alias("split")).agg(F.count("*").alias("n"))


@_register(
    "sequence_packing_report",
    rf"""
    WITH toks AS (
        SELECT doc_id,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9{_WSC}]')) AS n_tok,
               md5(CAST(doc_id AS VARCHAR)) AS h
        FROM documents),
    cum AS (
        SELECT doc_id, n_tok,
               sum(n_tok) OVER (ORDER BY h, doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS e
        FROM toks WHERE n_tok > 0)
    SELECT CAST(floor((e - n_tok) / 2048.0) AS BIGINT) AS seq_id,
           count(*) AS docs_starting,
           CAST(sum(n_tok) AS BIGINT) AS toks_starting,
           CAST(sum(CASE WHEN floor((e - 1) / 2048.0) > floor((e - n_tok) / 2048.0)
                    THEN 1 ELSE 0 END) AS BIGINT) AS boundary_docs
    FROM cum GROUP BY seq_id
    """,
)
def sequence_packing_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk training-sequence packing (seq_len=2048): per
    sequence, the documents starting in it, their token mass, and how
    many straddle a cut.

    The oracle reproduces the layout with ONE global window sum (fine in
    DuckDB single-node); the Spark side uses the distributed two-pass
    prefix sum in llmops.packing — per-bucket window + 256-row offset
    broadcast — because a global Window.orderBy is a single-task funnel
    at 100 TB.  Bucket = first two hex digits of the md5 order key ⇒ the
    decomposition reproduces the global order exactly.
    """
    from waddleml_spark.llmops.packing import packing_report

    return packing_report(t(spark, sf_dir, "documents"))


_MIX_RATES = {"src0": 3.0, "src1": 1.25, "src2": 0.5, "src3": 0.0}
# frac(rate) * 65536 must be an exact integer (0 / .25 / .5 here): every
# engine's round() then agrees and the Bernoulli thresholds are identical.


@_register(
    "corpus_resample_report",
    """
    WITH c AS (
        SELECT source,
               CASE source WHEN 'src0' THEN 3.0 WHEN 'src1' THEN 1.25
                           WHEN 'src2' THEN 0.5 WHEN 'src3' THEN 0.0
                           ELSE 1.0 END AS rate,
               substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 4) AS h4
        FROM documents)
    SELECT source, count(*) AS n_docs_in,
           CAST(sum(CAST(floor(rate) AS BIGINT)
               + CASE WHEN h4 < lpad(lower(hex(CAST(least(round((rate - floor(rate)) * 65536), 65535) AS BIGINT))), 4, '0')
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_rows_out
    FROM c GROUP BY source
    """,
)
def corpus_resample_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus-mix resampling: src0 upsampled 3x, src1 1.25x,
    src2 halved, src3 dropped, everything else kept.

    The Spark side ACTUALLY materializes the resampled rows
    (explode(array_repeat) on the salted-hash copy count — the real
    operator a training pipeline runs); the oracle sums the copy counts
    analytically.  Equal outputs prove the emitted row multiset matches
    the analytic mix.  Input counts come from the pre-sample side and
    LEFT JOIN the output so rate-0 sources report n_rows_out = 0.
    """
    from waddleml_spark.llmops.packing import resample_to_mix

    d = t(spark, sf_dir, "documents")
    out = resample_to_mix(d, _MIX_RATES)
    out_counts = out.groupBy("source").agg(F.count("*").alias("__out"))
    ins = d.groupBy("source").agg(F.count("*").alias("n_docs_in"))
    return (
        ins.join(out_counts, "source", "left_outer")
        .select(
            "source",
            "n_docs_in",
            F.coalesce(F.col("__out"), F.lit(0)).alias("n_rows_out"),
        )
    )


@_register(
    "bigram_lm_quality_by_lang",
    f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
               generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
        FROM documents),
    big AS (
        SELECT doc_id, tok AS w1,
               lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM toks),
    pairs AS (SELECT doc_id, w1, w2 FROM big WHERE w2 IS NOT NULL),
    bg AS (SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY w1, w2),
    ug AS (SELECT w1, count(*) AS c1 FROM pairs GROUP BY w1),
    doc_scores AS (
        SELECT p.doc_id,
               {_r_sql("avg(ln(c2 * 1.0 / c1))", 6)} AS lm_score
        FROM pairs p
        JOIN bg ON bg.w1 = p.w1 AND bg.w2 = p.w2
        JOIN ug ON ug.w1 = p.w1
        GROUP BY p.doc_id)
    SELECT d.lang, count(*) AS n_docs,
           {_r_sql("avg(s.lm_score)", 6)} AS avg_lm_score
    FROM doc_scores s JOIN documents d ON d.doc_id = s.doc_id
    GROUP BY d.lang
    """,
)
def bigram_lm_quality_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram LM quality score aggregated per language —
    the self-supervised perplexity-proxy filter of a training pipeline.

    The oracle builds bigrams with unnest + a lead() window; the Spark
    side zips each token array against its own tail (array-only, no
    window, no shuffle before the counts) — see
    llmops.textstats.bigram_lm_scores for the 100 TB shape notes.
    """
    d = t(spark, sf_dir, "documents")
    scores = textstats.bigram_lm_scores(d)
    return (
        scores.join(d.select(F.col("doc_id").alias("id"), "lang"), "id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            _r(F.avg("lm_score"), 6).alias("avg_lm_score"),
        )
    )


@_register(
    "chunking_report",
    """
    SELECT source, count(*) AS n_docs,
           CAST(sum(1 + CAST(floor((greatest(n_tok - 16, 1) - 1) / 48.0) AS BIGINT))
               AS BIGINT) AS total_chunks
    FROM (SELECT source,
                 len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tok
          FROM documents)
    WHERE n_tok > 0
    GROUP BY source
    """,
)
def chunking_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG chunking audit: chunks per source at chunk=64/overlap=16.

    The Spark side MATERIALIZES every chunk (llmops.packing.chunk_tokens,
    array-only explode — zero shuffle before the count); the oracle
    computes the chunk count analytically (1 + ceil-div of the covered
    span by the stride).  Equality proves the emitted chunk rows match
    the arithmetic spec.
    """
    from waddleml_spark.llmops.packing import chunk_tokens

    d = t(spark, sf_dir, "documents")
    chunks = chunk_tokens(d)
    ids = d.select(F.col("doc_id").alias("id"), "source")
    return (
        chunks.join(ids, "id")
        .groupBy("source")
        .agg(
            F.countDistinct("id").alias("n_docs"),
            F.count("*").alias("total_chunks"),
        )
    )


@_register(
    "repetition_filter_report",
    f"""
    WITH per AS (
        SELECT doc_id, w, count(*) AS c
        FROM (SELECT doc_id,
                     unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
              FROM documents)
        GROUP BY doc_id, w),
    agg AS (
        SELECT doc_id, max(c) AS max_c, sum(c) AS n_tok
        FROM per GROUP BY doc_id)
    SELECT d.source, count(*) AS n_docs,
           {_r_sql("avg(a.max_c * 1.0 / a.n_tok)", 6)} AS avg_top_ratio,
           {_r_sql("max(a.max_c * 1.0 / a.n_tok)", 6)} AS max_top_ratio
    FROM agg a JOIN documents d ON d.doc_id = a.doc_id
    GROUP BY d.source
    """,
)
def repetition_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signal per source: how dominant is each
    document's single most frequent token.

    The oracle needs explode + two grouped aggregations (a shuffle of
    every token occurrence); the Spark side computes the same max count
    with ZERO shuffle — sort each token array and run one aggregate()
    pass over adjacent runs (textstats.top_token_run).  At 100 TB that
    is the difference between a token-grain exchange and a pure map.

    fan_out before the per-doc sort+aggregate (r11 opt round; r12
    re-measured −28% min at 100× / −7% at 1× in a quiet window — the
    r11 "+8% at 100×" was a 10.5%-steal artifact, see SCALING.md): the
    interpreted HOF pass otherwise serializes on a single-row-group
    scan; no-op at cluster scale.  filter_funnel_report shares this
    pipeline but measured a wash in the same windows (cheaper final
    agg), so it stays unfanned.  Only the TEXT branch is fanned (r12):
    the source-lookup join branch does no heavy compute, so fanning it
    too paid a second RoundRobin exchange for nothing — build it from
    the base scan (3 Exchange → 2, same values).
    """
    from waddleml_spark.session import fan_out

    base = t(spark, sf_dir, "documents")
    d = fan_out(base.select("doc_id", "text"))
    r = textstats.repetition_ratio(d)
    src = base.select(F.col("doc_id").alias("id"), "source")
    return (
        r.join(src, "id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            _r(F.avg("top_ratio"), 6).alias("avg_top_ratio"),
            _r(F.max("top_ratio"), 6).alias("max_top_ratio"),
        )
    )


@_register(
    "top_words_by_lang",
    """
    WITH cnt AS (
        SELECT lang, w, count(*) AS n
        FROM (SELECT lang,
                     unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
              FROM documents)
        GROUP BY lang, w),
    rk AS (
        SELECT lang, w AS word, n,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY n DESC, w) AS rnk
        FROM cnt)
    SELECT lang, word, n, rnk FROM rk WHERE rnk <= 5
    """,
)
def top_words_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters: top-5 most frequent words per language (count
    tie-broken alphabetically, so the cut is deterministic).

    explode → two-phase count aggregate → per-group top-k window.  The
    rnk<=5 filter triggers Spark's WindowGroupLimit: each map task
    pre-limits its partition to 5 candidates per lang BEFORE the window
    shuffle — per-group top-k never materializes the full count table
    across the cluster.
    """
    d = t(spark, sf_dir, "documents")
    w = F.explode(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), F.lit(0))
    )
    cnt = d.select("lang", w.alias("word")).groupBy("lang", "word").agg(
        F.count("*").alias("n")
    )
    from pyspark.sql import Window as W

    rnk = F.row_number().over(
        W.partitionBy("lang").orderBy(F.col("n").desc(), "word")
    )
    return cnt.withColumn("rnk", rnk).filter(F.col("rnk") <= 5)


@_register(
    "salient_terms_by_source",
    """
    WITH wc AS (
        SELECT source, w AS word, count(*) AS tf_src
        FROM (SELECT source,
                     unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
              FROM documents)
        GROUP BY source, w
    ), g AS (
        SELECT source, word, tf_src,
               CAST(sum(tf_src) OVER (PARTITION BY word) AS BIGINT) AS tf_all,
               CAST(sum(tf_src) OVER (PARTITION BY source) AS BIGINT) AS t_src
        FROM wc
    ), rk AS (
        SELECT *, row_number() OVER (PARTITION BY source
                  ORDER BY CAST(tf_src AS DOUBLE) / tf_all DESC, word) AS rnk
        FROM g WHERE tf_src >= 5
    )
    SELECT source, rnk, word, tf_src, tf_all,
           (CAST(tf_src AS DOUBLE) / t_src)
               / (CAST(tf_all AS DOUBLE)
                  / CAST(sum(CASE WHEN rnk = 1 THEN t_src END) OVER ()
                         AS BIGINT)) AS lift
    FROM rk WHERE rnk <= 5
    """,
)
def salient_terms_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive vocabulary per source: top-5 words by LIFT =
    (tf_src/tokens_src) / (tf_all/tokens_reported) — the TF-IDF-flavored
    keyword signal a mixing/curation stage reads ("what is this source
    actually about"), complementing top_words_by_lang's raw heavy
    hitters (which a corpus-wide stopword dominates) with
    over-representation relative to the rest of the REPORTED corpus:
    tokens_reported sums the sources that appear in the report (a
    source whose every word sits under the hapax floor contributes no
    rows AND no tokens — the unit test pins this).  Oracle-exact
    with no rounding helper: every count is an integer and lift is a
    fixed tree of IEEE-double divisions over BIGINTs, bit-identical
    cross-engine; ranking orders by the tf_src/tf_all double BOTH
    engines compute identically (within a source, lift is that ratio
    times a positive constant, and the constant factors out of the
    ordering — word tie-break makes the cut deterministic).

    Scale shape: occurrence rows collapse map-side into the
    (source, word) aggregate; two vocabulary-grain count windows
    (word grain, then source grain) and the rank window reuse the
    source partitioning; the tf_src >= 5 hapax floor sits AFTER both
    windows (totals must count the full source, candidacy only the
    repeated words).  The corpus-total scalar is an unpartitioned
    window over the ALREADY top-5-bounded frame (sum of each
    reported source's rnk=1 total — ≤ 5·|sources| rows), never over
    the vocabulary: the corpus_mix_report rule, kept safe here by
    ranking first.  ONE linear chain — no branch re-references the
    token pipeline."""
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    w = F.explode(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), F.lit(0))
    )
    wc = (
        d.select("source", w.alias("word"))
        .groupBy("source", "word")
        .agg(F.count("*").alias("tf_src"))
    )
    g = wc.withColumn(
        "tf_all", F.sum("tf_src").over(W.partitionBy("word"))
    ).withColumn("t_src", F.sum("tf_src").over(W.partitionBy("source")))
    ratio = F.col("tf_src").cast("double") / F.col("tf_all")
    rk = (
        g.filter(F.col("tf_src") >= 5)
        .withColumn(
            "rnk",
            F.row_number().over(
                W.partitionBy("source").orderBy(ratio.desc(), "word")
            ),
        )
        .filter(F.col("rnk") <= 5)
    )
    t_g = F.sum(F.when(F.col("rnk") == 1, F.col("t_src"))).over(W.partitionBy())
    lift = (F.col("tf_src").cast("double") / F.col("t_src")) / (
        F.col("tf_all").cast("double") / t_g
    )
    return rk.select(
        "source", "rnk", "word", "tf_src", "tf_all", lift.alias("lift")
    )


@_register(
    "embedding_dim_stats",
    f"""
    SELECT dim,
           {_r_sql("avg(x)", 6)} AS mean_x,
           {_r_sql("min(x)", 6)} AS min_x,
           {_r_sql("max(x)", 6)} AS max_x
    FROM (SELECT generate_subscripts(embedding, 1) - 1 AS dim,
                 CAST(unnest(embedding) AS DOUBLE) AS x
          FROM embeddings)
    GROUP BY dim
    """,
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding distribution stats (drift/normalization
    audit): posexplode the vector to (dim, value) long format, one
    aggregate.  At scale the explode is map-local and the aggregate has
    exactly d groups — partial aggregation collapses everything
    map-side.  float32 values are cast to double identically by both
    engines before averaging; results rounded to 6 digits.
    """
    e = t(spark, sf_dir, "embeddings")
    d = e.select(F.posexplode(F.col("embedding")).alias("dim", "xf")).select(
        "dim", F.col("xf").cast("double").alias("x")
    )
    return d.groupBy("dim").agg(
        _r(F.avg("x"), 6).alias("mean_x"),
        _r(F.min("x"), 6).alias("min_x"),
        _r(F.max("x"), 6).alias("max_x"),
    )


@_register("embedding_pca_variance", None)
def embedding_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed-covariance PCA audit (rows-only: eigendecomposition is
    not ANSI-SQL-expressible).  See similarity.pca_variance_report."""
    from waddleml_spark.llmops.similarity import pca_variance_report

    return pca_variance_report(t(spark, sf_dir, "embeddings"))


@_register(
    "incremental_dedup_report",
    rf"""
    WITH fp AS (
        SELECT doc_id, source,
               md5(regexp_replace(regexp_replace(lower(text), '{_WST}', '', 'g'), '{_WS}', ' ', 'g')) AS fp
        FROM documents),
    idx AS (SELECT DISTINCT fp FROM fp WHERE source <> 'src0'),
    new AS (SELECT * FROM fp WHERE source = 'src0'),
    fresh AS (SELECT * FROM new WHERE fp NOT IN (SELECT fp FROM idx))
    SELECT (SELECT count(*) FROM new) AS n_new,
           (SELECT count(*) FROM new) - (SELECT count(*) FROM fresh)
               AS n_dup_vs_index,
           (SELECT count(DISTINCT fp) FROM fresh) AS n_kept
    """,
)
def incremental_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recurring-crawl dedup audit: treat src0 as the incoming batch and
    every other source as the already-ingested corpus; report batch
    size, cross-index duplicates, and surviving representatives.  See
    llmops.dedup.incremental_dedup for the fingerprint-only join shape.
    """
    d = t(spark, sf_dir, "documents")
    new = d.filter(F.col("source") == "src0")
    idx = d.filter(F.col("source") != "src0")
    kept = dedup.incremental_dedup(new, idx)
    # one distributed plan, no driver-side counts: two 1-row aggregates
    # cross-joined (both broadcast by construction)
    batch_stats = new.agg(F.count("*").alias("n_new"))
    kept_stats = kept.agg(
        F.count("*").alias("n_kept"),
        F.coalesce(F.sum("n_dups"), F.lit(0)).alias("__fresh_rows"),
    )
    return batch_stats.crossJoin(F.broadcast(kept_stats)).select(
        "n_new",
        (F.col("n_new") - F.col("__fresh_rows")).alias("n_dup_vs_index"),
        "n_kept",
    )


@_register(
    "filter_funnel_report",
    """
    WITH t AS (
        SELECT doc_id, source,
               len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_words
        FROM documents),
    rep AS (
        SELECT doc_id, max(c) * 1.0 / sum(c) AS ratio
        FROM (SELECT doc_id, w, count(*) AS c
              FROM (SELECT doc_id,
                           unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
                    FROM documents)
              GROUP BY doc_id, w)
        GROUP BY doc_id)
    SELECT source,
           CAST(sum(CASE WHEN n_words < 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
           CAST(sum(CASE WHEN n_words >= 30 AND ratio > 0.12 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_repetitive,
           CAST(sum(CASE WHEN n_words >= 30 AND ratio <= 0.12 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_kept
    FROM t JOIN rep USING (doc_id)
    GROUP BY source
    """,
)
def filter_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate funnel (first-failing-rule-wins): per source, docs
    dropped as too-short (<30 words), then as too-repetitive (top-token
    ratio > 0.12), and survivors — the drop-accounting report every
    filtering pipeline publishes.

    Spark side reuses the ZERO-shuffle repetition signal
    (textstats.repetition_ratio: sorted-array aggregate) where the
    oracle needs a token-grain double aggregation; the funnel itself is
    one conditional-sum pass.  Ratio comparisons are exact small-int
    divisions — deterministic cross-engine, no rounding needed.
    """
    d = t(spark, sf_dir, "documents")
    r = textstats.repetition_ratio(d)
    src = d.select(F.col("doc_id").alias("id"), "source")
    j = r.join(src, "id")
    short = F.col("n_tok") < 30
    rep = F.col("top_ratio") > 0.12
    return j.groupBy("source").agg(
        F.sum(F.when(short, 1).otherwise(0)).alias("n_short"),
        F.sum(F.when(~short & rep, 1).otherwise(0)).alias("n_repetitive"),
        F.sum(F.when(~short & ~rep, 1).otherwise(0)).alias("n_kept"),
    )


@_register(
    "corpus_snapshot_diff",
    rf"""
    WITH a AS (SELECT DISTINCT md5(regexp_replace(regexp_replace(lower(text), '{_WST}', '', 'g'), '{_WS}', ' ', 'g')) AS fp
               FROM documents WHERE source = 'src0'),
         b AS (SELECT DISTINCT md5(regexp_replace(regexp_replace(lower(text), '{_WST}', '', 'g'), '{_WS}', ' ', 'g')) AS fp
               FROM documents WHERE source = 'src1')
    SELECT (SELECT count(*) FROM b WHERE fp NOT IN (SELECT fp FROM a)) AS n_added,
           (SELECT count(*) FROM a WHERE fp NOT IN (SELECT fp FROM b)) AS n_removed,
           (SELECT count(*) FROM a WHERE fp IN (SELECT fp FROM b)) AS n_common
    """,
)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-versioning audit: content-level diff between two corpus
    snapshots (src0 = old, src1 = new) on normalized fingerprints —
    added / removed / unchanged counts.

    ONE text pass: the diff of two 100 TB snapshots ships 16-byte
    fingerprints only, never text — per-fingerprint presence flags from
    a single fp-grain aggregate (max of two booleans collapses map-side),
    then one 1-row count pass.  The earlier anti/semi-join formulation
    referenced the scan six times (Catalyst does not dedupe common
    subtrees), fingerprinting the corpus three times over.
    """
    d = t(spark, sf_dir, "documents").filter(
        F.col("source").isin("src0", "src1")
    )
    fp = textstats.fingerprint(F.col("text")).alias("fp")
    flags = (
        d.select(
            fp,
            (F.col("source") == "src0").alias("in_a"),
            (F.col("source") == "src1").alias("in_b"),
        )
        .groupBy("fp")
        .agg(F.max("in_a").alias("a"), F.max("in_b").alias("b"))
    )
    one = F.lit(1)
    zero = F.lit(0)

    def _n(cond, name):
        # sum over an EMPTY relation is NULL; the oracle's count(*)
        # scalar subqueries return 0 — coalesce or a src-less testdata
        # regeneration trips the exact compare
        return F.coalesce(
            F.sum(F.when(cond, one).otherwise(zero)), F.lit(0).cast("long")
        ).alias(name)

    return flags.agg(
        _n(F.col("b") & ~F.col("a"), "n_added"),
        _n(F.col("a") & ~F.col("b"), "n_removed"),
        _n(F.col("a") & F.col("b"), "n_common"),
    )


@_register("ann_recall_report", None)
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality measurement (rows-only): recall@10 of the LSH and IVF
    paths against brute-force cosine ground truth, for three probe
    vectors, with IVF at n_probe ∈ {1, 2, 4}.  The approximate indexes
    are useless if their recall is unmeasured — this keeps the
    speed/recall trade visible in the catalog itself.  The synthetic
    embeddings are near-uniform (no cluster structure — the hardest ANN
    case), so absolute recall is modest; the report's job is the
    MONOTONE n_probe→recall curve, which is what operators tune at
    scale.
    """
    emb = t(spark, sf_dir, "embeddings")
    dim = _emb_dim(emb)
    planes = np.random.RandomState(42).randn(4, dim).tolist()
    model, with_cells = similarity.ivf_index(emb, id_col="vec_id")
    rows = []
    for qid in (0, 1, 2):
        qvec = _qvec(emb, qid)
        cand = emb.filter(F.col("vec_id") != qid)
        exact = {
            r.vec_id
            for r in similarity.cosine_topk(cand, qvec, k=10).collect()
        }
        lsh = {
            r.vec_id
            for r in similarity.ann_topk_lsh(cand, qvec, planes).collect()
        }
        ivf_cand = with_cells.filter(F.col("vec_id") != qid)
        ivf_recall = []
        for n_probe in (1, 2, 4):
            got = {
                r.vec_id
                for r in similarity.ivf_topk(
                    ivf_cand, model, qvec, k=10, n_probe=n_probe
                ).collect()
            }
            ivf_recall.append(len(got & exact) / 10.0)
        rows.append((qid, 10, len(lsh & exact) / 10.0, *ivf_recall))
    return spark.createDataFrame(
        rows,
        "query_id int, k int, recall_lsh double, "
        "recall_ivf_p1 double, recall_ivf_p2 double, recall_ivf_p4 double",
    )


@_register("weighted_sample_report", None)
def weighted_sample_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted corpus sampling audit (rows-only: the A-ES key
    uses ln, which is NOT bit-identical across engines — see
    packing.weighted_sample): sample 200 docs with probability ∝
    n_chars, report per-source sample counts plus the sampled-vs-corpus
    mean weight (must skew HIGH — weighting by length upsamples long
    documents; the exact inclusion-∝-weight property is pinned in
    tests/test_packing.py over many independent salts).  Deterministic:
    same ids + salt → the identical sample on any layout."""
    from waddleml_spark.llmops import packing

    d = t(spark, sf_dir, "documents")
    s = packing.weighted_sample(d, "n_chars", 200, salt=":wsr")
    corpus_mean = d.agg(_r(F.avg("n_chars"), 2).alias("m")).first()["m"]
    return (
        s.groupBy("source")
        .agg(
            F.count("*").alias("n_sampled"),
            _r(F.avg("n_chars"), 2).alias("sampled_mean_chars"),
        )
        .withColumn("corpus_mean_chars", F.lit(corpus_mean))
        .orderBy("source")
    )


@_register("cms_heavy_hitters_report", None)
def cms_heavy_hitters_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency audit (rows-only: the packed-matrix
    kernels are not SQL-expressible): the exact top-20 corpus tokens
    with their count-min estimates side by side.  SELF-AUDITED:
    cms_est >= exact always (one-sided error by construction); the
    overcount column is the measured collision cost of replacing a
    vocabulary-sized exact frequency table with a 512 KB mergeable
    sketch.  The token explode feeds build AND exact counting — persisted
    once (Catalyst no-CSE rule)."""
    from waddleml_spark.llmops import rotate_persist
    from waddleml_spark.llmops.textstats import word_tokens
    from waddleml_spark.operators import sketches
    from waddleml_spark.session import fan_out

    toks = fan_out(
        t(spark, sf_dir, "documents").select(
            F.explode(word_tokens(F.col("text"))).alias("tok")
        )
    )
    toks = rotate_persist("cms.tokens", toks)
    cms = sketches.cms_build(toks, "tok")
    top = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.desc("exact_n"), F.asc("tok"))
        .limit(20)
    )
    return (
        sketches.cms_estimates(top, "tok", cms)
        .withColumn("overcount", F.col("cms_est") - F.col("exact_n"))
        .orderBy(F.desc("exact_n"), F.asc("tok"))
    )


@_register("bloom_decontamination_report", None)
def bloom_decontamination_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination (rows-only: the packed-bitset build/
    probe kernels are not SQL-expressible), SELF-AUDITED: per corpus
    source, docs flagged by the compact broadcast bitset vs truly
    contaminated by the exact shingle semi-join on the same data.
    n_flagged >= n_contaminated always (Bloom has no false negatives);
    the gap IS the measured false-positive cost of replacing a
    benchmark-sized broadcast join with an n_bits/8-byte bitset.  The
    exact twin is `contamination_by_source`; this is its 100 TB shape
    when the benchmark shingle set outgrows a broadcast hash set."""
    from waddleml_spark.llmops import bloom

    return bloom.bloom_decontamination_report(
        t(spark, sf_dir, "documents"), bench_pred=F.col("source") == "src0"
    )


@_register("pq_ann_report", None)
def pq_ann_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN quality (rows-only: k-means + Arrow
    kernels are not SQL-expressible): recall@10 of raw ADC scoring and of
    ADC + exact rerank (R = 4k) against brute-force cosine ground truth,
    for three probe vectors, plus the index compression ratio (raw
    float32 bytes per vector / PQ code bytes).  The PQ fit is
    sample-bounded and layout-deterministic (similarity.pq_train); encode
    and scoring are map-only full-corpus passes — the serving scan reads
    the m-byte codes + norm, ~16× less than raw vectors at d=64/m=8
    (exactly the compression_x column below).  Like
    ann_recall_report, the synthetic embeddings are near-uniform (hardest
    ANN case): the report's job is the monotone plain→rerank recall gain
    operators tune at scale, not absolute recall."""
    emb = t(spark, sf_dir, "embeddings")
    dim = _emb_dim(emb)
    m, n_codes = 8, 16
    from waddleml_spark.llmops import rotate_persist

    cb = similarity.pq_train(emb, m_subspaces=m, n_codes=n_codes, id_col="vec_id")
    # the encode pipeline feeds SIX actions across the 3-query loop
    # (ADC + rerank's internal candidate collect per query) and Catalyst
    # does not dedupe subtrees — persist so the Arrow encode runs once
    codes = rotate_persist("pq.codes", similarity.pq_encode(emb, cb))
    # 4 bytes/dim raw vs one small int per subspace + the 8-byte norm
    compression = float(4 * dim) / float(m + 8)
    rows = []
    for qid in (0, 1, 2):
        qvec = _qvec(emb, qid)
        cand_c = codes.filter(F.col("vec_id") != qid)
        cand_e = emb.filter(F.col("vec_id") != qid)
        exact = {
            r.vec_id for r in similarity.cosine_topk(cand_e, qvec, k=10).collect()
        }
        adc = {
            r.vec_id
            for r in similarity.pq_topk(cand_c, cb, qvec, k=10).collect()
        }
        rr = {
            r.vec_id
            for r in similarity.pq_topk(
                cand_c, cb, qvec, k=10, rerank=40, corpus=cand_e
            ).collect()
        }
        rows.append(
            (qid, 10, len(adc & exact) / 10.0, len(rr & exact) / 10.0, compression)
        )
    return spark.createDataFrame(
        rows,
        "query_id int, k int, recall_adc double, recall_rerank double, "
        "compression_x double",
    )


@_register("neardup_cluster_report", None)
def neardup_cluster_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dup dedup pipeline in one query (rows-only: the
    component resolution is iterative): MinHash+LSH candidate pairs →
    connected components (min-label propagation) → cluster-size
    histogram plus the doc count a keep-one-per-cluster pass would
    delete.  This is the number a dedup run reports: "N docs in M
    near-dup clusters, N−M dropped"."""
    d = t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_candidates(d)
    comps = dedup.connected_components(pairs)
    sizes = comps.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count("*").alias("n_clusters"),
            F.sum(F.col("cluster_size") - 1).alias("docs_droppable"),
        )
        .orderBy("cluster_size")
    )


@_register("leakage_safe_split", None)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/val/test split (rows-only: component resolution
    is iterative).  A naive per-doc hash split leaks near-duplicates of
    training docs into eval; here the SPLIT UNIT is the near-dup cluster —
    every doc inherits its component's split (singletons are their own
    cluster), so a cluster never straddles splits by construction.  Same
    md5 cut points as dataset_split_report (~90/5/5).  Per split: cluster
    count, doc count, and the largest cluster that landed there."""
    d = t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_candidates(d)
    comps = dedup.connected_components(pairs)
    docs = d.select("doc_id").join(
        comps, d.doc_id == comps.id, "left"
    )
    cluster = F.coalesce(F.col("component"), F.col("doc_id"))
    split = _split_assign(cluster)
    per_cluster = (
        docs.select(cluster.alias("cluster_id"), split.alias("split"))
        .groupBy("split", "cluster_id")
        .agg(F.count("*").alias("csize"))
    )
    return per_cluster.groupBy("split").agg(
        F.count("*").alias("n_clusters"),
        F.sum("csize").alias("n_docs"),
        F.max("csize").alias("max_cluster_size"),
    )


@_register("cluster_canonical_docs", None)
def cluster_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keeper selection for near-dup clusters (rows-only: iterative CC):
    within each cluster keep the doc a quality-aware dedup would keep —
    longest (word count), ties to lowest id — the standard
    keep-best-not-keep-first refinement of exact_dedup's min-id rule.
    One row per multi-doc cluster: keeper, size, and how many words the
    min-id rule would have thrown away (negative = min-id kept a longer
    doc).  Window over component — cluster-grain, never corpus-grain."""
    d = t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_candidates(d)
    comps = dedup.connected_components(pairs)
    scored = comps.join(
        d.select("doc_id", textstats.word_count(F.col("text")).alias("n_words")),
        comps.id == F.col("doc_id"),
    ).select("component", "id", "n_words")
    w = Window.partitionBy("component")
    best = F.row_number().over(
        w.orderBy(F.col("n_words").desc(), F.col("id"))
    )
    flagged = scored.select(
        "component",
        "id",
        "n_words",
        best.alias("__rk"),
        F.count("*").over(w).alias("cluster_size"),
        F.min(
            F.struct(F.col("id"), F.col("n_words"))
        ).over(w)["n_words"].alias("minid_words"),
    )
    return (
        flagged.filter(F.col("__rk") == 1)
        .select(
            "component",
            F.col("id").alias("keeper_id"),
            "cluster_size",
            (F.col("n_words") - F.col("minid_words")).alias("words_saved_vs_minid"),
        )
        .orderBy("component")
    )


@_register("corpus_pipeline_report", None)
def corpus_pipeline_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE end-to-end pretraining-data pipeline as one query (rows-only:
    CC is iterative): raw corpus → Gopher quality gate → exact dedup
    (min-id keeper per fingerprint) → near-dup dedup (longest-doc keeper
    per MinHash+LSH cluster) → leakage-safe cluster split.  One funnel
    row per stage with surviving docs and word tokens — the
    drop-accounting card a corpus build publishes end to end.

    Scale shape: ONE doc-grain base pass computes words/flags/fingerprint
    and is persisted WITHOUT text (ids + 3 longs + a hash per doc — at
    100 TB this is the metadata table you'd checkpoint, not the corpus);
    the only text re-scan is the pruned parquet read feeding MinHash on
    exact-unique survivors.  Every stage after candidates is
    cluster-grain.  Union of one-row aggregates at the end is
    driver-trivial.
    """
    from waddleml_spark.llmops import rotate_persist

    d = t(spark, sf_dir, "documents")
    flags = [
        "fail_word_count",
        "fail_mean_word_len",
        "fail_stopwords",
        "fail_alpha_ratio",
        "fail_ttr",
    ]
    base = textstats.gopher_flags(d).select(
        "doc_id",
        "source",
        textstats.word_count(F.col("text")).alias("n_words"),
        (sum(F.col(c) for c in flags) == 0).alias("ok"),
        textstats.fingerprint(F.col("text")).alias("fp"),
    )
    base = rotate_persist("pipeline.base", base)

    def stage(name: str, frame: DataFrame) -> DataFrame:
        return frame.agg(
            F.lit(name).alias("stage"),
            F.count("*").alias("n_docs"),
            F.coalesce(F.sum("n_words"), F.lit(0)).alias("n_tokens"),
        )

    q = base.filter("ok")
    w_fp = Window.partitionBy("fp").orderBy("doc_id")
    exact = (
        q.withColumn("__rn", F.row_number().over(w_fp))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    exact = rotate_persist("pipeline.exact", exact)
    # near-dup clusters among exact-unique survivors: candidates need the
    # text again — pruned re-scan joined to the keeper ids
    docs2 = d.join(exact.select("doc_id"), "doc_id")
    comps = dedup.connected_components(
        dedup.minhash_lsh_candidates(docs2)
    )
    labeled = exact.join(comps, exact.doc_id == comps.id, "left").select(
        "doc_id",
        "source",
        "n_words",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster"),
    )
    w_cl = Window.partitionBy("cluster").orderBy(
        F.col("n_words").desc(), F.col("doc_id")
    )
    final = (
        labeled.withColumn("__rn", F.row_number().over(w_cl))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    final = rotate_persist("pipeline.final", final)
    split = _split_assign(F.col("cluster"))
    splits = (
        final.select(F.concat(F.lit("4_"), split).alias("stage"), "n_words")
        .groupBy("stage")
        .agg(
            F.count("*").alias("n_docs"),
            F.coalesce(F.sum("n_words"), F.lit(0)).alias("n_tokens"),
        )
    )
    funnel = (
        stage("0_raw", base)
        .unionByName(stage("1_quality_pass", q))
        .unionByName(stage("2_exact_unique", exact))
        .unionByName(stage("3_neardup_unique", final))
        .unionByName(splits)
    )
    return funnel.orderBy("stage")


@_register("media_frame_neardup_pairs", None)
def media_frame_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal near-dup candidates on binary payloads (rows-only):
    aligned 32-byte content-chunk fingerprints, hash-bucket self-join,
    pairs sharing ≥ 4 chunks — the byte-level analog of shingle dedup,
    entirely JVM-side (payloads never decode, digests shuffle, bytes
    don't).  See multimodal.frame_neardup_pairs."""
    media = multimodal.docs_as_media(t(spark, sf_dir, "documents"))
    return multimodal.frame_neardup_pairs(media).orderBy("id_a", "id_b")


_PII_ORACLE = r"""
    WITH planted AS (
        SELECT source,
               text
               || CASE WHEN doc_id % 5 = 0
                       THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                       ELSE '' END
               || CASE WHEN doc_id % 7 = 0
                       THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'
                       ELSE '' END
               || CASE WHEN doc_id % 11 = 0
                       THEN ' call (555) 123-4567'
                       ELSE '' END AS ptext
        FROM documents
    ), scrubbed AS (
        SELECT source, ptext,
               len(regexp_extract_all(ptext, '@EMAIL@')) AS e,
               len(regexp_extract_all(ptext, '@PHONE@')) AS p,
               len(regexp_extract_all(ptext, '@IP@')) AS i,
               regexp_replace(regexp_replace(regexp_replace(ptext,
                   '@EMAIL@', '<EMAIL>', 'g'),
                   '@PHONE@', '<PHONE>', 'g'),
                   '@IP@', '<IP>', 'g') AS rtext
        FROM planted
    )
    SELECT source,
           count(*) AS docs,
           CAST(sum(e) AS BIGINT) AS n_emails,
           CAST(sum(p) AS BIGINT) AS n_phones,
           CAST(sum(i) AS BIGINT) AS n_ips,
           CAST(sum(CASE WHEN e + p + i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
           CAST(sum(len(ptext) - len(rtext)) AS BIGINT) AS chars_removed
    FROM scrubbed
    GROUP BY source
""".replace("@EMAIL@", pii.EMAIL_RE).replace("@PHONE@", pii.PHONE_RE).replace(
    "@IP@", pii.IPV4_RE
)


@_register("pii_scrub_report", _PII_ORACLE)
def pii_scrub_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub accounting per source: detections by class, docs touched,
    chars removed by redaction (llmops.pii — chained JVM regexes, map-only,
    zero shuffle before the tiny per-source aggregate).

    The synthetic corpus carries no natural PII, so the query PLANTS
    deterministic PII (doc_id-derived email / IPv4 / phone on modular
    subsets) with the identical expression in both engines — the regex
    scan, the redaction chain, and the byte accounting are what is being
    differentially tested.  Dialect note: patterns are the Java/RE2 common
    subset; Spark regexp_replace is global by default, DuckDB needs 'g'.
    """
    d = t(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" from 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".1"),
            ),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0, F.lit(" call (555) 123-4567")).otherwise(
            F.lit("")
        ),
    )
    # fan out BEFORE the 6-regex map stage: the single-row-group bench
    # parquet scans as ONE partition, which would serialize the whole
    # regex pass onto one core (round-7 measurement: 0.60 -> 0.48 s at
    # sf0.1; the repartition shuffles only (source, ptext))
    from waddleml_spark.session import fan_out

    s = fan_out(d.select("source", planted.alias("ptext"))).select(
        "source",
        "ptext",
        pii.count_matches(F.col("ptext"), pii.EMAIL_RE).alias("e"),
        pii.count_matches(F.col("ptext"), pii.PHONE_RE).alias("p"),
        pii.count_matches(F.col("ptext"), pii.IPV4_RE).alias("i"),
        pii.redact(F.col("ptext")).alias("rtext"),
    )
    return s.groupBy("source").agg(
        F.count("*").alias("docs"),
        F.sum("e").alias("n_emails"),
        F.sum("p").alias("n_phones"),
        F.sum("i").alias("n_ips"),
        F.sum(F.when(F.col("e") + F.col("p") + F.col("i") > 0, 1).otherwise(0)).alias(
            "docs_with_pii"
        ),
        F.sum(F.length("ptext") - F.length("rtext")).alias("chars_removed"),
    )


@_register(
    "stratified_eval_sample",
    """
    SELECT source, doc_id, n_chars
    FROM (
        SELECT source, doc_id, n_chars,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    ) WHERE rn <= 5
    """,
)
def stratified_eval_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: exactly N docs per source, picked
    by md5(doc_id) order — the eval-set carving shape.  Hash order is
    engine-stable and reproducible across cluster sizes (unlike sample(),
    whose output depends on partitioning), and per-stratum top-N compiles
    to WindowGroupLimit: each task pre-limits to N before the stratum
    shuffle, so the full corpus never moves — only ~N rows per stratum per
    task do.  Complements `corpus_resample_report` (proportional Bernoulli
    mix) with the exact-count-per-stratum variant."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("source", "doc_id", "n_chars")
    )


_LEV_SRC0_D = rf"""SELECT doc_id, regexp_replace(lower(text), '{_WST}', '', 'g') AS tx,
               list_distinct(str_split_regex(regexp_replace(lower(text), '{_WST}', '', 'g'), '{_WS}')) AS ws
        FROM documents WHERE source = 'src0' AND n_chars < 220"""


@_register(
    "levenshtein_pairs_src0",
    f"""
    WITH {_minhash_block_sql(_LEV_SRC0_D)}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           levenshtein(da.tx, db.tx) AS edit_dist
    FROM kept a JOIN kept b ON a.bkey = b.bkey AND a.doc_id < b.doc_id
    JOIN d da ON da.doc_id = a.doc_id
    JOIN d db ON db.doc_id = b.doc_id
    WHERE levenshtein(da.tx, db.tx) * 10 <= 4 * (len(da.tx) + len(db.tx))
    """,
)
def levenshtein_pairs_src0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup verifier over single-permutation-MinHash
    candidate blocks (short docs of src0): pairs whose Levenshtein
    distance ≤ 80% of their mean length (the synthetic corpus has no
    true char-level near-dups, so the floor demonstrates the primitive).
    The character-level complement of the token-level Jaccard verifier —
    catches single-character edits Jaccard's word sets miss.
    O(len²) DP per pair ⇒ production feeds it LSH candidate pairs, never
    a global cross join; the round-5 all-pairs-within-src0 demo was a
    certified BroadcastNestedLoopJoin, replaced here by the same
    dedup.minhash_block_candidates blocking the Jaccard demo uses
    (64-cap guard mirrored in the oracle HAVING).  JVM built-in
    levenshtein on both engines (identical classic DP semantics),
    whole-stage codegen, no UDF."""
    d = (
        t(spark, sf_dir, "documents")
        .filter((F.col("source") == "src0") & (F.col("n_chars") < 220))
        .select(
            "doc_id",
            _lt(F.col("text")).alias("tx"),
            F.array_distinct(F.split(_lt(F.col("text")), _WS)).alias("ws"),
        )
    )
    cand = dedup.minhash_block_candidates(d, "ws", "doc_id")
    a, b = d.alias("a"), d.alias("b")
    dist = F.levenshtein(F.col("a.tx"), F.col("b.tx"))
    return (
        cand.join(a, cand.id_a == F.col("a.doc_id"))
        .join(b, cand.id_b == F.col("b.doc_id"))
        .filter(
            dist * 10 <= 4 * (F.length(F.col("a.tx")) + F.length(F.col("b.tx")))
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            dist.alias("edit_dist"),
        )
    )


def _simhash32_oracle() -> str:
    """Generate the 32-per-bit-sum SQL twin of dedup.simhash32_jvm.

    Token hash: big-endian first 4 md5 bytes.  DuckDB's md5_number_upper
    is the LITTLE-endian uint64 of the first 8 bytes, so the swizzle
    below reassembles bytes 0..3 big-endianly — bit-identical to Spark's
    conv(substring(md5,1,8),16,10)."""
    sums = ",\n               ".join(
        f"sum(CASE WHEN (h32 >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(32)
    )
    pack = " + ".join(
        f"CASE WHEN s{b} >= 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        for b in range(32)
    )
    return rf"""
    WITH d AS (
        SELECT doc_id,
               list_distinct(str_split_regex(regexp_replace(lower(text), '{_WST}', '', 'g'), '{_WS}')) AS ws
        FROM documents
    ), t AS (
        SELECT doc_id, unnest(ws) AS tok FROM d
    ), h AS (
        SELECT doc_id, {_md5_be32_sql('tok')} AS h32
        FROM t
    ), b AS (
        SELECT doc_id, {sums}
        FROM h GROUP BY doc_id
    )
    SELECT doc_id, {pack} AS simhash32 FROM b
    """


@_register("simhash32_docs", _simhash32_oracle())
def simhash32_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-paired SimHash (dedup.simhash32_jvm): 32-bit signatures over
    md5 token hashes, zero-shuffle JVM projection vs the oracle's
    unnest + 32-way grouped sum — bit-identical results.  Complements the
    64-bit Arrow-kernel `simhash_signatures` (rows-only) with a variant
    the differential gate can check exactly."""
    return dedup.simhash32_jvm(t(spark, sf_dir, "documents"))


def _minhash32_ctes() -> str:
    """Shared CTE chain for the oracle-exact minhash family: shingles
    (word 3-grams, slice-clamped short docs) → md5-BE32 shingle hash →
    ``g`` = wide (doc_id, m0..m31) via the (a_i·x+b_i) mod 2^31−1
    family.  Twin of dedup._minhash32_grouped."""
    p = dedup._MH_P
    mins = ",\n               ".join(
        f"min(({a} * h32 + {b}) % {p}) AS m{i}"
        for i, (a, b) in enumerate(dedup._MH_AB)
    )
    return rf"""t AS (
        SELECT DISTINCT doc_id, g AS s
        FROM ({_trigram_rows_clamped_sql()}) WHERE g IS NOT NULL
    ), h AS (
        SELECT doc_id, {_md5_be32_sql('s')} AS h32
        FROM t
    ), g AS (
        SELECT doc_id, {mins}
        FROM h GROUP BY doc_id
    )"""


def _minhash32_oracle() -> str:
    """SQL twin of dedup.minhash32_exact: the shared signature CTEs,
    long-form via UNION ALL over i."""
    unpivot = "\n        UNION ALL ".join(
        f"SELECT doc_id, {i} AS h_index, m{i} AS minhash FROM g"
        for i in range(len(dedup._MH_AB))
    )
    return f"""
    WITH {_minhash32_ctes()}
    {unpivot}
    """


def _minhash32_band_cte() -> str:
    """ONE definition of the banded-minhash candidate CTE chain (band
    rows via UNION ALL grouped on the rows_per_band raw min values, the
    mega-bucket HAVING guard, the DISTINCT cross-band self-join ending
    in ``cand``) — shared by the pairs oracle and the sketch-accuracy
    audit oracle so the band/guard semantics can never drift between
    them (round-7 review find; mirrors dedup._minhash32_band_buckets)."""
    bands = dedup.MINHASH32_BANDS
    rpb = 32 // bands
    cols = ", ".join(f"s{r}" for r in range(rpb))
    band_sel = "\n        UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {ms} FROM g".format(
            b=b,
            ms=", ".join(f"m{b * rpb + r} AS s{r}" for r in range(rpb)),
        )
        for b in range(bands)
    )
    on = " AND ".join(
        [f"a.{c} = b.{c}" for c in ["band"] + [f"s{r}" for r in range(rpb)]]
    )
    return f"""{_minhash32_ctes()}, bands AS (
        {band_sel}
    ), bsz AS (
        SELECT band, {cols} FROM bands
        GROUP BY band, {cols} HAVING COUNT(*) BETWEEN 2 AND {STAR_CAP}
    ), kept AS (
        SELECT bands.* FROM bands JOIN bsz USING (band, {cols})
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM kept a JOIN kept b ON {on} AND a.doc_id < b.doc_id
    )"""


def _minhash32_pairs_oracle() -> str:
    """SQL twin of dedup.minhash32_band_pairs — the shared candidate CTE
    chain, selected as-is."""
    return f"""
    WITH {_minhash32_band_cte()}
    SELECT id_a, id_b FROM cand
    """


@_register("minhash32_docs", _minhash32_oracle())
def minhash32_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-exact MinHash signatures in long form (dedup.minhash32_exact):
    certifies the minhash construction differentially — md5 shingle hashes
    and arithmetic rehashes are bit-identical across engines, unlike the
    xxhash64 production path (rows-only by necessity)."""
    return dedup.minhash32_exact(t(spark, sf_dir, "documents"))


@_register("minhash32_band_pairs", _minhash32_pairs_oracle())
def minhash32_band_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-exact MinHash+LSH candidate pairs (dedup.minhash32_band_pairs):
    the full MinHash candidate chain — exact signatures (minhash32_docs'
    md5/arithmetic family), 8 bands of 4 grouped on the RAW min values (no
    band hash, so no cross-engine hash to reproduce and no collision
    noise), 64-cap mega-bucket guard, generator pair expansion — checked
    value-exactly against the SQL twin.  Complements simhash32_band_pairs
    (the banded-simhash twin) and closes the proof gap on the production
    minhash_lsh_candidates shape, which stays xxhash64/rows-only."""
    return dedup.minhash32_band_pairs(t(spark, sf_dir, "documents"))


def _simhash32_pairs_oracle() -> str:
    """SQL twin of dedup.simhash32_band_pairs (band_bits=16, STAR_CAP):
    the simhash32 chain, then bands via integer division, then a self-join
    per shared (band, bucket) with DISTINCT across bands.  The bsz CTE
    mirrors the Spark-side mega-bucket star guard (buckets of more than
    STAR_CAP docs are excluded from pair expansion on BOTH engines)."""
    base = _simhash32_oracle()
    return rf"""
    WITH sigs AS (
        {base}
    ), bands AS (
        SELECT doc_id, b.band,
               (simhash32 // POWER(65536, b.band)::BIGINT) % 65536 AS bucket
        FROM sigs, (SELECT unnest(generate_series(0, 1)) AS band) b
    ), bsz AS (
        SELECT band, bucket FROM bands
        GROUP BY band, bucket HAVING COUNT(*) BETWEEN 2 AND {STAR_CAP}
    ), kept AS (
        SELECT bands.* FROM bands JOIN bsz USING (band, bucket)
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM kept a JOIN kept b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    """


def _ngram_overlap_oracle() -> str:
    """SQL twin of dedup.ngram_overlap_pairs: distinct (doc, md5-BE32
    trigram hash) rows, grams with document frequency outside
    [2, STAR_CAP] dropped (the HAVING mirrors the Spark-side df cap), then
    a self-join per shared hash with a pair-grain count.  Hash-grain
    DISTINCT on both sides so a 32-bit collision behaves identically in
    both engines."""
    return rf"""
    WITH t AS (
        SELECT DISTINCT doc_id, {_md5_be32_sql('g')} AS h32
        FROM ({_trigram_rows_clamped_sql()}) WHERE g IS NOT NULL
    ), hot AS (
        SELECT h32 FROM t GROUP BY h32 HAVING COUNT(*) BETWEEN 2 AND {STAR_CAP}
    ), kept AS (
        SELECT t.* FROM t JOIN hot USING (h32)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM kept a JOIN kept b ON a.h32 = b.h32 AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= {dedup.NGRAM_MIN_SHARED}
    """


def _winnowing_overlap_oracle() -> str:
    """SQL twin of dedup.winnowing32_overlap_pairs: clamped trigram rows
    with their word position, md5-BE32 gram hashes, sliding-window MIN
    over each doc's w = WINNOW_W consecutive grams (ROWS BETWEEN CURRENT ROW
    AND w−1 FOLLOWING — tie-free, i is unique per doc), truncated tail
    windows dropped via the per-doc gram count, then the same df-capped
    shared-hash pair count as the ngram-overlap oracle."""
    w = dedup.WINNOW_W
    return rf"""
    WITH tr AS (
        SELECT doc_id, i, g
        FROM ({_trigram_rows_clamped_sql()}) WHERE g IS NOT NULL
    ), h AS (
        SELECT doc_id, i, {_md5_be32_sql('g')} AS hg,
               count(*) OVER (PARTITION BY doc_id) AS ng
        FROM tr
    ), fp AS (
        SELECT doc_id, i, ng,
               min(hg) OVER (PARTITION BY doc_id ORDER BY i
                             ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING)
                   AS f
        FROM h
    ), t AS (
        SELECT DISTINCT doc_id, f AS h32
        FROM fp WHERE i <= greatest(ng - {w - 1}, 1)
    ), hot AS (
        SELECT h32 FROM t GROUP BY h32 HAVING COUNT(*) BETWEEN 2 AND {STAR_CAP}
    ), kept AS (
        SELECT t.* FROM t JOIN hot USING (h32)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM kept a JOIN kept b ON a.h32 = b.h32 AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= {dedup.WINNOW_MIN_SHARED}
    """


@_register("winnowing32_overlap_pairs", _winnowing_overlap_oracle())
def winnowing32_overlap_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-fingerprint overlap pairs
    (dedup.winnowing32_overlap_pairs) — the MOSS sampling construction
    (Schleimer et al. 2003) certified value-exactly: window-min
    fingerprints guarantee shared runs of ≥ w+k−1 tokens collide while
    carrying ~2/(w+1) of the exhaustive gram volume, the scale-cheap
    complement of ngram_overlap_pairs."""
    return dedup.winnowing32_overlap_pairs(t(spark, sf_dir, "documents"))


def _containment_oracle() -> str:
    """SQL twin of dedup.containment_pairs: distinct (doc, md5-BE32
    trigram hash) rows, gram document frequency via a count window over
    the hash, per-doc rare-gram counts via a count window over the doc
    AFTER the df ≤ STAR_CAP cut (df = 1 grams stay in the denominators,
    df > STAR_CAP boilerplate leaves both sides), then a self-join per
    shared gram with pair-grain count and the containment division —
    two exact BIGINTs through IEEE double, bit-identical cross-engine."""
    return rf"""
    WITH t AS (
        SELECT DISTINCT doc_id, {_md5_be32_sql('g')} AS h32
        FROM ({_trigram_rows_clamped_sql()}) WHERE g IS NOT NULL
    ), d AS (
        SELECT doc_id, h32, COUNT(*) OVER (PARTITION BY h32) AS df
        FROM t
    ), r AS (
        SELECT doc_id, h32, df, COUNT(*) OVER (PARTITION BY doc_id) AS nd
        FROM d WHERE df <= {STAR_CAP}
    ), kept AS (
        SELECT * FROM r WHERE df >= 2
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared,
           CAST(MIN(a.nd) AS BIGINT) AS n_a,
           CAST(MIN(b.nd) AS BIGINT) AS n_b,
           CAST(COUNT(*) AS DOUBLE) / LEAST(MIN(a.nd), MIN(b.nd))
               AS containment
    FROM kept a JOIN kept b ON a.h32 = b.h32 AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= {dedup.CONTAINMENT_MIN_SHARED}
       AND CAST(COUNT(*) AS DOUBLE) / LEAST(MIN(a.nd), MIN(b.nd))
           >= {dedup.MIN_CONTAINMENT}
    """


@_register("doc_containment_pairs", _containment_oracle())
def doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-in-doc containment pairs (dedup.containment_pairs) —
    containment = shared rare trigrams / min(|A|, |B|), the asymmetric
    quotation/subset signal Jaccard misses when sizes differ (Broder
    1997).  Oracle-exact: integer gram counts and one IEEE-exact
    BIGINT-through-double division; the rare-gram df cap bounds the
    quadratic term on both engines."""
    return dedup.containment_pairs(t(spark, sf_dir, "documents"))


@_register("ngram_overlap_pairs", _ngram_overlap_oracle())
def ngram_overlap_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trigram-overlap pairs with shared-gram counts
    (dedup.ngram_overlap_pairs) — the exact-substring-dedup signal
    (Lee et al. 2022) as an oracle-exact operator: unlike the
    MinHash/SimHash candidate generators, the overlap count here is
    exact by construction, and the rare-gram df cap (not a star guard,
    which would corrupt counts) bounds the quadratic term.  One gram
    shuffle, generator pair expansion, pair-grain count — no join
    operator in the Spark plan."""
    return dedup.ngram_overlap_pairs(t(spark, sf_dir, "documents"))


@_register("simhash32_band_pairs", _simhash32_pairs_oracle())
def simhash32_band_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-exact near-dup CANDIDATE pairs (dedup.simhash32_band_pairs):
    the first candidate-generation query the differential gate can check
    value-exactly — signature, banding, and pair expansion all built from
    cross-engine-exact primitives.  The xxhash64 MinHash-LSH path stays
    the production default (faster hashes, tunable recall).  Note: the
    synthetic corpus draws from a ~50-word vocabulary, so simhashes
    concentrate and the candidate rate (~10%) is far above what a real
    corpus produces — the check certifies the machinery, not the recall
    curve (that is ann_recall_report's job)."""
    return dedup.simhash32_band_pairs(t(spark, sf_dir, "documents"))


def _shingle_cte_sql() -> str:
    """DuckDB twin of dedup.shingle_rows(k=3) + collect_set: distinct
    word 3-grams with the short-doc slice clamp (docs under 3 words
    shingle to the whole text)."""
    return rf"""
        SELECT doc_id, list(DISTINCT g) AS sh
        FROM ({_trigram_rows_clamped_sql()}) WHERE g IS NOT NULL
        GROUP BY doc_id
    """


def _jaccard_verify_lsh_oracle() -> str:
    return rf"""
    WITH cand AS (
        {_simhash32_pairs_oracle()}
    ), d AS (
        {_shingle_cte_sql()}
    )
    SELECT c.id_a, c.id_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
               AS jaccard
    FROM cand c
    JOIN d a ON c.id_a = a.doc_id
    JOIN d b ON c.id_b = b.doc_id
    """


def _minhash_estimate_oracle() -> str:
    """SQL twin of dedup.minhash_estimate_pairs: the SHARED minhash32
    candidate CTE chain (_minhash32_band_cte — one definition with the
    pairs oracle), then the 32-term signature match count joined against
    exact shingle Jaccard.  n_match is integer addition CAST to BIGINT
    (never SUM — DuckDB SUM widens to HUGEINT and the driver hash is
    type-sensitive); /32.0 is dyadic-exact, and the est−exact
    subtraction is the same IEEE op on identical doubles in both
    engines, so nothing needs rounding."""
    nm = " + ".join(
        f"(CASE WHEN ga.m{i} = gb.m{i} THEN 1 ELSE 0 END)" for i in range(32)
    )
    return f"""
    WITH {_minhash32_band_cte()}, d AS (
        {_shingle_cte_sql()}
    ), scored AS (
        SELECT c.id_a, c.id_b,
               CAST({nm} AS BIGINT) AS n_match,
               CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE)
                   / (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh)))
                   AS exact_jaccard
        FROM cand c
        JOIN g ga ON ga.doc_id = c.id_a
        JOIN g gb ON gb.doc_id = c.id_b
        JOIN d da ON da.doc_id = c.id_a
        JOIN d db ON db.doc_id = c.id_b
    )
    SELECT id_a, id_b, n_match,
           n_match / 32.0 AS est_jaccard,
           exact_jaccard,
           abs(n_match / 32.0 - exact_jaccard) AS abs_err
    FROM scored
    """


@_register("minhash_estimate_audit", _minhash_estimate_oracle())
def minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit (dedup.minhash_estimate_pairs): per banded-
    MinHash candidate pair, the signature-ESTIMATED Jaccard (matching
    positions / 32) vs the EXACT word-3-gram Jaccard and the absolute
    error — the measured number that justifies budgeting or skipping
    exact verify passes at 100 TB.  Every primitive is cross-engine
    exact (md5-BE32, arithmetic rehash family, integer match counts,
    dyadic /32), so the whole report hash-certifies with no rounding."""
    return dedup.minhash_estimate_pairs(t(spark, sf_dir, "documents"))


@_register("jaccard_verify_lsh", _jaccard_verify_lsh_oracle())
def jaccard_verify_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE production near-dup verify shape: LSH candidate generation
    (simhash32_band_pairs — banded, one shuffle) feeding the exact n-gram
    Jaccard verifier (dedup.jaccard_pairs with candidates=...), so the
    quadratic term is bounded by bucket size end to end.  Contrast with
    jaccard_word_pairs_src0, which demos the verifier on a coarse source
    block — this entry certifies the scale-safe composition value-exactly
    (md5-simhash candidates and intersect/union ratios are bit-identical
    across engines; the division of two small ints needs no rounding)."""
    docs = t(spark, sf_dir, "documents")
    cand = dedup.simhash32_band_pairs(docs)
    return dedup.jaccard_pairs(docs, candidates=cand)


def _levenshtein_verify_lsh_oracle() -> str:
    return rf"""
    WITH cand AS (
        {_simhash32_pairs_oracle()}
    ), d AS (
        SELECT doc_id, regexp_replace(lower(text), '{_WST}', '', 'g') AS tx
        FROM documents WHERE n_chars < 220
    )
    SELECT c.id_a, c.id_b, levenshtein(a.tx, b.tx) AS edit_dist
    FROM cand c
    JOIN d a ON c.id_a = a.doc_id
    JOIN d b ON c.id_b = b.doc_id
    """


@_register("levenshtein_verify_lsh", _levenshtein_verify_lsh_oracle())
def levenshtein_verify_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verify fed by LSH candidates (dedup.levenshtein_pairs):
    the character-level complement of jaccard_verify_lsh, O(len²) DP
    bounded to candidate pairs of short docs (n_chars < 220 pushes to the
    scan on both engines).  JVM levenshtein built-in vs DuckDB's — same
    classic DP, integer-exact."""
    docs = t(spark, sf_dir, "documents")
    cand = dedup.simhash32_band_pairs(docs)
    return dedup.levenshtein_pairs(
        docs.filter(F.col("n_chars") < 220), cand
    )


@_register(
    "trigram_novelty_by_source",
    rf"""
    WITH shr AS (
        SELECT DISTINCT doc_id, source, g
        FROM ({_trigram_rows_sql(", source")}) WHERE g IS NOT NULL
    ), g2 AS (
        SELECT g, source, count(*) AS c, min(doc_id) AS mind
        FROM shr GROUP BY g, source
    ), g3 AS (
        SELECT source, c,
               sum(c) OVER (PARTITION BY g) AS nd,
               row_number() OVER (PARTITION BY g ORDER BY mind) AS rn
        FROM g2
    )
    SELECT source,
           CAST(sum(c) AS BIGINT) AS shingle_slots,
           count(*) AS distinct_shingles,
           CAST(coalesce(sum(CASE WHEN nd >= 2 THEN c END), 0) AS BIGINT)
               AS dup_slots,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS owned_shingles,
           CAST(CAST(coalesce(sum(CASE WHEN nd >= 2 THEN c END), 0) AS BIGINT)
                AS DOUBLE) / CAST(sum(c) AS BIGINT) AS dup_ratio
    FROM g3 GROUP BY source ORDER BY source
    """,
)
def trigram_novelty_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-redundancy attribution by source
    (textstats.shingle_novelty_report): per-doc-distinct word trigram
    slots, how many are corpus-duplicated (held by >= 2 docs anywhere),
    and how many trigrams each source saw FIRST (min doc_id) — the
    contribute-vs-recrawl signal a data-mixing stage weighs sources by.
    Integer-exact; the ratio divides the same two BIGINTs on both
    engines, so no rounding helper."""
    return textstats.shingle_novelty_report(t(spark, sf_dir, "documents"))


@_register("perplexity_buckets_by_lang", None)
def perplexity_buckets_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): per-doc
    corpus-trained bigram-LM scores (textstats.bigram_lm_scores) cut
    into per-language head/middle/tail tertiles — ntile(3) ordered by
    score DESC with a doc-id tie-break, head = most corpus-like — the
    stage CCNet uses to keep head+middle and drop tail.  Rows-only BY
    DESIGN: the tertile boundaries sit directly on a transcendental
    (ln) score, where a last-ulp engine difference moves whole docs
    across buckets and flips integer counts — exactly the trap the
    no-new-transcendental-pairings rule exists for; the bucket-balance
    and ordering properties are pinned in tests instead.

    Buckets cover the SCORABLE corpus: documents with fewer than two LM
    tokens have no bigrams, get no score, and are dropped by the inner
    join — per-lang n_docs sums to the scorable count, not the raw
    corpus count (pair with gopher_quality_report's word-count gate for
    the docs a real pipeline would have already removed).

    Scale shape: bigram_lm_scores is the three-exchange occurrence
    pipeline documented on the function; the bucketing adds one
    doc-grain join + one window over (lang) — doc-grain, never
    occurrence-grain."""
    docs = t(spark, sf_dir, "documents")
    scores = textstats.bigram_lm_scores(docs)
    d = (
        docs.select("doc_id", "lang", "n_chars")
        .join(scores, F.col("doc_id") == F.col("id"))
        .drop("id")
    )
    tile = F.ntile(3).over(
        Window.partitionBy("lang").orderBy(
            F.desc("lm_score"), F.asc("doc_id")
        )
    )
    label = F.element_at(
        F.array(F.lit("head"), F.lit("middle"), F.lit("tail")), tile
    )
    return (
        d.withColumn("bucket", label)
        .groupBy("lang", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            _r(F.avg("lm_score"), 6).alias("mean_lm_score"),
            _r(F.avg("n_chars"), 2).alias("mean_chars"),
        )
        .orderBy("lang", "bucket")
    )


@_register("bpe_encode_report", None)
def bpe_encode_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization with the corpus-trained BPE (rows-only: the
    trainer is iterative, not SQL): learn 24 merges from the word-
    frequency table (vocab-bounded in-memory path — one corpus pass,
    one Spark job), then encode EVERY document through bpe.apply_bpe's
    vocab-first join (tokenize each distinct word once, never each
    occurrence; AQE broadcasts the mapping exactly when it fits) and report per-language corpus token economics —
    the numbers a packing/context-budget stage consumes.  Two corpus
    passes total (frequency pass + encode pass); everything between is
    vocabulary-scale."""
    from waddleml_spark.llmops import bpe

    docs = t(spark, sf_dir, "documents")
    merges = bpe.train_bpe(bpe.word_freqs(docs), n_merges=24)
    enc = bpe.apply_bpe(docs, merges)
    d = (
        docs.select("doc_id", "lang")
        .join(enc, F.col("doc_id") == F.col("id"))
        .drop("id")
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").alias("total_words"),
            F.sum("n_tokens").alias("total_bpe_tokens"),
            _r(F.sum("n_tokens") / F.sum("n_words"), 4).alias(
                "tokens_per_word"
            ),
        )
        .orderBy("lang")
    )


@_register("temperature_mix_report", None)
def temperature_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling mixture (the multilingual-LM rebalance
    of Conneau/XLM-R and mT5): per source, raw token share p_i and the
    tau=0.7-adjusted sampling share q_i ∝ p_i^tau, plus the resulting
    upsample factor q_i/p_i — >1 means the schedule oversamples the
    source relative to its natural share (small sources gain, dominant
    ones shed).  Rows-only BY DESIGN: pow/exp are transcendental, the
    no-new-transcendental-pairings rule applies; flattening invariants
    (shares sum to 1, tau<1 shrinks the max share and lifts the min,
    tau=1 reduces to raw shares) are pinned in tests.

    Scale shape: one token-count pass to source grain (map-side
    partials), then all mixture math on the ~|sources|-row aggregate via
    the shared mixing.smoothed_shares helper (one definition with
    domain_mix_report's alpha-smoothing) — a one-task window pass over
    tens of rows.  A zero-token source keeps its row with a NULL
    upsample factor (try_divide) instead of crashing under ANSI 0/0."""
    from waddleml_spark.llmops.mixing import smoothed_shares

    d = t(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.sum(textstats.word_count(F.col("text"))).alias("total_tokens")
    )
    return (
        smoothed_shares(
            per,
            "total_tokens",
            alpha=0.7,
            share_names=("raw_share", "temp_share", "upsample_factor"),
            digits=(6, 6, 4),
        )
        .select(
            "source",
            "total_tokens",
            "raw_share",
            "temp_share",
            "upsample_factor",
        )
        .orderBy("source")
    )


# --- URL canonicalization dedup (crawl-pipeline stage; llmops.urlnorm) ---

# Deterministic messy-URL plant, shared VERBATIM between engines (the
# pii_scrub_report pattern): the corpus has no url column, so both sides
# derive one from doc_id with every canonicalization-relevant variation —
# scheme case, www prefix, host case, explicit default port, trailing
# slash vs /index.html, tracking params in varying positions, param
# order, fragment.  Canonical key dims: host (doc_id%10), page
# (doc_id%8), lang param (doc_id%2), extra-params flag (doc_id%7=3) —
# every other dim must collapse.  ASCII-only by construction (the lower()
# dialect rule).
def _url_plant(host_dim: str = "doc_id % 10") -> str:
    """The messy-URL plant with a parameterized HOST dimension:
    doc_ids stride by 20 within a source, so any linear `doc_id % 10`
    host is CONSTANT per source — fine for the dedup/cap reports
    (domain grain), degenerate for per-source diversity.  Callers that
    need domains to VARY within a source pass a stride-breaking
    expression (floor-div spelled verbatim-shareable: Spark floor()
    returns BIGINT, DuckDB's DOUBLE — the CAST makes both BIGINT)."""
    return f"""
concat(
  CASE doc_id % 3 WHEN 0 THEN 'http' WHEN 1 THEN 'https' ELSE 'HTTPS' END,
  '://',
  CASE WHEN doc_id % 4 = 0 THEN 'WWW.'
       WHEN doc_id % 4 = 2 THEN 'www.' ELSE '' END,
  CASE WHEN doc_id % 2 = 0 THEN 'EXAMPLE' ELSE 'example' END,
  CAST({host_dim} AS STRING),
  CASE WHEN doc_id % 2 = 0 THEN '.COM' ELSE '.com' END,
  CASE doc_id % 5 WHEN 0 THEN ':443' WHEN 1 THEN ':80' ELSE '' END,
  '/page/', CAST(doc_id % 8 AS STRING),
  CASE WHEN doc_id % 9 < 3 THEN '/'
       WHEN doc_id % 9 = 3 THEN '/index.html' ELSE '' END,
  CASE doc_id % 7
    WHEN 0 THEN concat('?utm_source=feed&lang=',
                       CASE WHEN doc_id % 2 = 0 THEN 'en' ELSE 'de' END)
    WHEN 1 THEN concat('?lang=',
                       CASE WHEN doc_id % 2 = 0 THEN 'en' ELSE 'de' END,
                       '&utm_campaign=x')
    WHEN 2 THEN concat('?lang=',
                       CASE WHEN doc_id % 2 = 0 THEN 'en' ELSE 'de' END,
                       '&ref=home')
    WHEN 3 THEN concat('?z=1&lang=',
                       CASE WHEN doc_id % 2 = 0 THEN 'en' ELSE 'de' END,
                       '&a=2')
    ELSE concat('?lang=',
                CASE WHEN doc_id % 2 = 0 THEN 'en' ELSE 'de' END)
  END,
  CASE WHEN doc_id % 6 = 0 THEN '#top' ELSE '' END
)
"""


_URL_PLANT = _url_plant()


def _url_dedup_oracle() -> str:
    from waddleml_spark.llmops import urlnorm

    inner = f"SELECT doc_id, {_URL_PLANT} AS url FROM documents"
    canon = urlnorm.canonical_url_subquery_sql(inner)
    return f"""
    SELECT canonical_url, count(*) AS n_docs,
           count(DISTINCT url) AS n_variants,
           min(doc_id) AS keeper_id
    FROM ({canon}) GROUP BY canonical_url HAVING count(*) >= 2
    """


@_register("url_dedup_report", _url_dedup_oracle())
def url_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup: collapse scheme/case/www/default-port/
    trailing-slash/index.html/fragment/tracking-param/param-order
    variants to one canonical URL, then report each canonical group
    (>= 2 members) with its size, how many RAW variants collapsed into
    it, and the keeper (min doc_id — exact_dedup's rule).

    The canonicalization is one shared staged definition
    (llmops.urlnorm._canon_stages) rendered per dialect, so Spark and
    the DuckDB oracle cannot drift structurally; the regex/anchor/
    lower() dialect rules are enforced there and fuzz-pinned in
    tests/test_properties.py.

    Scale shape: plant + canonicalization are ONE map-only projection
    (no shuffle); the group-by on the canonical string is the single
    exchange, with map-side partial aggregation collapsing each group's
    variants before the shuffle — exact_dedup's posture with a derived
    key.  The single count(DISTINCT url) rewrites to a two-phase
    aggregate (no Expand: the multi-distinct rule needs >= 2 distincts
    mixed with plain aggs)."""
    d = t(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"{_URL_PLANT} AS url"
    )
    from waddleml_spark.llmops import urlnorm

    return (
        urlnorm.with_canonical_url(d)
        .groupBy("canonical_url")
        .agg(
            F.expr("count(*) AS n_docs"),
            F.expr("count(DISTINCT url) AS n_variants"),
            F.expr("min(doc_id) AS keeper_id"),
        )
        .filter("n_docs >= 2")
    )


# 25 BINDS at driver SF (sf0.01: 50 docs/domain -> 25 kept, 25
# dropped), so the md5-rank keeper selection is actually exercised by
# the hash compare, not just the count arithmetic
_DOMAIN_CAP = 25


def _domain_cap_oracle() -> str:
    from waddleml_spark.llmops import urlnorm

    cap = _DOMAIN_CAP
    inner = f"SELECT doc_id, n_chars, {_URL_PLANT} AS url FROM documents"
    dom = urlnorm.registered_domain_subquery_sql(
        urlnorm.canonical_url_subquery_sql(inner)
    )
    h = _md5_be32_sql("CAST(doc_id AS STRING)")
    return f"""
    WITH r AS (
        SELECT domain, n_chars,
               row_number() OVER (PARTITION BY domain
                                  ORDER BY {h}, doc_id) AS rk
        FROM ({dom}))
    SELECT domain,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN rk <= {cap} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(sum(CASE WHEN rk > {cap} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dropped,
           CAST(sum(CASE WHEN rk <= {cap} THEN n_chars ELSE 0 END)
               AS BIGINT) AS kept_chars,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM r GROUP BY domain
    """


@_register("domain_cap_report", _domain_cap_oracle())
def domain_cap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap audit (urlnorm.domain_capped_keepers' report twin):
    the CCNet/RefinedWeb crawl-curation stage — registered domain from
    the canonical URL (r9's staged canonicalization + the r10 domain
    stage, ONE shared definition per dialect), then per-domain doc
    counts, the deterministically-capped keeper stats (md5-rank within
    domain — exact_dedup's keeper rule applied to a quota), and the
    char budget the cap keeps vs drops.

    Scale shape: plant + canonicalization + domain are ONE map-only
    projection; the domain-grain window is the single exchange before
    the domain-grain agg reuses its partitioning.  A mega-domain makes
    the window a hot key — at crawl scale pre-aggregate counts and rank
    members only for domains past the cap (urlnorm.domain_capped_keepers
    docstring).
    Integer sums CAST to BIGINT in the oracle (the HUGEINT rule)."""
    from pyspark.sql import Window

    from waddleml_spark.llmops import urlnorm
    from waddleml_spark.llmops.dedup import _md5_be32

    cap = _DOMAIN_CAP
    d = t(spark, sf_dir, "documents").selectExpr(
        "doc_id", "n_chars", f"{_URL_PLANT} AS url"
    )
    dom = urlnorm.with_registered_domain(urlnorm.with_canonical_url(d))
    w = Window.partitionBy("domain").orderBy(
        _md5_be32(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    kept = F.col("rk") <= cap
    return (
        dom.withColumn("rk", F.row_number().over(w))
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(~kept, 1).otherwise(0)).alias("n_dropped"),
            F.sum(F.when(kept, F.col("n_chars")).otherwise(0)).alias(
                "kept_chars"
            ),
            F.sum("n_chars").alias("total_chars"),
        )
    )


# stride-breaking host dimension for the per-source diversity pair:
# doc_ids stride 20 within a source, so the shared plant's doc_id % 10
# host is constant per source (measured: every entropy = 0).  Floor-div
# by the stride makes the host cycle WITHIN each source; spelled so the
# identical text runs on both engines (Spark floor -> BIGINT, DuckDB
# floor -> DOUBLE; the CAST lands both on BIGINT).
_HOST_DIM_DECORR = "CAST(floor(doc_id / 20.0) AS BIGINT) % 10"


def _domain_entropy_oracle() -> str:
    from waddleml_spark.llmops import urlnorm

    inner = (
        f"SELECT doc_id, source, {_url_plant(_HOST_DIM_DECORR)} AS url "
        "FROM documents"
    )
    dom = urlnorm.registered_domain_subquery_sql(
        urlnorm.canonical_url_subquery_sql(inner)
    )
    return f"""
    WITH per AS (
        SELECT source, domain, CAST(count(*) AS BIGINT) AS c
        FROM ({dom}) GROUP BY source, domain),
    agg AS (
        SELECT source,
               CAST(sum(c) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_domains,
               CAST(max(c) AS BIGINT) AS top_c,
               sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS s
        FROM per GROUP BY source)
    SELECT source, n_docs, n_domains,
           CAST(top_c AS DOUBLE) / CAST(n_docs AS DOUBLE) AS top_share,
           {_r_sql('ln(CAST(n_docs AS DOUBLE)) - s / CAST(n_docs AS DOUBLE)', 6)}
               AS domain_entropy
    FROM agg
    """


@_register("domain_entropy_by_source", _domain_entropy_oracle())
def domain_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source domain diversity — the crawl-curation companion to
    domain_cap_report: Shannon entropy of each source's registered-
    domain distribution (ln n = perfectly even, 0 = single-domain) plus
    the top-domain share.  A source dominated by one domain is a
    syndication/mirror red flag the cap stage then handles.

    Entropy via the aggregate identity H = ln(n) − (Σ c·ln c)/n so the
    per-domain pass needs no total: per-term doubles are bit-identical
    cross-engine and the domain-order-nondeterministic sum goes through
    the house _r(6) floor (the bigram-LM ln rule).  top_share is one
    exact IEEE division of two deterministic BIGINTs — no rounding
    needed.

    Scale shape: map-only plant + canonicalization + domain, one
    (source, domain)-grain exchange with map-side partials, then a
    source-grain aggregate — nothing wider than the domain vocabulary
    ever shuffles.  Integer aggregates CAST to BIGINT in the oracle
    (the HUGEINT rule)."""
    from waddleml_spark.llmops import urlnorm

    d = t(spark, sf_dir, "documents").selectExpr(
        "doc_id", "source", f"{_url_plant(_HOST_DIM_DECORR)} AS url"
    )
    per = (
        urlnorm.with_registered_domain(urlnorm.with_canonical_url(d))
        .groupBy("source", "domain")
        .agg(F.count("*").alias("c"))
    )
    cd = F.col("c").cast("double")
    agg = per.groupBy("source").agg(
        F.sum("c").alias("n_docs"),
        F.count("*").alias("n_domains"),
        F.max("c").alias("top_c"),
        F.sum(cd * F.log(cd)).alias("s"),
    )
    nd = F.col("n_docs").cast("double")
    return agg.select(
        "source",
        "n_docs",
        "n_domains",
        (F.col("top_c").cast("double") / nd).alias("top_share"),
        _r(F.log(nd) - F.col("s") / nd, 6).alias("domain_entropy"),
    )


@_register(
    "gram_df_histogram",
    rf"""
    WITH h AS (
        SELECT doc_id, {_md5_be32_sql('g')} AS h32
        FROM ({_trigram_rows_clamped_sql()}) WHERE g IS NOT NULL),
    d AS (
        SELECT h32, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        FROM h GROUP BY h32)
    SELECT df,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(df * count(*) AS BIGINT) AS doc_gram_slots
    FROM d GROUP BY df
    """,
)
def gram_df_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-frequency histogram of word trigrams: how many distinct
    gram hashes appear in exactly df documents — THE tuning signal for
    every df-capped dedup stage here (ngram_overlap / containment /
    rare-gram blocking read the df cap, STAR_CAP, off this curve; the
    boilerplate tail the star guards exist for is its high-df end).

    df = distinct docs holding ≥1 gram hashing to the md5-BE32 value
    (hash-grain semantics, mirrored verbatim in the oracle — two
    distinct grams colliding into one hash count as one entry on BOTH
    sides).  Shares the house shingle construction (shingle_rows /
    _trigram_rows_clamped_sql — the linear zipped form, never a list
    slice: the DuckDB quadratic-lambda trap).

    Scale shape: one gram-grain exchange (countDistinct of a single key
    rewrites to a two-phase aggregate, no Expand; partial aggregation
    collapses each partition's repeats map-side) + a df-grain aggregate
    whose cardinality is bounded by the max df, not the corpus.  All
    integers — oracle-exact with BIGINT casts."""
    from waddleml_spark.llmops.dedup import _md5_be32, shingle_rows

    sh = shingle_rows(
        t(spark, sf_dir, "documents"), distinct=False
    ).select(_md5_be32(F.col("__s")).alias("h32"), "id")
    dfs = sh.groupBy("h32").agg(F.countDistinct("id").alias("df"))
    return (
        dfs.groupBy("df")
        .agg(F.count("*").alias("n_grams"))
        .select(
            "df",
            "n_grams",
            (F.col("df") * F.col("n_grams")).alias("doc_gram_slots"),
        )
    )


# stand-in for the external blocklist a real crawl pipeline loads
# (UT1/adult-site lists etc.) — a bounded table, rendered as VALUES in
# the oracle and a broadcast frame in Spark so the plan shape IS the
# production one (broadcast anti/left join, never an IN literal scan)
_BLOCKED_DOMAINS = (
    "example0.com", "example3.com", "example6.com", "example9.com"
)


def _domain_blocklist_oracle() -> str:
    from waddleml_spark.llmops import urlnorm

    inner = f"SELECT doc_id, source, {_URL_PLANT} AS url FROM documents"
    dom = urlnorm.registered_domain_subquery_sql(
        urlnorm.canonical_url_subquery_sql(inner)
    )
    values = ", ".join(f"('{d}')" for d in _BLOCKED_DOMAINS)
    return f"""
    WITH bl AS (SELECT * FROM (VALUES {values}) t(domain))
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN domain IN (SELECT domain FROM bl)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
           CAST(sum(CASE WHEN domain IN (SELECT domain FROM bl)
                         THEN 0 ELSE 1 END) AS BIGINT) AS n_kept
    FROM ({dom}) GROUP BY source
    """


@_register("domain_blocklist_report", _domain_blocklist_oracle())
def domain_blocklist_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain blocklist filtering — the remaining standard crawl-curation
    stage (CCNet/RefinedWeb drop documents whose registered domain is on
    an external blocklist): per source, docs blocked vs kept.

    The blocklist is a TABLE, not an IN literal, so the Spark plan is
    the production shape: a broadcast LEFT join (bounded by construction
    — blocklists are thousands of rows at any corpus size) marking
    blocked rows, then one source-grain aggregate; at 100 TB the
    blocklist broadcast is exactly how this stage runs.  The oracle
    renders the same list as VALUES.  Integer sums CAST to BIGINT."""
    from waddleml_spark.llmops import urlnorm

    d = t(spark, sf_dir, "documents").selectExpr(
        "doc_id", "source", f"{_URL_PLANT} AS url"
    )
    dom = urlnorm.with_registered_domain(urlnorm.with_canonical_url(d))
    bl = spark.createDataFrame(
        [(x,) for x in _BLOCKED_DOMAINS], "domain string"
    ).withColumn("__b", F.lit(1))
    marked = dom.join(F.broadcast(bl), "domain", "left")
    return marked.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.coalesce(F.col("__b"), F.lit(0))).alias("n_blocked"),
        F.sum(
            F.when(F.col("__b").isNull(), 1).otherwise(0)
        ).alias("n_kept"),
    )


@_register(
    "boilerplate_phrases_report",
    rf"""
    WITH p AS (
        SELECT doc_id, source, string_agg(wd, ' ' ORDER BY i) AS ct
        FROM ({_word_pos_sql(", source")})
        GROUP BY doc_id, source, CAST(floor((i - 1) / 20) AS BIGINT)
    ), d AS (
        SELECT source, ct, doc_id, count(*) AS c
        FROM p GROUP BY source, ct, doc_id
    ), g AS (
        SELECT source, ct, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(c) AS BIGINT) AS n_inst
        FROM d GROUP BY source, ct
        HAVING count(*) >= 2
    )
    SELECT source, rank, phrase, n_docs, n_inst FROM (
        SELECT source,
               CAST(row_number() OVER (
                   PARTITION BY source
                   ORDER BY n_docs DESC, n_inst DESC, ct
               ) AS BIGINT) AS rank,
               ct AS phrase, n_docs, n_inst
        FROM g) t WHERE rank <= 5
    """,
)
def boilerplate_phrases_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top boilerplate phrases per source (dedup.boilerplate_phrases):
    the 5 twenty-word chunks repeated across the most documents — the
    human-readable curation view (what text IS the boilerplate) the
    hash-grain dedup reports cannot show.  Explicit two-phase doc
    count (no countDistinct/Expand); the rank window's row_number ≤ 5
    compiles to a map-side partial WindowGroupLimit over the
    qualifying-phrase vocabulary."""
    return dedup.boilerplate_phrases(t(spark, sf_dir, "documents")).select(
        "source", "rank", "phrase", "n_docs", "n_inst"
    )


def _url_structure_oracle() -> str:
    from waddleml_spark.llmops import urlnorm

    inner = f"SELECT doc_id, source, {_URL_PLANT} AS url FROM documents"
    st = urlnorm.url_structure_subquery_sql(
        urlnorm.canonical_url_subquery_sql(inner)
    )
    return f"""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(CAST(sum(path_depth) AS BIGINT) AS DOUBLE)
               / CAST(count(*) AS BIGINT) AS avg_path_depth,
           CAST(100 AS DOUBLE) * CAST(sum(has_query) AS BIGINT)
               / CAST(count(*) AS BIGINT) AS pct_with_query,
           CAST(CAST(sum(n_params) AS BIGINT) AS DOUBLE)
               / CAST(count(*) AS BIGINT) AS avg_query_params
    FROM ({st}) GROUP BY source
    """


@_register("url_structure_report", _url_structure_oracle())
def url_structure_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL structure profile per source — the crawl-frontier curation
    signal (deep paths and param-heavy URLs correlate with calendars,
    faceted search, session junk; CCNet-style pipelines budget crawl
    depth on exactly these): canonical-URL path depth (raw slash
    count), query presence, and parameter counts, aggregated per
    source.  The structure stages are ONE shared definition rendered
    per dialect (urlnorm._structure_stages — pure string built-ins,
    no regex); plant + canonicalization + structure are map-only, the
    source-grain aggregate is the single exchange.  All aggregates
    are integer sums through IEEE double — exact cross-engine."""
    from waddleml_spark.llmops import urlnorm

    d = t(spark, sf_dir, "documents").selectExpr(
        "doc_id", "source", f"{_URL_PLANT} AS url"
    )
    st = urlnorm.with_url_structure(urlnorm.with_canonical_url(d))
    n = F.count("*")
    return st.groupBy("source").agg(
        n.alias("n_urls"),
        (F.sum("path_depth").cast("double") / n).alias("avg_path_depth"),
        (F.lit(100.0) * F.sum("has_query") / n).alias("pct_with_query"),
        (F.sum("n_params").cast("double") / n).alias("avg_query_params"),
    )


@_register("neardup_cluster_sizes", None)
def neardup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size histogram: MinHash-LSH candidate pairs →
    connected components (min-label pointer jumping) → how many
    clusters of each size the corpus carries — the audit a dedup keeper
    policy reads (a fat tail of giant clusters means boilerplate, not
    near-duplication, and argues for the star guard / df caps).
    Clusters are size ≥ 2 by construction (components exist only where
    candidate edges do); singleton count = corpus minus clustered docs.

    Rows-only BY DESIGN (the CC iteration is not SQL-expressible —
    same class as semantic_dedup_report).  Scale shape: the candidate
    pipeline's band shuffles + O(log diameter) CC rounds, then two tiny
    component-grain aggregates."""
    d = t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_candidates(d)
    comp = dedup.connected_components(pairs)
    sizes = comp.groupBy("component").agg(
        F.count("*").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


def _shard_plan_oracle() -> str:
    from waddleml_spark.llmops.packing import N_SHARDS as n_shards

    h = _md5_be32_sql("CAST(doc_id AS STRING)")
    return f"""
    SELECT doc_id,
           CAST(h % {n_shards} AS BIGINT) AS shard,
           CAST(COUNT(*) OVER w AS BIGINT) AS pos,
           CAST(SUM(n_chars) OVER w AS BIGINT) AS cum_size
    FROM (SELECT doc_id, n_chars, {h} AS h FROM documents)
    WINDOW w AS (PARTITION BY h % {n_shards} ORDER BY h, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """


@_register("training_shard_plan", _shard_plan_oracle())
def training_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shard+shuffle export plan (packing.training_shard_plan):
    md5-keyed shard assignment, reproducible in-shard training order, and
    a per-shard running size budget — the writer-facing stage after
    packing/resampling.  Oracle-exact: the shared md5-BE32 key, integer
    modulo, and ROWS-frame count/sum windows are bit-identical
    cross-engine (pos via COUNT(*) OVER the ROWS frame — both engines
    type it BIGINT, where row_number() is INT in Spark)."""
    from waddleml_spark.llmops.packing import training_shard_plan as _plan

    return _plan(t(spark, sf_dir, "documents"))


@_register(
    "source_overlap_matrix",
    rf"""
    WITH p AS (
        SELECT doc_id, source,
               md5(string_agg(wd, ' ' ORDER BY i)) AS ph
        FROM ({_word_pos_sql(", source")})
        GROUP BY doc_id, source, CAST(floor((i - 1) / 20) AS BIGINT)
    ), g AS (
        SELECT ph, source, count(*) AS c FROM p GROUP BY ph, source
    ), x AS (
        SELECT a.source AS source_a, b.source AS source_b
        FROM g a JOIN g b ON a.ph = b.ph AND a.source < b.source
        UNION ALL
        SELECT source, source FROM g WHERE c >= 2
    )
    SELECT source_a, source_b, count(*) AS n_shared_passages
    FROM x GROUP BY source_a, source_b
    """,
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source passage-duplication matrix
    (dedup.source_overlap_matrix): distinct 20-word chunk hashes shared
    by each source pair — the syndication/mirror curation signal; the
    diagonal is each source's internal duplication mass at the same
    grain.  Oracle-exact integer counts on the shared _passage_inst /
    _word_pos_sql chunk grain (one tokenizer definition both sides)."""
    return dedup.source_overlap_matrix(t(spark, sf_dir, "documents"))


@_register(
    "dsir_importance_by_source",
    rf"""
    WITH toks AS (
        SELECT doc_id, lang,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
               generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
        FROM documents),
    big AS (
        SELECT doc_id, lang, tok AS w1,
               lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM toks),
    feat AS (
        SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tgt,
               {_md5_be32_sql("concat(w1, ' ', w2)")} % 1024 AS bkt
        FROM big WHERE w2 IS NOT NULL),
    bt AS (
        SELECT bkt, CAST(count(*) AS BIGINT) AS c_r,
               CAST(sum(tgt) AS BIGINT) AS c_t
        FROM feat GROUP BY bkt),
    tot AS (
        SELECT bkt, c_r, c_t,
               CAST(SUM(c_r) OVER () AS BIGINT) AS t_r,
               CAST(SUM(c_t) OVER () AS BIGINT) AS t_t
        FROM bt),
    lw AS (
        SELECT bkt,
               ln(((c_t + 1) * 1.0 / (t_t + 1024))
                  / ((c_r + 1) * 1.0 / (t_r + 1024))) AS lw
        FROM tot),
    doc_scores AS (
        SELECT f.doc_id, {_r_sql('sum(lw)', 6)} AS importance
        FROM feat f JOIN lw ON lw.bkt = f.bkt
        GROUP BY f.doc_id)
    SELECT d.source, count(*) AS n_docs,
           {_r_sql('avg(s.importance)', 6)} AS avg_importance
    FROM doc_scores s JOIN documents d ON d.doc_id = s.doc_id
    GROUP BY d.source
    """,
)
def dsir_importance_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data-selection importance (textstats.dsir_scores) aggregated
    per source, target = English docs: the Xie et al. 2023 hashed-bigram
    importance-resampling weight — which sources look most like the
    target distribution and deserve upsampling.  Oracle pattern is
    bigram_lm's: integer bucket counts, ln through the _r(6) floor
    rounding, per-source mean of the rounded per-doc scores."""
    d = t(spark, sf_dir, "documents")
    scores = textstats.dsir_scores(d, F.col("lang").eqNullSafe("en"))
    return (
        scores.join(d.select(F.col("doc_id").alias("id"), "source"), "id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            _r(F.avg("importance"), 6).alias("avg_importance"),
        )
    )


@_register(
    "hard_negatives_b8",
    f"""
    WITH q AS (
        SELECT vec_id AS qid, label AS qlabel,
               CAST(embedding AS DOUBLE[]) AS qd
        FROM embeddings WHERE vec_id < 8),
    c AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ed
        FROM embeddings),
    s AS (
        SELECT qid, vec_id, label, {_COS_SQL} AS cs,
               CAST(row_number() OVER (
                   PARTITION BY qid ORDER BY {_COS_SQL} DESC, vec_id
               ) AS BIGINT) AS rnk
        FROM c JOIN q ON c.label <> q.qlabel)
    SELECT qid, rnk, vec_id, label, {_r_sql('cs', 6)} AS cos_sim
    FROM s WHERE rnk <= 3
    """,
)
def hard_negatives_b8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (similarity.hard_negative_topk): for each of
    8 anchor vectors, the 3 most-similar DIFFERENT-label vectors — the
    contrastive-training negatives a retrieval trainer wants.
    Oracle-exact: the r10 Arrow kernel accumulates dots
    DIMENSION-BY-DIMENSION — bit-identical to the left fold and to
    DuckDB's list_dot_product (the blocked_cosine_pairs contract,
    pinned against the expression twin by
    test_hard_negative_kernels_bit_identical), so ranking on it is
    deterministic; the rank is CAST to BIGINT on both sides (Spark
    row_number is INT)."""
    emb = t(spark, sf_dir, "embeddings")
    out = similarity.hard_negative_topk(emb, n_queries=8, k=3)
    return out.select(
        "qid", "rnk", "vec_id", "label", _r(F.col("cos_sim"), 6).alias("cos_sim")
    )


@_register(
    "doc_length_percentiles",
    """
    SELECT source, count(*) AS n_docs,
           quantile_cont(n_chars, 0.1) AS p10,
           quantile_cont(n_chars, 0.5) AS p50,
           quantile_cont(n_chars, 0.9) AS p90,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY source
    """,
)
def doc_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length distribution (exact interpolated
    percentiles + max) — the signal a truncation/chunking policy reads
    before setting sequence budgets.  Same exact-percentile pairing as
    quantiles_by_type (Spark percentile == DuckDB quantile_cont
    bit-for-bit: same sort + linear interpolation over integers); ONE
    array-argument percentile call per group so the value buffer is
    collected and sorted once.  Exact percentile buffers every group
    value — at true 100 TB this flips to approx_percentile (the
    quantiles_by_type sketch-path rule); oracle-exactness is what keeps
    the exact form here."""
    d = t(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.expr("count(*) AS n_docs"),
            F.expr(
                "percentile(n_chars, array(0.1D, 0.5D, 0.9D)) AS __p"
            ),
            F.expr("CAST(max(n_chars) AS BIGINT) AS max_chars"),
        )
        .selectExpr(
            "source", "n_docs",
            "__p[0] AS p10", "__p[1] AS p50", "__p[2] AS p90",
            "max_chars",
        )
    )
