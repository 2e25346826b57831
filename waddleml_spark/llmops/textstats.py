"""Text analysis operators: quality scoring, token counting, language ID,
document fingerprinting (SURVEY.md §2.12).

All built from JVM-side expressions (split/regexp/md5/aggregate) — no Python
UDFs — so they stay inside whole-stage codegen and scale linearly with
partitions.  Each has a DuckDB-expressible twin in catalog.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window

from . import WS_CHARS, WS_RE, WS_TRIM_RE
from pyspark.sql import functions as F

# Word-ish tokens: runs of alphanumerics.  BPE-ish tokens additionally split
# out digits and punctuation (GPT-2-style pre-tokenizer, simplified).
WORD_RE = "[A-Za-z0-9]+"
# \s spelled via WS_CHARS: Java and RE2 disagree on \x0b, and this
# pattern has DuckDB oracle twins (token_totals_by_source et al.)
BPE_RE = f"[A-Za-z]+|[0-9]|[^A-Za-z0-9{WS_CHARS}]"

def lower_trim(text: Column) -> Column:
    """lowercase + explicit-class edge trim (WS_TRIM_RE) — NEVER the
    engine trim builtins: Spark's strips only ASCII space 0x20, DuckDB's
    strips the Unicode Zs category (NBSP, ideographic space), so a
    `lower(trim(...))` pairing is latently red on NBSP-edged text
    (found by the cross-engine tokenizer fuzz test).  SQL twin:
    regexp_replace(lower(text), WS_TRIM_RE, '', 'g')."""
    return F.regexp_replace(F.lower(text), WS_TRIM_RE, "")


# Tiny per-language stopword marker sets for the n-gram/stopword heuristic
# language-ID.  Deterministic, oracle-expressible.
LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "die"],
    "es": ["el", "la", "de"],
    "fr": ["le", "la", "et"],
    "zh": ["de", "le", "shi"],
}


def word_count(text: Column) -> Column:
    """Number of word tokens (regexp-based; identical to DuckDB
    len(regexp_extract_all(text, ...)))."""
    return F.size(F.regexp_extract_all(text, F.lit(WORD_RE), F.lit(0)))


def token_count_bpe(text: Column) -> Column:
    """BPE-ish token count: letters-run | single digit | single symbol."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_RE), F.lit(0)))


def punct_count(text: Column) -> Column:
    return F.size(
        F.regexp_extract_all(text, F.lit(f"[^A-Za-z0-9{WS_CHARS}]"), F.lit(0))
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features: lengths, token counts, ratios.

    The standard pre-training quality gates (length/punct/word ratios) as
    one projection; downstream filters are pushed predicates over these.
    """
    text = F.col(text_col)
    n_chars = F.length(text)
    n_words = word_count(text)
    return df.withColumns(
        {
            "q_chars": n_chars,
            "q_words": n_words,
            "q_tokens": token_count_bpe(text),
            "q_punct": punct_count(text),
            # doubles via explicit cast so ratios hash-match the oracle;
            # try_divide: a zero-word doc (punctuation-only / non-Latin)
            # must yield NULL, not an ANSI DIVIDE_BY_ZERO that kills the
            # job (round-6 review find; gopher_flags already does this)
            "q_avg_word_len": F.try_divide(
                n_chars.cast("double"), n_words.cast("double")
            ),
        }
    )


def stopword_score(text: Column, markers: list[str]) -> Column:
    """How many marker words occur in the text (word-boundary regex count)."""
    pat = "\\b(" + "|".join(markers) + ")\\b"
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(pat), F.lit(0)))


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: argmax of per-language marker-word counts.

    Adds `lang_pred` (NULL when no marker hits).  Deterministic tie-break:
    highest score wins, score ties pick the HIGHEST language code —
    pinned by the registered oracle (lang_pred_matrix checks codes in
    descending order), so do not "fix" it to lowest-wins.
    """
    text = F.col(text_col)
    scored = F.array(
        *[
            F.struct(
                stopword_score(text, m).alias("score"), F.lit(code).alias("lang")
            )
            for code, m in sorted(LANG_MARKERS.items())
        ]
    )
    # array_max on struct compares fieldwise: score first, then lang —
    # score ties DELIBERATELY resolve to the highest lang code (the
    # oracle mirrors this; an earlier comment here described an
    # inversion that never existed)
    best = F.array_max(scored)
    return df.withColumn(
        "lang_pred",
        F.when(best["score"] > 0, best["lang"]).otherwise(F.lit(None)),
    )


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text
    (lowercased, whitespace-collapsed).  Cross-engine stable (DuckDB md5)."""
    norm = F.regexp_replace(lower_trim(text), WS_RE, " ")
    return F.md5(norm)


def nopartial_gram_exprs(
    k: int, tok_col: str = "__t", n_col: str = "__n", i_col: str = "__i"
) -> tuple[Column, Column]:
    """(starts, gram) for the CODEGEN'D generator form of the word
    k-gram NO-PARTIALS semantics: ``starts`` is the
    0-based gram-position array (EMPTY for docs under k tokens — never
    shingle_rows' clamp), ``gram`` rebuilds the k-gram from a
    materialized token array + exploded index via plain F.get/concat_ws
    expressions.  ONE definition (the shingle_rows rule): the r10
    generator rebuilds (shingle_novelty_report, ngram_collision_report,
    bloom_decontamination_report) all consume this so the no-clamp
    semantics the hand-matched DuckDB twins depend on can never drift
    between sites.  Callers project ``tok_col``/``n_col``, explode
    ``starts`` as ``i_col``, then select ``gram``."""
    starts = F.when(
        F.col(n_col) >= k, F.sequence(F.lit(0), F.col(n_col) - k)
    ).otherwise(F.array().cast("array<int>"))
    gram = F.concat_ws(
        " ", *[F.get(F.col(tok_col), F.col(i_col) + j) for j in range(k)]
    )
    return starts, gram


def word_tokens(text: Column) -> Column:
    """Whitespace tokenization (lower, trim, collapse runs).

    ONE regex pass: splitting directly on the WS class is
    token-identical to the older replace(WS→' ')+split(' ') two-pass
    shape (lower_trim guarantees no leading/trailing WS, so no empty
    edge tokens either way; verified corpus-wide, round 6) and drops a
    full regexp_replace scan of the text — the map-stage cost center of
    every tokenizing query (minhash gram stage 0.36 → 0.30 s at sf0.1).
    The DuckDB oracles already split directly (str_split_regex)."""
    return F.split(lower_trim(text), WS_RE)


def ngram_collision_report(
    df: DataFrame,
    bench_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Benchmark-contamination check: for every non-benchmark document,
    does it share ANY word trigram with the benchmark set (`bench_pred`
    rows)?  Returns per-`group_col` (n_docs, n_contaminated).

    Scale shape: the benchmark shingle vocabulary is exploded, hashed
    distinct (bench-scale shuffle only) and broadcast; exploded corpus
    shingles hash-probe it via a marked broadcast LEFT join (O(1) per
    shingle — never an array scan per doc, and no row multiplication:
    the bench side is distinct).  The hit mark then collapses to
    (group, doc) grain INSIDE the partial aggregate — occurrence-scale
    rows never shuffle — and one more tiny exchange lands the per-group
    (n_docs, n_contaminated) in a single aggregation chain: exactly four
    shuffles end to end (fan_out spread, bench dedup, doc grain, group
    grain), no doc-grain distinct-then-rejoin barrier.  Zero-shingle
    docs survive via explode_outer's null row (null never matches the
    join key, so they count as docs, never as hits).  At real scale the
    benchmark side is small (eval sets) — the broadcast assumption
    every decontamination stage makes.  This is the standard
    decontamination pipeline stage (detect train/test overlap before
    training).
    """
    from waddleml_spark.session import fan_out

    # r10 rebuild (the trigram_novelty lesson, measured there first):
    # the HOF shape — transform(slice) shingle arrays + transform(xxhash64),
    # both interpreted per element — dominated the 100× wall; the generator
    # explode over start indices + plain concat_ws/xxhash64 expressions
    # stays whole-stage-codegen'd and shuffles nothing extra (the probe
    # is per-OCCURRENCE instead of per-doc-distinct, but hits collapse
    # in the same doc-grain partial aggregate, so "shares ANY gram" and
    # n_docs are value-identical).  Tokenize BEFORE the fan_out shuffle
    # (the exchange barrier stops Catalyst re-tokenizing per branch
    # below it); probe on gram HASHES so the broadcast set carries
    # longs.  The bench/corpus branches filter on __is_bench BELOW the
    # generate (non-generated column — Catalyst pushes it), so each
    # doc's grams are computed exactly once, in whichever branch owns
    # it.
    toks = word_tokens(F.col(text_col))
    base = fan_out(
        df.select(
            F.col(id_col).alias("__id"),
            F.col(group_col).alias("__grp"),
            bench_pred.alias("__is_bench"),
            toks.alias("__t"),
            F.size(toks).alias("__n"),
        )
    )
    # explode_OUTER, not plain explode, for two reasons: shingle-less
    # docs (< 3 tokens — empty starts array) must survive as a null row
    # so n_docs counts them, and InferFiltersFromGenerate clones an
    # inner explode's size()>0 filter below the fan_out exchange
    # (measured 2.6 s of the old 7 s) while outer generate is exempt.
    # The null __i row hashes to NULL, which never matches the join key.
    starts, gram = nopartial_gram_exprs(3)
    rows = base.select(
        "__id", "__grp", "__is_bench", "__t",
        F.explode_outer(starts).alias("__i"),
    ).select(
        "__id",
        "__grp",
        "__is_bench",
        F.when(F.col("__i").isNotNull(), F.xxhash64(gram)).alias("g"),
    )
    bench = (
        rows.filter(F.col("__is_bench"))
        .filter(F.col("g").isNotNull())
        .select("g")
        .distinct()
        .select(F.col("g").alias("__bg"), F.lit(1).alias("__mark"))
    )
    probed = (
        rows.filter(~F.col("__is_bench"))
        .select("__grp", "__id", "g")
        .join(F.broadcast(bench), F.col("g") == F.col("__bg"), "left")
    )
    per_doc = probed.groupBy("__grp", "__id").agg(
        F.max(F.coalesce(F.col("__mark"), F.lit(0))).alias("__hit")
    )
    return per_doc.groupBy(F.col("__grp").alias(group_col)).agg(
        F.count("*").alias("n_docs"),
        F.sum("__hit").alias("n_contaminated"),
    )


def _bigram_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    extra: dict[str, Column] | None = None,
) -> DataFrame:
    """(id, *extra, w1, w2) bigram-occurrence rows — ONE definition of
    the [a-z0-9]+ tokenizer + the zip-against-tail construction (array
    slices exploded, no window, no shuffle) shared by every bigram
    consumer (bigram_lm_scores, dsir_scores).  The construction is
    parity-sensitive: each consumer has a hand-matched unnest+lead
    DuckDB twin, so never re-implement it inline (the shingle_rows
    rule).  `extra` columns (e.g. a target flag) are computed BEFORE
    the fan_out exchange and ride every bigram row."""
    from waddleml_spark.session import fan_out

    toks = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), F.lit(0)
    )
    extra = extra or {}
    base = fan_out(
        df.select(
            F.col(id_col).alias("id"),
            *[c.alias(a) for a, c in extra.items()],
            toks.alias("tk"),
        ).filter(F.size(toks) >= 2)
    )
    n = F.size(F.col("tk"))
    return base.select(
        "id",
        *extra.keys(),
        F.explode(
            F.arrays_zip(
                F.slice(F.col("tk"), 1, n - 1).alias("w1"),
                F.slice(F.col("tk"), 2, n - 1).alias("w2"),
            )
        ).alias("p"),
    ).select(
        "id", *extra.keys(),
        F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"),
    )


def bigram_lm_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document corpus-trained bigram language-model score — the
    perplexity proxy of a quality-filter stage: score(doc) = mean over
    its bigram occurrences of ln P(w2|w1), with P estimated from THIS
    corpus (count(w1,w2)/count(w1-as-context)).  Low scores flag
    unusual/garbled text relative to the corpus itself.

    Shape (the part that matters at 100 TB): bigrams are built as a pure
    array expression — zip the token array against its own tail and
    explode — no window, no shuffle until counting.  Occurrence-scale
    data crosses exactly THREE exchanges (one of them reused): the
    (w1,w2) shuffle feeding the bigram counts is physically the same
    exchange the scoring join reads (ReusedExchange), the context count
    c1 = Σ_w2 c2 is derived FROM the bigram table with a partition-window
    sum (bigram-vocabulary scale — never a second pass over occurrences),
    and the per-bigram ln-probability table joins back to occurrences on
    the key they are already partitioned by.  Natural-language skew on
    w1/"the …" is exactly what AQE skew-join splitting handles.  Returns
    (id, n_bigrams, lm_score) with lm_score floor-rounded to 6 digits:
    ln() may differ between engines in the last ulp, and the per-doc
    mean must hash identically cross-engine.
    """
    pairs = _bigram_rows(df, text_col, id_col)
    # (An explicit shared repartition("w1","w2") was tried here so the
    # count branch and the scoring join would read one exchange — column
    # pruning strips `id` below the exchange on the count branch only,
    # the canonical forms diverge, and nothing reuses.  The partial
    # aggregate below bg's exchange makes its shuffle carry ~vocabulary
    # rows anyway, so two scans of the fan_out output is the cheaper
    # plan.)
    bg = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    # c1 (count of w1 as context) = Σ_w2 c2: a window sum over the bigram
    # table — integer-exact vs counting occurrences, but bigram-scale.
    c1 = F.sum("c2").over(Window.partitionBy("w1"))
    lp_tbl = bg.select(
        "w1", "w2", F.log(F.col("c2") / c1).alias("lp")
    )
    # ln(c2/c1) per distinct bigram joined back to occurrences: the same
    # double every occurrence row would compute — value-identical to the
    # oracle's per-occurrence JOIN bg JOIN ug formulation.
    # (Round 9: a doc-bigram-grain rewrite — collapse to (id,w1,w2,m)
    # first, score as Σ m·lp / Σ m — measured SLOWER at sf0.1 (exec
    # 1.008 vs 0.926 s min-of-7 interleaved, build 0.196 vs 0.125):
    # this corpus's ~50-word vocabulary leaves almost no within-doc
    # duplicate bigrams for the extra aggregate to collapse.  Retired;
    # revisit only on a corpus where m >> 1.)
    scored = pairs.join(lp_tbl, ["w1", "w2"]).select("id", "lp")
    from . import round_floor

    return scored.groupBy("id").agg(
        F.count("*").alias("n_bigrams"),
        round_floor(F.avg("lp"), 6).alias("lm_score"),
    )


def top_token_run(toks: Column) -> Column:
    """Count of the most frequent token in the array — WITHOUT a shuffle.

    Sort the array, then one aggregate() pass tracks the current run
    length and the best run (equal tokens are adjacent after the sort),
    carrying a (prev, run, best) struct accumulator.  The obvious
    explode → groupBy(doc, token) → max(count) implementation shuffles
    every token occurrence; this stays a per-row projection —
    embarrassingly parallel at any scale.  Empty arrays → 0.
    """
    acc0 = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def step(a: Column, tkn: Column) -> Column:
        new_run = F.when(tkn == a.prev, a.run + 1).otherwise(F.lit(1))
        return F.struct(
            tkn.alias("prev"),
            new_run.alias("run"),
            F.greatest(a.best, new_run).alias("best"),
        )

    return F.aggregate(F.array_sort(toks), acc0, step, lambda a: a.best)


def repetition_ratio(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document top-token ratio — the Gopher-style repetition filter
    signal (a doc whose single most frequent token dominates is likely
    boilerplate/garbage).  Returns (id, n_tok, top_ratio); zero-shuffle
    (see top_token_run)."""
    toks = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), F.lit(0)
    )
    d = df.select(
        F.col(id_col).alias("id"), toks.alias("tk")
    ).filter(F.size(F.col("tk")) > 0)
    return d.select(
        "id",
        F.size("tk").alias("n_tok"),
        (top_token_run(F.col("tk")) / F.size("tk")).alias("top_ratio"),
    )


# Gopher-style document quality rules (Rae et al. 2021, "Scaling Language
# Models: ... Gopher", table A1 quality heuristics — the published, public
# rule set), restricted to the subset expressible as exact cross-engine
# relational expressions.  Thresholds are the paper's.
GOPHER_STOPWORDS = ("the", "a", "of", "to", "and", "in")


def gopher_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document Gopher rule failure flags (0 = pass, 1 = fail).

    Five rules, each a plain JVM expression over the tokenized text (no
    HOF lambdas — regexp counts and array builtins only, all inside
    whole-stage codegen):

    - ``fail_word_count``: not 50..100000 words;
    - ``fail_mean_word_len``: mean word length outside [3, 10];
    - ``fail_stopwords``: fewer than 2 stopword hits;
    - ``fail_alpha_ratio``: < 80% of words contain a letter;
    - ``fail_ttr``: type-token ratio < 0.3 (repetition proxy — the
      paper's duplicate-n-gram family collapsed to its cheapest member).

    Ratios divide BIGINT counts as doubles, so the comparisons are
    bit-identical across engines (same IEEE operands) — no rounding
    helper needed.
    """
    # plain lower, NOT lower_trim: every Gopher count is a
    # regexp_extract_all token/boundary count, insensitive to edge
    # whitespace on either engine — the trim would be a dead full-text
    # regex pass in the hot map stage (and five more in the oracle)
    text = F.lower(F.col(text_col))
    words = F.regexp_extract_all(text, F.lit("[a-z0-9]+"), F.lit(0))
    n = F.size(words)
    # try_divide: an EMPTY doc must fail the ratio rules, not raise the
    # ANSI divide-by-zero (null ratio -> pass-condition null -> fail=1)
    mean_len = F.try_divide(
        F.length(F.concat_ws("", words)).cast("double"), n.cast("double")
    )
    alpha = F.size(
        F.regexp_extract_all(text, F.lit("[0-9]*[a-z][a-z0-9]*"), F.lit(0))
    )
    stop_pat = "\\b(" + "|".join(GOPHER_STOPWORDS) + ")\\b"
    stops = F.size(F.regexp_extract_all(text, F.lit(stop_pat), F.lit(0)))
    ttr = F.try_divide(
        F.size(F.array_distinct(words)).cast("double"), n.cast("double")
    )

    def fail(passes: Column) -> Column:
        return F.when(passes, F.lit(0)).otherwise(F.lit(1))

    return df.withColumns(
        {
            "fail_word_count": fail((n >= 50) & (n <= 100000)),
            "fail_mean_word_len": fail(
                (n > 0) & (mean_len >= 3.0) & (mean_len <= 10.0)
            ),
            "fail_stopwords": fail(stops >= 2),
            "fail_alpha_ratio": fail(
                (n > 0)
                & (F.try_divide(alpha.cast("double"), n.cast("double")) >= 0.8)
            ),
            "fail_ttr": fail((n > 0) & (ttr >= 0.3)),
        }
    )


def gopher_report(df: DataFrame, group_col: str = "source") -> DataFrame:
    """Per-group Gopher rule report: doc count, per-rule failure counts,
    and how many docs pass every rule.  Integer-only outputs — exact
    under any aggregation order."""
    flags = [
        "fail_word_count",
        "fail_mean_word_len",
        "fail_stopwords",
        "fail_alpha_ratio",
        "fail_ttr",
    ]
    d = gopher_flags(df)
    all_pass = sum(F.col(c) for c in flags) == 0
    return d.groupBy(group_col).agg(
        F.count("*").alias("n_docs"),
        *[F.sum(c).alias(c) for c in flags],
        F.sum(F.when(all_pass, 1).otherwise(0)).alias("n_pass"),
    )


def shingle_novelty_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Corpus-redundancy attribution: which groups CONTRIBUTE new
    content vs repeat content that already exists elsewhere?  Per
    group, over per-doc-distinct word trigrams ("slots"):

    - ``shingle_slots``      — (doc, shingle) pairs held by the group
    - ``distinct_shingles``  — distinct shingles appearing in the group
    - ``dup_slots``          — slots whose shingle is held by >= 2 docs
                               anywhere in the corpus
    - ``owned_shingles``     — shingles whose globally FIRST holder
                               (min ``id_col``) lives in this group
    - ``dup_ratio``          — dup_slots / shingle_slots

    A group with high dup_ratio and low ownership is re-crawling what
    the corpus already has — the signal data-mixing uses to downweight
    a source before training.  Integer-exact (the ratio divides the
    same two BIGINTs on any engine), so it oracle-pairs exactly.

    Scale shape: codegen'd generator explode over start indices (empty
    for docs under 3 tokens — nopartial_gram_exprs' pinned no-partials
    semantics, NOT shingle_rows' clamp), per-occurrence rows into a
    (shingle, group) aggregate whose single countDistinct rewrites to a
    two-phase plan with map-side partial distinct; the corpus-wide
    holder count and first-holder rank are two window functions over
    the same vocabulary-grain partition key (one more vocab-scale
    exchange, one sort — measured a MINOR cost: ~1.1 of 11.6 s at
    100×), and the final group rollup is tiny.  Nothing is ever
    pairwise and nothing returns to occurrence grain.

    Round-10 rebuild (reversing the r9 choice WITH scale data): at
    sf0.1 the interpreted-HOF array_distinct plan wins (0.880 vs
    1.002 s — in-place dedup saves exchange volume, the r9 finding),
    but at 100× the interpreter cost dominates and the generator +
    countDistinct g2 stage measured 6.44 vs 11.16 s (42% faster,
    interleaved min-of-3, steal-quiet).  Scale-first: the generator
    shape ships; the ~0.1 s it costs at bench scale is the documented
    price.  c = countDistinct(id) per (g, grp) over per-OCCURRENCE
    rows == count(*) over per-doc-distinct rows — same values, and
    min(id) is duplicate-insensitive.
    """
    starts, gram = nopartial_gram_exprs(3)
    toks = word_tokens(F.col(text_col))
    sh = (
        df.select(
            F.col(id_col).alias("id"),
            F.col(group_col).alias("grp"),
            toks.alias("__t"),
            F.size(toks).alias("__n"),
        )
        .select("id", "grp", "__t", F.explode(starts).alias("__i"))
        .select("id", "grp", gram.alias("g"))
    )
    g2 = sh.groupBy("g", "grp").agg(
        F.countDistinct("id").alias("c"), F.min("id").alias("mind")
    )
    # corpus-wide doc-holder count + first-holder rank: mind values are
    # distinct within a shingle (doc ids are globally unique, so two
    # groups can never share one), making the rank deterministic.
    nd = F.sum("c").over(Window.partitionBy("g"))
    rn = F.row_number().over(Window.partitionBy("g").orderBy("mind"))
    g3 = g2.select("grp", "c", nd.alias("nd"), rn.alias("rn"))
    dup = F.coalesce(F.sum(F.when(F.col("nd") >= 2, F.col("c"))), F.lit(0))
    out = g3.groupBy(F.col("grp").alias(group_col)).agg(
        F.sum("c").alias("shingle_slots"),
        F.count("*").alias("distinct_shingles"),
        dup.alias("dup_slots"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias(
            "owned_shingles"
        ),
    )
    return out.withColumn(
        "dup_ratio", F.col("dup_slots") / F.col("shingle_slots")
    ).orderBy(group_col)


def dsir_scores(
    df: DataFrame,
    target_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR importance scores (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): per document, the
    log-likelihood ratio of a hashed-bigram multinomial fit on the
    TARGET subset (rows where ``target_pred`` holds) vs one fit on the
    whole corpus — the standard cheap proxy for "does this doc look
    like the data I want more of".  score(doc) = Σ over its bigram
    occurrences of ln(p_target(bucket)/p_raw(bucket)), add-one
    smoothed over n_buckets = 1024 hashed feature buckets.

    Returns (id, n_bigrams, importance) with importance floor-rounded
    to 6 digits — the bigram_lm_scores rule: ln may differ in the last
    ulp and the per-doc sum is order-nondeterministic, so the rounded
    value is what hashes identically cross-engine.

    Shape mirrors bigram_lm_scores (the same three-exchange posture):
    bigrams via zip-against-tail (no window, no shuffle before
    counting), ONE bucket-grain aggregate for both multinomials (the
    target count is a conditional sum in the same pass — never a
    second corpus branch), corpus totals via an unpartitioned window
    over the ALREADY bucket-grain table (≤ n_buckets rows — the
    corpus_mix rule), and the ≤ n_buckets-row log-weight table joins
    back to occurrences on the bucket key.  The feature hash is the
    shared md5-BE32, so a DuckDB oracle reproduces every bucket.

    The occurrence frame IS evaluated twice (the bucket-count branch
    and the broadcast-join scan — Catalyst no-CSE); a rotate_persist
    of the (id, tgt, bkt) rows was measured (r9) at sf0.1 0.909 vs
    0.855 s (loses — cache write/read ≈ the recompute) and at 100×
    1.88 vs 2.03 s min but with inverted medians in a steal-noisy
    window: under ±10% and unclear, not worth pinning a corpus-scale
    frame.  Retired; the honest cost is the two passes the SCALING
    rows record.
    """
    from waddleml_spark.llmops.dedup import _md5_be32
    from . import round_floor

    n_buckets = 1024

    rows = _bigram_rows(
        df, text_col, id_col, extra={"tgt": target_pred.cast("int")}
    ).select(
        "id",
        "tgt",
        (
            _md5_be32(F.concat_ws(" ", F.col("w1"), F.col("w2")))
            % n_buckets
        ).alias("bkt"),
    )
    bt = rows.groupBy("bkt").agg(
        F.count("*").alias("c_r"), F.sum("tgt").alias("c_t")
    )
    w_all = Window.partitionBy()
    totals = bt.select(
        "bkt",
        "c_r",
        "c_t",
        F.sum("c_r").over(w_all).alias("t_r"),
        F.sum("c_t").over(w_all).alias("t_t"),
    )
    lw = F.log(
        ((F.col("c_t") + 1) / (F.col("t_t") + n_buckets))
        / ((F.col("c_r") + 1) / (F.col("t_r") + n_buckets))
    )
    # broadcast is BOUNDED BY CONSTRUCTION (the hint rule): bkt is
    # md5 % n_buckets, so lw_tbl can never exceed n_buckets rows at any
    # corpus size — without the hint the join is derived-frame sized by
    # Catalyst (join-output estimates blow past the threshold) and the
    # occurrence-grain side pays a full shuffle at scale (r10: 100×
    # measured below the shuffle plan; SCALING.md).
    lw_tbl = F.broadcast(totals.select("bkt", lw.alias("lw")))
    scored = rows.join(lw_tbl, "bkt").select("id", "lw")
    return scored.groupBy("id").agg(
        F.count("*").alias("n_bigrams"),
        round_floor(F.sum("lw"), 6).alias("importance"),
    )
