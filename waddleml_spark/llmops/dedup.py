"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard
(SURVEY.md §2.12).

Scale design:
- exact dedup is a hash-groupBy — one shuffle on the content hash, with
  map-side combine; at 100 TB shuffle only (hash, id) pairs, never text.
- MinHash/LSH turns all-pairs O(n²) into per-band bucket joins; bucket
  sizes are bounded by construction, AQE splits stragglers.
- SimHash signs each doc with a 64-bit signature, computed by an
  Arrow-batched pandas UDF (the per-token bit-vote loop is genuinely
  imperative); the JVM-side 32-bit twin is relational end to end.
- n-gram Jaccard is the exact verifier applied INSIDE candidate buckets,
  never globally.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import STAR_CAP, WS_RE

from waddleml_spark.llmops.textstats import fingerprint, lower_trim


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: normalize → md5 → keep min-id doc per hash.

    Returns (fp, keeper_id, n_dups).  Deterministic keeper = lowest id.
    One shuffle on the 16-byte hash; text never shuffles.
    """
    return (
        df.select(fingerprint(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_dups"))
    )


def exact_dedup_keep(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The deduplicated dataset itself: all columns, one row per content
    fingerprint (lowest id wins) — window over fp, no join back."""
    from pyspark.sql import Window

    w = Window.partitionBy(fingerprint(F.col(text_col))).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def shingle_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    distinct: bool = True,
    with_pos: bool = False,
) -> DataFrame:
    """(id, __s) rows: one distinct word-trigram shingle per row.

    Shape: explode a position sequence (generator — codegen'd) and build
    each gram with F.get element access + concat_ws (plain expressions),
    instead of a higher-order transform lambda (interpreted; measured
    3.5 s vs 0.6 s for 260k shingles at sf0.1).  concat_ws skips the
    nulls F.get yields past the end, which gives the short-doc clamp
    (docs under 3 words shingle to the whole text; NULL text shingles
    to the one gram '');
    distinct=True mirrors array_distinct (one shuffle).  Pass
    distinct=False for duplicate-insensitive consumers (MIN/MAX
    aggregates) — then nothing shuffles and the token array never
    leaves its scan partition.

    ``with_pos=True`` returns (id, __i, __ng, __s) — each gram with its
    0-based position and the doc's total gram count — for consumers
    that window over gram order (winnowing).  Positioned rows are
    inherently per-occurrence, so ``distinct`` does not apply: callers
    must pass ``distinct=False`` explicitly (a silent ignore would let
    a caller believe the default True deduplicated).  ONE definition of
    the tokenizer + clamp semantics for every gram-grain operator; never
    re-implement this construction inline (the oracle twins depend on
    its exact clamp behavior).
    """
    if with_pos and distinct:
        raise ValueError(
            "shingle_rows(with_pos=True) yields per-occurrence positioned "
            "rows; dedup does not apply — pass distinct=False explicitly"
        )
    from waddleml_spark.llmops import tokens_sql
    from waddleml_spark.session import fan_out

    # fan_out (id, text) before tokenize+explode (r11 opt round): a
    # single-row-group scan otherwise runs every consumer's gram
    # generation serially on one core (minhash32_docs 0.797 -> 0.590 s,
    # minhash32_band_pairs 1.034 -> 0.809 s, interleaved min-of-5 at
    # 0.02% steal).  No-op where the input already has >= core
    # partitions (cluster scans, upstream fan_outs — the probe is
    # memoized), so consumers that fan_out earlier pay nothing extra.
    #
    # Built from PARSED EXPR STRINGS (r12, the r7 build-cost lever):
    # this is the shared gram source under ~9 catalog paths, and the
    # Column-API build paid py4j round trips per node per invocation.
    # tokens_sql renders exactly F.split(lower_trim(col), WS_RE) (token
    # identity pinned by the fuzz suite); the parsed expressions are
    # spelled to reproduce the Column original's physical plan BYTE-
    # IDENTICALLY (modulo expr ids) — the tokenizer appears twice in the
    # one Project exactly as before (whole-stage codegen's common-
    # subexpression elimination collapses it), so no consumer's plan —
    # or oracle contract — changes shape.
    k = 3
    idq = "`" + id_col.replace("`", "``") + "`"
    tq = "`" + text_col.replace("`", "``") + "`"
    toks = tokens_sql("__sr_text")
    src = fan_out(df.selectExpr(f"{idq} AS id", f"{tq} AS __sr_text"))
    base = src.selectExpr("id", f"{toks} AS __t", f"size({toks}) AS __n")
    pos_cols = ["__n"] if with_pos else []
    idx = base.selectExpr(
        "id",
        "__t",
        *pos_cols,
        f"explode(sequence(0, greatest(__n - {k}, 0))) AS __i",
    )
    gram = "concat_ws(' ', " + ", ".join(
        f"get(__t, __i + {j})" for j in range(k)
    ) + ")"
    if with_pos:
        return idx.selectExpr(
            "id",
            "__i",
            f"(greatest(__n - {k}, 0) + 1) AS __ng",
            f"{gram} AS __s",
        )
    rows = idx.selectExpr("id", f"{gram} AS __s")
    return rows.distinct() if distinct else rows


def _md5_be32(col: F.Column) -> F.Column:
    """Big-endian first 4 md5 bytes as a long — the ONE hash both
    engines compute identically (DuckDB twin: _md5_be32_sql).  Shared
    by every oracle-exact gram/shingle pairing."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash + banded LSH candidate pairs (id_a < id_b, per-band dedup'd).

    shingle → per-hash min over xxhash64(shingle, seed_i) → band rows →
    self-join on (band, signature).  All relational: explode + groupBy +
    join; no driver-side loops.  32 hashes in 8 bands of 4 rows, hash
    seeds 42..73.
    """
    from waddleml_spark.llmops import tokens_sql
    from waddleml_spark.session import fan_out

    num_hashes, bands, seed = 32, 8, 42
    rows_per_band = num_hashes // bands
    # fan out before the hash-heavy stage: single-row-group inputs
    # otherwise pin num_hashes × |shingles| hashing onto one core
    src = fan_out(df.select(F.col(id_col).alias("id"), F.col(text_col)))
    # Signature stage, fully codegen'd: shingle ROWS via an exploded
    # position sequence (generator) + multi-arg xxhash64 over k token
    # F.get accesses (nulls past the end hash as absent — the short-doc
    # clamp), then num_hashes grouped MINs of cheap long re-hashes.
    # Earlier versions kept signatures a zero-shuffle HOF array
    # accumulator projection; HOF lambdas evaluate interpreted, and the
    # accumulator was this operator's whole cost (measured 1.7s -> 0.6s
    # end-to-end at sf0.1 after the rewrite).  The shuffle this buys is
    # doc-grain only: partial MIN aggregation collapses shingle rows
    # map-side, so ~num_hashes longs per doc per partition move.  No
    # array_distinct: MIN is duplicate-insensitive.
    #
    # The whole pipeline is built from PARSED EXPR STRINGS, not per-node
    # Column objects: this 32-wide plan costs ~0.46 s of py4j round
    # trips per invocation under the Column API vs ~0.18 s parsed
    # (round-7 measurement; identical Catalyst plan, bit-identical
    # pairs).  At bench scale build time was HALF this operator's cost.
    k = 3
    base = src.selectExpr(
        "id", f"{tokens_sql(text_col)} AS __t"
    ).selectExpr("id", "__t", "size(__t) AS __n")
    idx = base.selectExpr(
        "id", "__t", f"explode(sequence(0, greatest(__n - {k}, 0))) AS __i"
    )
    gram = ", ".join(f"get(__t, __i + {j})" for j in range(k))
    gram_rows = idx.selectExpr("id", f"xxhash64({gram}) AS __g")
    # re-hashes as a PROJECTION feeding plain MIN aggregates (measured
    # ~0.07 s faster than evaluating the rehash inside the aggregate)
    hashed = gram_rows.selectExpr(
        "id", *[f"xxhash64(__g, {seed + i}) AS __h{i}" for i in range(num_hashes)]
    )
    minsigs = hashed.groupBy("id").agg(
        *[F.expr(f"min(__h{i}) AS __m{i}") for i in range(num_hashes)]
    )
    # band signature = hash of the band's slice of the signature → (id,
    # band, sig); posexplode of a long array, no struct materialization
    sigs = ", ".join(
        "xxhash64("
        + ", ".join(f"__m{b * rows_per_band + r}" for r in range(rows_per_band))
        + ")"
        for b in range(bands)
    )
    band_rows = minsigs.selectExpr(
        "id", f"posexplode(array({sigs})) AS (band, sig)"
    )
    # bucket-group instead of self-join: ONE shuffle on (band, sig) and the
    # signature pipeline is computed once (a self-join would recompute it
    # for each side); pairs expand inside each bucket with generators.
    #
    # Band-key PRE-AGGREGATION (count>1 keys → semi-join → collect_list)
    # measured DEAD at sf0.1 (round 8): even with band_rows persisted —
    # its best case, since Catalyst would otherwise re-execute the
    # signature pipeline for the count branch — the pre-agg bucket stage
    # ran 0.471 s vs 0.326 s for this plain collect_list+filter, and the
    # signature stage (0.53 s of the 0.80 s total) dominates regardless.
    # Singleton groups are near-free to collect; the extra aggregate +
    # join is pure overhead at every scale where bands×docs rows fit a
    # shuffle (they always do — that grain is ~bands longs per doc).
    #
    # Mega-bucket guard: a bucket of b ids would expand b(b-1)/2 pairs —
    # a template repeated 10k times means 50M pairs in ONE task.  Above
    # STAR_CAP we emit the STAR pattern instead (min id ↔ each
    # other id): connectivity information is preserved (downstream dedup
    # needs connected components, not every edge) at O(b) output.
    buckets = (
        band_rows.groupBy("band", "sig")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    return _bucket_pairs(buckets, star_threshold=STAR_CAP)


def _bucket_pair_elems(
    buckets: DataFrame,
    ids_col: str = "ids",
    star_threshold: int | None = None,
) -> DataFrame:
    """(a, b) element pairs from each bucket's SORTED array — THE shared
    generator core (posexplode + slice + explode) behind every bucket
    pair expansion in this module.  Elements may be plain ids
    (_bucket_pairs) or structs whose payload rides the expansion
    (minhash_estimate_pairs' signatures, containment_pairs' per-doc
    counts); the a < b invariant comes from the caller's array_sort.

    ``star_threshold``: buckets larger than it emit the STAR pattern
    (min element ↔ each other element) instead of all pairs — exactly
    the position-0 slice of the full expansion, so the guard is one
    filter.  ONE definition so the slice arithmetic and the guard can
    never drift between call sites.
    """
    expl = buckets.select(ids_col, F.posexplode(ids_col).alias("__i", "a"))
    if star_threshold is not None:
        expl = expl.filter(
            (F.size(ids_col) <= star_threshold) | (F.col("__i") == 0)
        )
    return expl.select(
        "a",
        F.explode(
            F.slice(F.col(ids_col), F.col("__i") + 2, F.size(ids_col))
        ).alias("b"),
    )


def _bucket_pairs(
    buckets: DataFrame,
    star_threshold: int | None = None,
    distinct: bool = True,
) -> DataFrame:
    """Expand each bucket's SORTED ids array into (id_a < id_b) pairs
    with GENERATORS ONLY (posexplode + slice + explode).

    The earlier nested transform/flatten HOF expression evaluated
    interpreted, outside whole-stage codegen (the CLAUDE.md rule) —
    measured 0.955 → 0.806 s end-to-end on minhash_lsh_candidates at
    sf0.1 from this rewrite, bit-identical output.

    ``distinct=False`` keeps one row per bucket co-occurrence (for
    callers that COUNT shared buckets per pair instead of deduping).
    """
    pairs = _bucket_pair_elems(buckets, "ids", star_threshold).select(
        F.col("a").alias("id_a"), F.col("b").alias("id_b")
    )
    return pairs.distinct() if distinct else pairs


def minhash_block_candidates(
    df: DataFrame,
    words_col: str = "ws",
    id_col: str = "doc_id",
) -> DataFrame:
    """Single-permutation MinHash blocking: candidate pairs (id_a < id_b)
    of docs whose word sets share the same MINIMUM md5-BE32 word hash.

    The cheapest LSH configuration (1 band × 1 row): two docs collide
    with probability exactly their word-set Jaccard, so ≥0.5-similar
    pairs are recalled with p ≥ 0.5 (exact duplicates always collide)
    while the candidate count stays O(n·bucket) instead of O(n²).  The
    exact-verifier demos (jaccard_word_pairs_src0 /
    levenshtein_pairs_src0) feed on this so their verify joins are
    bucket-bounded like the production LSH-fed path — never the
    all-pairs BroadcastNestedLoopJoin the round-5 verdict flagged.

    Plan: one doc-grain shuffle carrying a single long per doc (partial
    MIN combines map-side), one bucket-grain shuffle of bare ids;
    buckets over STAR_CAP ids are dropped entirely (the mega-bucket
    star guard, mirrored in the oracle HAVING exactly like
    minhash32_band_pairs).  md5-BE32 is the cross-engine-exact hash
    family (DuckDB ``md5_number_upper`` byte-swizzle twin), so the
    whole blocking chain is differentially checkable.
    """
    w = df.select(F.col(id_col).alias("id"), F.explode(words_col).alias("__w"))
    h32 = _md5_be32(F.col("__w"))
    keys = (
        w.select("id", h32.alias("__h"))
        .groupBy("id")
        .agg(F.min("__h").alias("__bkey"))
    )
    buckets = (
        keys.groupBy("__bkey")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= STAR_CAP))
    )
    # one bucket per doc ⇒ a pair can appear at most once: skip the
    # distinct shuffle _bucket_pairs would otherwise add
    return _bucket_pairs(buckets, distinct=False)


def jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.0,
) -> DataFrame:
    """Exact word-trigram Jaccard for candidate pairs (the LSH verifier).

    With `candidates=None` computes all pairs — ONLY for tests/oracles;
    production always feeds LSH candidates so the join is bucket-bounded.

    |A∪B| is computed as |A|+|B|−|A∩B| (shingle arrays are distinct by
    construction), so each pair pays ONE hash-set pass (the intersect)
    instead of two; the sizes ride in from the per-doc projection.

    Both branches build each doc's shingle set on the codegen path
    (shingle_rows + collect_set).  Candidate-fed, the two hydration
    joins are INNER — docs with no candidate pair drop at the join.
    Their shingle sets are still computed map-side first (cheap,
    codegen); deriving the participant id set from `candidates` instead
    would re-evaluate the entire candidate pipeline per branch
    (measured: 19 exchanges vs 7).  At
    corpus scale, persist the small candidates frame and semi-filter
    `df` on it BEFORE calling this if shingling cost ever dominates —
    measured at sf0.1 BOTH the semi-filter and a participant-grain
    shingle persist LOSE (2.14 s → 2.45-3.03 s): with near-dup families
    most docs participate, so the filter saves nothing and persisting
    shingle ARRAYS pays serialization the duplicate evaluation doesn't.
    levenshtein_pairs makes the opposite call (small text payloads,
    measured win) — the trade is payload-size-dependent, not universal.
    """
    sh = (
        shingle_rows(df, text_col, id_col, distinct=False)
        .groupBy("id")
        .agg(F.collect_set("__s").alias("sh"))
        .withColumn("n", F.size("sh"))
    )
    a, b = sh.alias("a"), sh.alias("b")
    if candidates is None:
        pairs = a.join(b, F.col("a.id") < F.col("b.id"))
    else:
        pairs = (
            candidates.join(a, candidates.id_a == F.col("a.id"))
            .join(b, candidates.id_b == F.col("b.id"))
        )
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.col("a.n") + F.col("b.n") - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        pairs.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def levenshtein_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_chars: int | None = None,
) -> DataFrame:
    """Exact edit-distance verify for candidate pairs (jaccard_pairs' twin).

    O(len²) DP per pair ⇒ ALWAYS candidate-fed: two equi-joins hydrate
    (id_a, id_b) with normalized text, then the JVM levenshtein built-in
    runs inside codegen.  `max_chars` optionally bounds the DP cost by
    dropping long docs before the join (filter pushes to the scan).
    Returns (id_a, id_b, edit_dist); pairs with either side filtered out
    are dropped, mirroring an inner verify.
    """
    from . import rotate_persist

    cand = rotate_persist("dedup.levenshtein.candidates", candidates)
    ids = (
        cand.select(F.col("id_a").alias("id"))
        .unionByName(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    # participants only, hydrated from ONE cached normalization pass —
    # without the caches the candidate pipeline and the text projection
    # each re-execute once per reference (no common-subtree dedup)
    d = df.join(ids, F.col(id_col) == ids.id, "left_semi").select(
        F.col(id_col).alias("id"),
        lower_trim(F.col(text_col)).alias("tx"),
        *(
            [F.length(lower_trim(F.col(text_col))).alias("ln")]
            if max_chars is not None
            else []
        ),
    )
    if max_chars is not None:
        d = d.filter(F.col("ln") < max_chars).drop("ln")
    d = rotate_persist("dedup.levenshtein.texts", d)
    a, b = d.alias("a"), d.alias("b")
    pairs = (
        cand.join(a, cand.id_a == F.col("a.id"))
        .join(b, cand.id_b == F.col("b.id"))
    )
    return pairs.select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.levenshtein(F.col("a.tx"), F.col("b.tx")).alias("edit_dist"),
    )


def _sym_edges(pairs: DataFrame, id_a: str, id_b: str) -> DataFrame:
    """Symmetric, deduped, LOOP-LAYOUT edge table for connected_components,
    materialized eagerly.

    - ONE reference to `pairs` (r12): the old two-select unionByName
      referenced it twice, and Catalyst does not dedupe common subtrees
      (repo rule), so the whole upstream candidate pipeline — an Arrow
      cosine kernel in semantic_dedup, the LSH banding in
      neardup_cluster_* — executed TWICE before the checkpoint (measured:
      the edges materialization was 108 s of semantic_dedup's 100× wall,
      ~2× the single-pass pairs cost).  inline() emits both directions
      inside the same single-execution plan; same multiset as the union.
    - Laid out for the loop (r12): hash-partitioned AND sorted by dst, so
      every propagation round's SortMergeJoin reads the edge table as a
      bare ExistingRDD scan — zero exchange, zero sort; only the
      node-grain label table moves per round (localCheckpoint preserves
      outputPartitioning/outputOrdering through LogicalRDD; plan pinned
      in test_plans).  The dedup rides the same exchange:
      HashPartitioning(dst) satisfies the (src, dst) clustering, so
      dropDuplicates after the repartition is partition-local — one
      2|pairs|-row shuffle total, the same count the old plain distinct
      paid without yielding the layout.  Without the checkpoint, an
      uncached candidate pipeline would re-execute per iteration, up to
      40× total.
    """
    aq = "`" + id_a.replace("`", "``") + "`"
    bq = "`" + id_b.replace("`", "``") + "`"
    return (
        pairs.selectExpr(
            f"inline(array(named_struct('src', {aq}, 'dst', {bq}), "
            f"named_struct('src', {bq}, 'dst', {aq})))"
        )
        .repartition(F.col("dst"))
        .dropDuplicates(["src", "dst"])
        .sortWithinPartitions("dst")
        .localCheckpoint(eager=True)
    )


def connected_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b", max_iter: int = 20
) -> DataFrame:
    """Dedup-group resolution: connected components over near-dup edges via
    iterative min-label propagation (the relational large-star/small-star
    simplification).  Returns (id, component) with component = min id in
    the group.

    Each round: (1) neighbor-min propagation (one groupBy), then (2)
    POINTER JUMPING — every node also adopts its label's own label, so
    the propagation distance DOUBLES per round and convergence is
    O(log diameter), not O(diameter).  Without step 2 a 1000-node chain
    (adversarial input: pathological near-dup chains) needs 1000 rounds;
    with it, 10.  Star-heavy dedup graphs converge in 2-3 rounds either
    way.  The driver loop only checks a convergence COUNT per round — no
    data is collected; if the cap is hit without convergence the
    function RAISES instead of returning silently-partial components
    (round-4 advice: bounded-iteration proof).
    """
    edges = _sym_edges(pairs, id_a, id_b)
    # labels start as self
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    for _ in range(max_iter):
        # propagate: each node takes min(own, neighbors') component
        neigh = (
            edges.join(labels, edges.dst == labels.id)
            .select(F.col("src").alias("id"), F.col("component"))
        )
        new_labels = (
            labels.unionByName(neigh)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
            # materialize: the jump below references this frame TWICE and
            # Catalyst does not dedupe common subtrees (repo rule) — the
            # label table is (id, component) longs, cheap to pin
            .localCheckpoint(eager=True)
        )
        # pointer jumping: follow the label's OWN label (component is a
        # node id, so self-join on it).  Labels only decrease, so the
        # parent's label is <= ours; adopting it doubles propagation
        # distance per round.  Left join: the minimum node of a
        # component labels itself, so misses cannot occur — coalesce is
        # belt-and-braces for it.
        parents = new_labels.select(
            F.col("id").alias("component"), F.col("component").alias("parent")
        )
        new_labels = (
            new_labels.join(parents, "component", "left")
            .select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("parent"), F.col("component")),
                ).alias("component"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)  # cut lineage
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), on="id")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations "
        f"(graph diameter > ~2^{max_iter}); raise max_iter"
    )


# --- SimHash ---------------------------------------------------------------

_SIMHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("simhash", T.LongType()),
    ]
)


_SH_BITPOS = np.arange(64, dtype=np.uint64)
_SH_POW2 = np.uint64(1) << _SH_BITPOS
_FNV_PRIME = np.uint64(0x100000001B3)
_FNV_OFFSET = np.uint64(0xCBF29CE484222325)
# byte-matrix FNV fold is one numpy pass per byte COLUMN, so its cost is
# O(max token length); tokens past this length (only the degenerate
# 1 MB-single-token doc class, see test_wide_row) hash via the scalar
# reference instead of inflating the fold loop for the whole batch
_SH_VEC_MAXLEN = 1024
# the bincount count-matrix allocates n_docs*n_uniq int64 cells; past
# this it switches to the per-occurrence reduceat path (the synthetic
# corpus is the narrow-vocab regime: 31 unique tokens at sf0.1)
_SH_CM_CELLS = 2_000_000


def _simhash_batch(it):
    """Arrow-batched simhash: 64-bit token-hash bit-vote, vectorized.

    r12 rewrite of the r1 per-row/per-token loop (guide §4.2: hand whole
    batches to vectorized numpy instead of looping rows in Python) —
    bit-identical output, pinned by test_simhash_kernel_vectorized_parity
    against the scalar reference:

    - factorize token occurrences so each DISTINCT token is FNV-hashed
      once (the synthetic corpus has ~31 distinct tokens per 270 k
      occurrences at sf0.1);
    - FNV-1a folds byte COLUMNS of a (n_uniq, maxlen) uint8 matrix —
      one vectorized xor-mul per byte position, memory bounded by the
      batch's own unique text bytes; pathological tokens longer than
      _SH_VEC_MAXLEN fall back to the scalar hash64;
    - per-doc bit votes close as a count-matrix matmul (narrow vocab)
      or a contiguous reduceat over occurrences (wide vocab); a bit is
      set iff strictly more +1 than -1 votes, i.e. 2*ones > n_tokens.

    Measured 26.9x on the sf0.1 corpus (interleaved re-check in
    OPTIMIZATION_r12.md).
    """
    for pdf in it:
        n = len(pdf)
        out = np.zeros(n, dtype=np.int64)
        toks_per_doc = [t.lower().split() for t in pdf["text"].astype(str)]
        counts = np.fromiter(
            (len(t) for t in toks_per_doc), dtype=np.int64, count=n
        )
        flat = [tok for toks in toks_per_doc for tok in toks]
        if flat:
            inv, uniq = pd.factorize(np.asarray(flat, dtype=object))
            nu = len(uniq)
            bs = [u.encode("utf-8") for u in uniq]
            lens = np.fromiter((len(b) for b in bs), dtype=np.int64, count=nu)
            maxlen = int(min(lens.max(), _SH_VEC_MAXLEN))
            mat = np.zeros((nu, maxlen), dtype=np.uint8)
            for i, b in enumerate(bs):
                if len(b) <= maxlen:
                    mat[i, : len(b)] = np.frombuffer(b, dtype=np.uint8)
            h = np.full(nu, _FNV_OFFSET, dtype=np.uint64)
            with np.errstate(over="ignore"):
                for j in range(maxlen):
                    h = np.where(lens > j, (h ^ mat[:, j]) * _FNV_PRIME, h)
                for i in np.nonzero(lens > _SH_VEC_MAXLEN)[0]:
                    h[i] = hash64(uniq[i])
            bits = (
                (h[:, None] >> _SH_BITPOS[None, :]) & np.uint64(1)
            ).astype(np.int64)
            if n * nu <= _SH_CM_CELLS:
                doc_idx = np.repeat(np.arange(n), counts)
                cm = np.bincount(
                    doc_idx * nu + inv, minlength=n * nu
                ).reshape(n, nu)
                ones = cm @ bits
            else:
                nz = counts > 0
                offsets = np.concatenate(([0], np.cumsum(counts)[:-1]))[nz]
                ones = np.zeros((n, 64), dtype=np.int64)
                ones[nz] = np.add.reduceat(bits[inv], offsets, axis=0)
            setbit = (2 * ones) > counts[:, None]
            sig = setbit.astype(np.uint64) @ _SH_POW2
            sig[counts == 0] = 0
            out = sig.astype(np.int64)
        yield pd.DataFrame({"doc_id": pdf["doc_id"].values, "simhash": out})


def hash64(s: str) -> int:
    """Deterministic 64-bit FNV-1a string hash (stable across processes,
    unlike Python's salted hash())."""
    h = 0xCBF29CE484222325
    for ch in s.encode("utf-8"):
        h ^= ch
        h = (h * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def simhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document via mapInPandas (Arrow batches).

    The bit-vote inner loop is imperative — the one place Python is
    warranted; batches keep it vectorized per partition.
    """
    from waddleml_spark.session import ensure_shipped, fan_out

    ensure_shipped(df.sparkSession)
    src = fan_out(df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")))
    return src.mapInPandas(_simhash_batch, schema=_SIMHASH_SCHEMA)


def incremental_dedup(
    new_df: DataFrame,
    index_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup an incoming batch against an EXISTING corpus, then within
    itself — the production shape for recurring crawls (the index never
    rescans; only fingerprints move).

    Two stages: (1) anti join the batch's fingerprints against the
    index's distinct fingerprints — at scale the index side is a stored
    fingerprint table read as keys only, and the anti join ships
    16-byte hashes, never text; (2) exact_dedup within the survivors.
    Returns (fp, keeper_id, n_dups) for the kept representatives.
    """
    idx = index_df.select(fingerprint(F.col(text_col)).alias("fp")).distinct()
    batch = new_df.select(
        fingerprint(F.col(text_col)).alias("fp"), F.col(id_col)
    )
    fresh = batch.join(idx, "fp", "left_anti")
    return fresh.groupBy("fp").agg(
        F.min(id_col).alias("keeper_id"), F.count("*").alias("n_dups")
    )


def simhash32_jvm(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """32-bit SimHash computed entirely JVM-side — no Python workers — and
    bit-identical to an ANSI-SQL twin (unlike `simhash_signatures`, whose
    64-bit Arrow-batch kernel is rows-only-checkable).

    Token hash = big-endian first 4 md5 bytes (Spark: one conv of the
    leading 8 hex chars; DuckDB: byte-swizzle of md5_number_upper) — the
    engine-portable trick: md5 is the only hash both engines compute
    identically.

    Shape: explode distinct tokens → 32 SUM(±1)-per-bit aggregates
    grouped by doc (literal shiftright per bit — plain codegen'd
    expressions) → sign-pack into one long.  An earlier version folded
    a 32-counter array accumulator over the token array as a pure
    projection ("rides the scan") — but Spark evaluates higher-order
    lambdas INTERPRETED, outside whole-stage codegen, and it measured
    70x slower than this aggregate at sf0.1 (28.6 s → codegen sums).
    The shuffle this buys is doc-grain: partial aggregation collapses
    token rows map-side, so only ~32 longs per doc per partition move —
    at 100 TB that is KBs per million docs, noise next to the text scan.
    """
    # Built from parsed expr strings (llmops.tokens_sql + selectExpr):
    # the 32-wide when/sum Column build paid ~0.9 s of driver py4j per
    # invocation — more than the query's own execution at sf0.1
    # (measured round 8: build 0.92 s, exec 0.70 s warm).  The parsed
    # strings produce the identical Catalyst plan; token identity with
    # the Column tokenizer is pinned by the fuzz suite via tokens_sql.
    # Second r8 pass: the 32 separate F.expr aggregates + the sign-pack
    # projection fuse into ONE parsed expression (the pack lives in the
    # aggregate's result expression — 32 sums, same partial aggregation)
    # — one py4j parse instead of 33, measured build 0.089 → 0.046 s and
    # warm total 0.438 → 0.376 s at sf0.1, bit-identical signatures.
    from waddleml_spark.llmops import tokens_sql
    from waddleml_spark.session import fan_out

    idq = "`" + id_col.replace("`", "``") + "`"
    # fan_out before tokenize+explode+md5 (r11 opt round): the serial
    # single-row-group scan stage measured 0.330 -> 0.250 s interleaved
    # min-of-5 at 0.02% steal; no-op on already-split inputs
    src = fan_out(df.selectExpr(idq, f"{text_col} AS __sh_text"))
    hashed = src.selectExpr(
        idq,
        f"explode(array_distinct({tokens_sql('__sh_text')})) AS __tok",
    ).selectExpr(
        idq,
        "CAST(conv(substring(md5(__tok), 1, 8), 16, 10) AS BIGINT) AS __h",
    )
    sig = " + ".join(
        f"(CASE WHEN sum(CASE WHEN (shiftright(__h, {b}) & 1) = 1"
        f" THEN 1 ELSE -1 END) >= 0"
        f" THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(32)
    )
    return hashed.groupBy(id_col).agg(F.expr(f"({sig}) AS simhash32"))


# Fixed (a, b) pairs for the arithmetic minhash family h_i(x) = (a_i x + b_i)
# mod p, p = 2^31-1.  Deterministic LCG-derived constants, embedded verbatim
# in the SQL oracle twin; a_i forced odd and nonzero.
_MH_P = (1 << 31) - 1
_MH_AB = [
    (((1103515245 * i + 12345) % _MH_P) | 1, (69069 * i + 1234567) % _MH_P)
    for i in range(1, 33)
]


def minhash32_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Oracle-exact MinHash: long-form 32-function signatures
    (doc_id, h_index, minhash), bit-identical to an ANSI-SQL twin.

    The production LSH path (minhash_lsh_candidates) uses xxhash64 —
    fastest on the JVM but not reproducible in DuckDB, so it is only
    rows-only-checkable.  This variant swaps the shingle hash for the
    big-endian first 4 md5 bytes (identical in both engines) and the
    per-function rehash for (a_i·x + b_i) mod (2^31−1) — products stay
    under 2^63, exact in signed 64-bit everywhere.

    Shape: shingle rows via the codegen generator path (shingle_rows,
    distinct=False — MIN is duplicate-insensitive, so the distinct
    shuffle is skipped too) → 32 MIN aggregates grouped by doc (plain
    codegen'd arithmetic) → long form via posexplode.  Like
    simhash32_jvm, this replaces interpreted HOF shapes (lambdas bypass
    whole-stage codegen; the exploded-transform shingling alone measured
    3.5 s of this query's 4.4 s at sf0.1); partial aggregation keeps the
    doc-grain shuffle at 32 longs per doc per partition, and the
    differential gate still certifies the minhash CONSTRUCTION itself.
    """
    grouped = _minhash32_grouped(df, text_col, id_col)
    idq = "`" + id_col.replace("`", "``") + "`"
    arr = ", ".join(f"__m{i}" for i in range(len(_MH_AB)))
    return grouped.selectExpr(
        idq, f"posexplode(array({arr})) AS (h_index, minhash)"
    )


def _minhash32_grouped(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id_col, __m0..__m31): the wide oracle-exact signature frame shared
    by minhash32_exact (long form) and minhash32_band_pairs (banding).

    Built from PARSED EXPR STRINGS (r12): the 32 Column-API min
    aggregates paid ~200 py4j round trips per invocation; the 32 mins
    fuse into ONE parsed struct aggregate (the r8 simhash fused-
    aggregate lever) whose GetStructField projections the optimizer
    collapses (SimplifyExtractValueOps), so the physical plan is
    byte-identical to the Column original — same partial aggregation,
    same doc-grain shuffle bytes.
    """
    idq = "`" + id_col.replace("`", "``") + "`"
    sh_rows = shingle_rows(df, text_col, id_col, distinct=False).selectExpr(
        f"id AS {idq}", "__s"
    )
    hashed = sh_rows.selectExpr(
        idq,
        "CAST(conv(substring(md5(__s), 1, 8), 16, 10) AS BIGINT) AS __h",
    )
    mins = ", ".join(
        f"min(({a} * __h + {b}) % {_MH_P}) AS __m{i}"
        for i, (a, b) in enumerate(_MH_AB)
    )
    return hashed.groupBy(id_col).agg(F.expr(f"struct({mins}) AS __ms")).select(
        id_col, "__ms.*"
    )


# Thresholds each pairing below shares with its SQL twin in catalog_llm.
NGRAM_MIN_SHARED = 3
WINNOW_W = 4  # trigrams per winnowing window
WINNOW_MIN_SHARED = 2
CONTAINMENT_MIN_SHARED = 3
MIN_CONTAINMENT = 0.5


def ngram_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_shared: int = NGRAM_MIN_SHARED,
) -> DataFrame:
    """Exact n-gram-overlap pairs (id_a < id_b, n_shared): document pairs
    sharing at least ``min_shared`` distinct RARE word trigrams, with the
    exact shared count — the exact-substring-dedup signal (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better")
    at shingle grain, complementing the probabilistic MinHash/SimHash
    candidate generators with a count that is exact by construction.

    Grams with document frequency above STAR_CAP are dropped on BOTH
    sides (boilerplate/stop-grams — an IDF-style cut, mirrored in the
    oracle's HAVING): unlike the candidate generators, a star guard
    cannot apply here because the output is an exact COUNT, so the df
    cap is what bounds the quadratic term — each surviving gram expands
    at most C(STAR_CAP,2) pairs, and the cap is also what makes the
    result mean something (sharing 'the end of' says nothing; sharing
    three rare trigrams does).

    Shape: trigram rows → md5-BE32 gram hash → (doc, HASH)-grain
    DISTINCT (8-byte key, codegen'd HashAggregate) → group by hash →
    df-capped bucket arrays → generator pair expansion
    (_bucket_pairs(distinct=False) — one row per shared hash) →
    pair-grain count.  Linear in the corpus with a capped quadratic
    term; no join operator anywhere.  Two measured design points
    (round 8, sf0.1, best-of-3): deduping on the HASH rather than the
    gram string keeps the engines identical under a 32-bit collision
    (a string-grain distinct lets the bucket array carry a duplicated
    id and emit a self-pair the SQL join excludes); and collect_SET
    (which would fuse the dedup into the gram shuffle) measured SLOWER
    than this distinct+collect_list — 1.60 s vs 1.26 s — because
    collect_set plans as ObjectHashAggregate, outside whole-stage
    codegen, while the extra distinct is a codegen'd HashAggregate.
    """
    sh = shingle_rows(df, text_col, id_col, distinct=False).select(
        F.col("id"), F.col("__s")
    )
    h32 = _md5_be32(F.col("__s"))
    hashed = sh.select("id", h32.alias("__h")).distinct()
    return _shared_hash_pair_counts(hashed, min_shared)


def _shared_hash_pair_counts(hashed: DataFrame, min_shared: int) -> DataFrame:
    """(id_a < id_b, n_shared) from DISTINCT (id, __h) rows: df-capped
    hash buckets → generator pair expansion → pair-grain count — the
    shared tail of ngram_overlap_pairs and winnowing32_overlap_pairs
    (one definition so the df-cap/count semantics can't drift)."""
    buckets = (
        hashed.groupBy("__h")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= STAR_CAP))
    )
    pairs = _bucket_pairs(buckets, distinct=False)
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def winnowing32_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_shared: int = WINNOW_MIN_SHARED,
) -> DataFrame:
    """Winnowing-fingerprint overlap pairs (id_a < id_b, n_shared),
    oracle-exact: MOSS-style winnowing (Schleimer et al. 2003) selects
    the MINIMUM gram hash of every sliding window of w = WINNOW_W consecutive
    word trigrams, guaranteeing any shared run of ≥ w+k−1 tokens
    produces a shared fingerprint while keeping only ~2/(w+1) of the
    gram volume — the sampled (cheaper) complement of
    ngram_overlap_pairs' exhaustive counts, with md5-BE32 gram hashes
    both engines compute identically.

    Shape: the codegen'd position-explode gram rows (same clamped
    construction as shingle_rows, positions kept) → per-doc sliding
    window MIN over gram positions (ONE doc-grain window of plain
    expressions; a per-row HOF array accumulator would evaluate
    interpreted) → truncated tail windows dropped (windows =
    max(G − w + 1, 1)) → distinct (doc, fingerprint) → the shared
    df-capped pair-count tail (_shared_hash_pair_counts).  All linear;
    the df cap bounds the quadratic term exactly as in
    ngram_overlap_pairs.
    """
    from pyspark.sql import Window

    w = WINNOW_W
    # the shared clamped gram construction WITH positions: __ng = number
    # of gram positions per doc; windows = max(__ng - w + 1, 1)
    rows = shingle_rows(
        df, text_col, id_col, distinct=False, with_pos=True
    ).select("id", "__i", "__ng", _md5_be32(F.col("__s")).alias("__h"))
    win = Window.partitionBy("id").orderBy("__i").rowsBetween(0, w - 1)
    fps = rows.withColumn("__fp", F.min("__h").over(win)).filter(
        F.col("__i") < F.greatest(F.col("__ng") - (w - 1), F.lit(1))
    )
    hashed = fps.select("id", F.col("__fp").alias("__h")).distinct()
    return _shared_hash_pair_counts(hashed, min_shared)


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_containment: float = MIN_CONTAINMENT,
) -> DataFrame:
    """Asymmetric containment pairs (id_a < id_b, n_shared, n_a, n_b,
    containment): document pairs where the SMALLER rare-trigram set is
    at least ``min_containment`` inside the other —
    containment = |A∩B| / min(|A|, |B|) over distinct rare word
    trigrams.  This is the doc-in-doc / quotation signal Jaccard
    structurally misses: a 200-word doc pasted verbatim into a
    10k-word doc has Jaccard ≈ 0.02 (below any near-dup threshold)
    but containment 1.0 (Broder 1997's containment coefficient; the
    substring-dedup motivation of Lee et al. 2022).

    "Rare" = document frequency ≤ STAR_CAP: boilerplate grams held
    by more docs are dropped from BOTH the intersection and the
    denominators, so the score measures distinctive content, and —
    as in ngram_overlap_pairs — the df cap is what bounds the
    quadratic pair term (a star guard would corrupt the exact
    counts).  Grams with df = 1 stay in the denominators: unique
    content must dilute containment or every doc trivially contains
    any doc it shares three grams with (a pair must share
    CONTAINMENT_MIN_SHARED).

    Shape — ONE linear chain, no branch ever re-references an
    upstream frame (Catalyst re-executes shared subtrees; the
    CLAUDE.md rule): occurrence (gram-hash, id) rows → per-hash
    ``dense_rank ≤ STAR_CAP+1`` cap (duplicate ids share a rank, so
    the cap counts DISTINCT holders) → bounded collect_set +
    max(rank) ≤ STAR_CAP filter → explode the now-tiny rare arrays →
    per-doc rare-gram count via a count window over the doc →
    df ≥ 2 filter → bucket arrays of (id, n) structs per shared hash
    → generator pair expansion (the structs ride the expansion like
    the signatures in minhash_estimate_pairs) → pair-grain count +
    containment.  The division is two exact BIGINTs cast through
    IEEE double — bit-identical cross-engine, no rounding helper
    needed.

    THE DENSE_RANK CAP IS THE SCALE GUARD (r11, closing the
    advisor's corpus-scale ceiling): the r9–r10 plan fused the dedup
    into one ``collect_set`` whose per-hash id set materialized in a
    single aggregation buffer BEFORE the size filter — a truly
    universal shingle (millions of holders, far past the 200-copy
    flood gate) concentrated unboundedly in one task.  Here nothing
    unbounded exists: Catalyst rewrites the ``dense_rank ≤ k``
    filter into a PARTIAL WindowGroupLimit that cuts each map
    partition to its first STAR_CAP+1 distinct holders BEFORE the
    gram-grain exchange (plan-asserted in test_plan_hygiene), so an
    over-cap gram ships ≤ partitions × (STAR_CAP+1) distinct ids
    instead of its full holder set, and the collect_set buffer holds
    ≤ STAR_CAP+1 ids by construction.  max(rank) carries the over-cap
    verdict — rank reaching STAR_CAP+1 means df > STAR_CAP — so exact
    dfs survive for every KEPT gram (value-identical to the old
    plan; the SQL oracle needs no change, pinned by parity tests).

    Measured (r11, interleaved min-of-5, steal-quiet 0.0–0.4%;
    SCALING.md): the guard costs ~20–24% over the unbounded fused
    plan (sf0.1 1.38→1.72 s, 100× 5.33→6.36 s) — accepted for the
    memory bound — and strictly dominates both priced alternatives:
    the agg+re-join hatch (2.63 s / 6.63 s) and a distinct +
    row_number pre-pass (2.11 s / 9.31 s, the extra (hash,id)
    exchange swamps the win).
    """
    from pyspark.sql import Window

    sh = shingle_rows(df, text_col, id_col, distinct=False).select(
        F.col("id"), F.col("__s")
    )
    h32 = _md5_be32(F.col("__s"))
    wcap = Window.partitionBy("__h").orderBy("id")
    per_hash = (
        sh.select("id", h32.alias("__h"))
        .withColumn("__r", F.dense_rank().over(wcap))
        .filter(F.col("__r") <= STAR_CAP + 1)
        .groupBy("__h")
        .agg(
            F.collect_set("id").alias("ids"),
            F.max("__r").alias("__mx"),
        )
        .filter(F.col("__mx") <= STAR_CAP)
        .select("__h", "ids")
    )
    rare = per_hash.select(
        "__h", F.size("ids").alias("__df"), F.explode("ids").alias("id")
    ).withColumn("__n", F.count("*").over(Window.partitionBy("id")))
    kept = rare.filter(F.col("__df") >= 2)
    buckets = kept.groupBy("__h").agg(
        F.array_sort(F.collect_list(F.struct("id", "__n"))).alias("ms")
    )
    pairs = _bucket_pair_elems(buckets, "ms")
    shared = F.count("*")
    cont = shared.cast("double") / F.least(
        F.min("a.__n"), F.min("b.__n")
    )
    return (
        pairs.groupBy(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )
        .agg(
            shared.alias("n_shared"),
            F.min("a.__n").alias("n_a"),
            F.min("b.__n").alias("n_b"),
            cont.alias("containment"),
        )
        .filter(
            (F.col("n_shared") >= CONTAINMENT_MIN_SHARED)
            & (F.col("containment") >= min_containment)
        )
    )


# Bands of the oracle-exact 32-long minhash signature (4 rows each);
# catalog_llm's SQL twin bands with the same constant.
MINHASH32_BANDS = 8


def minhash32_band_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Banded-MinHash candidate pairs (id_a < id_b), oracle-exact end to end.

    The production LSH path (minhash_lsh_candidates) is rows-only because
    xxhash64 has no DuckDB twin; simhash32_band_pairs certifies a banded
    SIMHASH pipeline.  This closes the remaining proof gap: the full
    MinHash+LSH candidate chain — md5-BE32 shingle hash, the (a·x+b) mod
    2^31−1 family, 4-row bands, mega-bucket guard, pair expansion —
    from cross-engine-exact primitives, so signatures AND candidates are
    differentially checkable, not just counted.

    Same plan shape as the production path: ONE shuffle on the band key
    (here the rows_per_band raw min values, no band-hash needed — grouping
    on 4 longs is equivalent to grouping on a hash of them, minus the
    collision risk), bucket-group + generator pair expansion
    (_bucket_pairs), DISTINCT across bands.  Buckets over STAR_CAP ids
    are dropped (mirrored in the oracle's HAVING) — identical mega-bucket
    semantics to simhash32_band_pairs.
    """
    return _bucket_pairs(_minhash32_band_buckets(df, text_col, id_col))


def _minhash32_band_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry_sig: bool = False,
) -> DataFrame:
    """Shared banded-bucket stage of the oracle-exact minhash family:
    signatures → per-band rows grouped on the rows_per_band RAW min
    values → sorted bucket arrays ('ids') with the >1 and mega-bucket
    guards.  ONE definition so the band/guard semantics can never drift
    between minhash32_band_pairs and the sketch-accuracy audit (round-7
    review find).  ``carry_sig=True`` rides the full 32-long signature
    array into the bucket structs — the audit needs per-id signatures
    downstream, and joining candidates back to a signature frame would
    re-execute the whole md5/shingle pipeline per reference (Catalyst
    has no common-subtree elimination)."""
    bands = MINHASH32_BANDS
    rpb = 32 // bands
    wide = _minhash32_grouped(df, text_col, id_col)
    # PARSED EXPR band explode (r12 build-cost lever): inline() yields
    # (band, s0..s{rpb-1}) columns directly — one parsed generator
    # instead of the Column-API array-of-structs explode plus a field-
    # extraction Project (~100 py4j calls saved per invocation; the
    # Generate's output is identical rows, so the bucket stage and the
    # oracle twin are unchanged).
    idq = "`" + id_col.replace("`", "``") + "`"
    structs = ", ".join(
        "struct("
        + f"{b} AS band, "
        + ", ".join(f"__m{b * rpb + r} AS s{r}" for r in range(rpb))
        + ")"
        for b in range(bands)
    )
    sig_sel = (
        ["array(" + ", ".join(f"__m{i}" for i in range(32)) + ") AS __sig"]
        if carry_sig
        else []
    )
    rows = wide.selectExpr(
        f"{idq} AS id", *sig_sel, f"inline(array({structs}))"
    )
    key = ["band"] + [f"s{r}" for r in range(rpb)]
    elem = F.struct("id", "__sig") if carry_sig else F.col("id")
    buckets = (
        rows.groupBy(*key)
        .agg(F.array_sort(F.collect_list(elem)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    return buckets.filter(F.size("ids") <= STAR_CAP)


def minhash_estimate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sketch-accuracy audit: for every banded-MinHash candidate pair,
    the SIGNATURE-estimated Jaccard (matching minhash positions / 32 —
    the estimator whose expectation IS the true Jaccard) next to the
    EXACT word-trigram Jaccard, plus the absolute error.  This is the
    number that justifies trusting sketches at 100 TB: the verify pass
    can be budgeted (or skipped above a high estimate) only if the
    estimator's error is measured on the corpus at hand, not assumed.

    Plan shape: ONE signature pipeline — the full 32-long signature
    array RIDES THROUGH the band explode and bucket collect (Catalyst
    does not dedupe common subtrees, so joining candidates back to a
    signature frame would re-execute the whole md5/shingle pipeline per
    reference; carrying ≤64×32 longs per bucket is the cheap side of
    that trade) — then the standard bucket-group pair expansion with
    the mega-bucket guard, then two inner shingle-hydration joins for
    the exact side (the jaccard_pairs candidate shape).  Every
    primitive is cross-engine exact: md5-BE32 shingle hashes, the
    (a·x+b) mod 2^31−1 family, integer match counts, and dyadic /32
    division, so the whole report is oracle-hashable with no rounding.
    """
    buckets = _minhash32_band_buckets(df, text_col, id_col, carry_sig=True)
    cand = (
        _bucket_pair_elems(buckets, "ids")
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.__sig").alias("__sa"),
            F.col("b.__sig").alias("__sb"),
        )
        .distinct()  # across bands; sigs are functional on id, so this
        # is exactly the (id_a, id_b) DISTINCT of minhash32_band_pairs
    )
    sh = (
        shingle_rows(df, text_col, id_col, distinct=False)
        .groupBy("id")
        .agg(F.collect_set("__s").alias("sh"))
        .withColumn("n", F.size("sh"))
    )
    a, b = sh.alias("a"), sh.alias("b")
    pairs = cand.join(a, cand.id_a == F.col("a.id")).join(
        b, cand.id_b == F.col("b.id")
    )
    # plain 32-term CASE sum (the oracle's exact shape): an
    # aggregate(zip_with(...)) HOF would evaluate INTERPRETED outside
    # whole-stage codegen on a per-candidate-pair hot path (the repo's
    # measured rule); bracket indexing is 0-based like the array
    n_match = F.expr(
        "CAST("
        + " + ".join(
            f"(CASE WHEN __sa[{i}] = __sb[{i}] THEN 1 ELSE 0 END)"
            for i in range(32)
        )
        + " AS BIGINT)"
    )
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.col("a.n") + F.col("b.n") - inter
    scored = pairs.select(
        "id_a",
        "id_b",
        n_match.alias("n_match"),
        (inter.cast("double") / union.cast("double")).alias("exact_jaccard"),
    )
    return scored.select(
        "id_a",
        "id_b",
        "n_match",
        (F.col("n_match") / F.lit(32.0)).alias("est_jaccard"),
        "exact_jaccard",
        F.abs(F.col("n_match") / F.lit(32.0) - F.col("exact_jaccard")).alias(
            "abs_err"
        ),
    )


def band_rows(
    sigs: DataFrame,
    band_bits: int,
    sig_col: str = "simhash32",
    id_col: str = "doc_id",
    width: int = 32,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, band, bucket) rows for a packed integer signature — the
    shared banding used by the streaming near-dup sink and the phash
    join.  ``simhash32_band_pairs`` deliberately keeps its own
    pmod/float-divide bucket arithmetic: it is pinned bit-for-bit to its
    registered SQL oracle and must not drift with this helper; the two
    produce identical buckets for non-negative 32-bit signatures."""
    if width % band_bits != 0:
        raise ValueError(f"band_bits must divide {width}, got {band_bits}")
    bands = width // band_bits
    mask = (1 << band_bits) - 1
    return sigs.select(
        F.col(id_col).alias("id"),
        *carry,  # columns carried through the explode (no join-back later)
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col(sig_col), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("k"),
    ).select("id", *carry, "k.band", "k.bucket")


def simhash32_band_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    band_bits: int = 16,
) -> DataFrame:
    """Banded-SimHash candidate pairs (id_a < id_b), oracle-exact end to end.

    32-bit md5 SimHash (simhash32_jvm) split into 32/band_bits bands;
    docs sharing any (band, bucket) pair up.  Same bucket-group shape as
    minhash_lsh_candidates — ONE shuffle on (band, bucket), pair expansion
    with array exprs, distinct across bands — but built entirely from
    cross-engine-exact primitives, so the whole candidate pipeline
    (signature → banding → pair generation) is differentially checkable,
    not just its row count.

    band_bits must divide 32 — otherwise the high `32 % band_bits`
    signature bits would silently never land in any band.  The registered
    catalog oracle (_simhash32_pairs_oracle) is pinned to band_bits=16.

    STAR_CAP is the mega-bucket star guard (as in
    minhash_lsh_candidates): a bucket of k docs expands to k(k-1)/2 pairs,
    so one hot bucket — e.g. a boilerplate cluster whose members all share
    a signature — turns the banded join quadratic (measured: a 370-doc
    signature cluster at sf0.1 alone contributes ~68k pairs; unguarded the
    banded join emitted 1.34M pairs from 5k docs).  Buckets past the cap
    are dropped from pair expansion; dedup them via an exact-hash
    representative pass instead (they're near-identical by construction).
    The guard is mirrored in the oracle SQL, so the capped pipeline stays
    differentially certified.
    """
    if 32 % band_bits != 0:
        raise ValueError(
            f"band_bits must divide 32 (got {band_bits}); valid: 1,2,4,8,16,32"
        )
    n_bands = 32 // band_bits
    sigs = simhash32_jvm(df, text_col, id_col)
    band_rows = sigs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.pmod(
                            (F.col("simhash32") / F.lit(float(1 << (band_bits * b))))
                            .cast("long"),
                            F.lit(1 << band_bits),
                        ).alias("bucket"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    buckets = (
        band_rows.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    return _bucket_pairs(buckets.filter(F.size("ids") <= STAR_CAP))


# Words per fixed passage chunk: every passage report, rewrite stage and
# their SQL twins chunk at this width.
PASSAGE_WORDS = 20


def _passage_chunks(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str | None,
) -> DataFrame:
    """(id[, grp], ci, ct, nw): one row per non-overlapping
    20-word chunk — 0-based chunk index ``ci``, the
    chunk's reconstructed text ``ct`` (the exact string the passage
    hashes are computed over) and its word count ``nw``.  The single
    chunk-grain definition under _passage_inst (hash reports) and
    remove_duplicate_passages (the rewrite stage).  Chunking is a
    generator explode — one map pass, no HOFs; unused columns prune
    away in consumers that only hash.

    NULL text coalesces to '' BEFORE the split (r11 review find): the
    hash consumers were already safe (concat_ws folds the NULL slice
    to '', matching the oracle's ['']-token doc), but ``nw`` was
    size(NULL) = NULL where the SQL twin counts 1 word — a corpus
    where a NULL-text doc's chunk gets REMOVED would under-count
    n_words_removed (pinned by the two-null-docs unit case)."""
    toks = F.split(
        lower_trim(F.coalesce(F.col(text_col), F.lit(""))), WS_RE
    )
    cols = [F.col(id_col).alias("id")]
    if group_col is not None:
        cols.append(F.col(group_col).alias("grp"))
    base = df.select(*cols, toks.alias("__t"), F.size(toks).alias("__n"))
    n_chunks = F.ceil(F.col("__n") / F.lit(float(PASSAGE_WORDS))).cast("long")
    keep = ["id", "grp"] if group_col is not None else ["id"]
    idx = base.select(
        *keep,
        "__t",
        F.explode(
            F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0)))
        ).alias("__i"),
    )
    sl = F.slice(F.col("__t"), F.col("__i") * PASSAGE_WORDS + 1, PASSAGE_WORDS)
    return idx.select(
        *keep,
        F.col("__i").alias("ci"),
        F.concat_ws(" ", sl).alias("ct"),
        F.size(sl).cast("long").alias("nw"),
    )


def _passage_inst(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
) -> DataFrame:
    """(ph, grp, id, inst): per-document instance counts of each
    non-overlapping 20-word chunk's md5 — the shared
    chunk grain behind passage_dup_report (cross-doc dups via a hash
    window) and self_repetition_report (within-doc dups read straight
    off ``inst``).  Chunking is a generator explode (_passage_chunks;
    ci/nw prune away); counting is ONE shuffle on the hash."""
    ch = _passage_chunks(df, text_col, id_col, group_col)
    return (
        ch.select("id", "grp", F.md5(F.col("ct")).alias("ph"))
        .groupBy("ph", "grp", "id")
        .agg(F.count("*").alias("inst"))
    )


def remove_duplicate_passages(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Duplicated-span REMOVAL — the production rewrite stage of
    exact-substring training-data dedup (Lee et al. 2022, the second
    half the counting reports approximate): every non-overlapping
    20-word chunk that appears anywhere else in the
    corpus keeps only its FIRST instance in (doc, position) global
    order; each document is re-emitted with its non-keeper chunks
    deleted.  Returns one row per input document:

      (``id_col``, clean_text, n_passages, n_removed, n_words_removed)

    where clean_text is the kept chunks re-joined in position order
    ('' for a document that lost everything — a later full copy).

    Keeper discipline: ``row_number() over (partition by md5(chunk)
    order by id, position) = 1`` — deterministic and total ((id, ci)
    is unique), so re-running the stage on the same corpus rewrites
    byte-identically.  Accounting invariant (tested): the corpus-wide
    removed count equals total chunk instances minus distinct chunk
    hashes.  (Re-running on the OUTPUT re-chunks at shifted
    alignments, so it is reproducible but not a strict no-op.)

    Scale shape: chunking is the shared _passage_chunks generator
    explode (one corpus map pass); the keeper decision is ONE window
    shuffle on the 32-char chunk hash (uniform by construction — a
    hot hash IS the duplication being removed, same posture as
    passage_dup_report's count window); the rebuild is one doc-grain
    sort aggregate (``listagg ... within group (order by ci)`` —
    probed bit-identical to DuckDB's ordered ``string_agg``, NULL
    inputs skipped on both engines).  No joins, no second reference
    to the chunk pipeline (the Catalyst no-CSE rule); every doc has
    ≥ 1 chunk (the ['']-token coercion), so the doc-grain aggregate
    loses nobody.
    """
    from pyspark.sql import Window

    ch = _passage_chunks(df, text_col, id_col, None)
    w = Window.partitionBy(F.md5(F.col("ct"))).orderBy("id", "ci")
    flagged = ch.withColumn("__rn", F.row_number().over(w))
    removed = F.col("__rn") > 1
    return flagged.groupBy(F.col("id").alias(id_col)).agg(
        F.coalesce(
            F.expr("listagg(CASE WHEN __rn = 1 THEN ct END, ' ') "
                   "WITHIN GROUP (ORDER BY ci)"),
            F.lit(""),
        ).alias("clean_text"),
        F.count("*").alias("n_passages"),
        F.coalesce(
            F.sum(F.when(removed, F.lit(1)).cast("long")), F.lit(0).cast("long")
        ).alias("n_removed"),
        F.coalesce(
            F.sum(F.when(removed, F.col("nw"))), F.lit(0).cast("long")
        ).alias("n_words_removed"),
    )


def remove_contaminated_spans(
    df: DataFrame,
    bench_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Benchmark-decontamination REWRITE: every non-benchmark document
    is re-emitted with the 20-word chunks TOUCHED by a
    benchmark word trigram deleted — the surgical production stage
    after `ngram_collision_report` (detect) flags overlap; dropping
    whole documents for one leaked sentence wastes data, so standard
    pipelines excise the span.  Returns one row per non-benchmark doc:

      (id, group, clean_text, n_chunks, n_removed, n_words_removed)

    A trigram starting at 0-based word ``w`` touches chunks
    ``w // 20 .. (w+2) // 20`` (a boundary-
    spanning gram removes BOTH chunks — over-removal on the safe
    side).  Gram semantics are the house CLAMPED shingles
    (shingle_rows == the oracle's clamped-trigram SQL): docs under 3
    words match on their whole text.

    Scale shape: the bench gram set is distinct at bench scale and
    BROADCAST (the eval-set-is-small assumption every decontamination
    stage here makes — ngram_collision_report's rule); the corpus gram
    probe is map-only against it; touched (doc, chunk) pairs distinct
    at hit grain; the chunk frame left-joins the hit set on (doc,
    chunk) and rebuilds per doc with the ordered listagg.  The corpus
    TEXT IS SCANNED TWICE (gram pass + chunk pass — cross-grain logic
    the no-CSE rule cannot fuse; the bigram-LM two-pass precedent),
    plus once for the bench side: wide-scan budget 3 in
    test_plan_hygiene."""
    # NULL-predicate handling: a NULL bench_pred (e.g. NULL source under
    # an equality predicate) must land a doc on the CORPUS side and be
    # re-emitted — a bare ~pred drops NULL rows from BOTH filters,
    # silent data loss in a rewrite stage (r11 review find; oracle
    # mirrors with IS DISTINCT FROM).  Spelled as pushable leaves
    # (r11 opt round): filter(pred) already drops NULL rows, so the
    # bench side needs no coalesce, and the corpus side's
    # (~pred OR pred IS NULL) is an Or of parquet-pushable atoms where
    # the earlier NOT coalesce(pred, false) defeated scan pushdown
    # (PLANS.md showed the three source predicates vanish from
    # PushedFilters) — identical row sets, value-verified.
    corpus = df.filter(~bench_pred | bench_pred.isNull())
    bench = df.filter(bench_pred)
    # distinct=False + one global distinct on the gram string: the
    # per-doc dedup would be a second shuffle the set-level distinct
    # immediately repeats
    bset = (
        shingle_rows(bench, text_col, id_col, distinct=False)
        .select("__s")
        .distinct()
    )
    grams = shingle_rows(
        corpus, text_col, id_col, distinct=False, with_pos=True
    )
    lo = F.expr(f"CAST(__i DIV {PASSAGE_WORDS} AS BIGINT)")
    hi = F.expr(f"CAST((__i + 2) DIV {PASSAGE_WORDS} AS BIGINT)")
    hits = (
        grams.join(F.broadcast(bset), "__s")
        .select("id", F.explode(F.sequence(lo, hi)).alias("ci"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    ch = _passage_chunks(corpus, text_col, id_col, group_col)
    flagged = ch.join(hits, ["id", "ci"], "left")
    rm = F.col("__hit").isNotNull()
    return flagged.groupBy(
        F.col("id").alias(id_col), F.col("grp").alias(group_col)
    ).agg(
        F.coalesce(
            F.expr("listagg(CASE WHEN __hit IS NULL THEN ct END, ' ') "
                   "WITHIN GROUP (ORDER BY ci)"),
            F.lit(""),
        ).alias("clean_text"),
        F.count("*").alias("n_chunks"),
        F.coalesce(
            F.sum(F.when(rm, F.lit(1)).cast("long")), F.lit(0).cast("long")
        ).alias("n_removed"),
        F.coalesce(
            F.sum(F.when(rm, F.col("nw"))), F.lit(0).cast("long")
        ).alias("n_words_removed"),
    )


def boilerplate_phrases(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Top-5 boilerplate PHRASES per group: the actual 20-word
    chunks repeated across the most documents within a source (cookie
    banners, license headers, templated navigation) — the curation
    view the hash-grain reports can't give, because it surfaces the
    TEXT a reviewer reads before writing a filter rule.  Returns
    (group, rank, phrase, n_docs, n_inst) with rank 1..5 by
    (n_docs desc, n_inst desc, phrase asc); chunks in fewer than 2
    documents never qualify.

    Shape: the shared _passage_chunks generator grain → an explicit
    two-phase aggregate ((group, chunk, doc) instance counts, then
    (group, chunk) doc counts — no countDistinct, so no Expand and no
    distinct-rewrite ambiguity; the second agg DOES pay its own
    exchange on (group, chunk) — HashPartitioning(group, chunk, doc)
    does not satisfy the coarser clustering, the r11 review corrected
    this line — but that exchange is at bounded qualifying-phrase
    grain, not corpus grain) → a group-grain rank window over the
    QUALIFYING phrases only (bounded by the boilerplate vocabulary,
    not the corpus) with the ``row_number ≤ k`` filter compiling to a
    map-side partial WindowGroupLimit.  The phrase string is the
    shuffle key for one exchange — ~120 bytes/row at chunk grain, the
    same class as the canonical-URL groupBy."""
    from pyspark.sql import Window

    ch = _passage_chunks(df, text_col, id_col, group_col)
    per = (
        ch.groupBy("grp", "ct", "id")
        .agg(F.count("*").alias("__c"))
        .groupBy("grp", "ct")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("__c").alias("n_inst"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    w = Window.partitionBy("grp").orderBy(
        F.desc("n_docs"), F.desc("n_inst"), F.asc("ct")
    )
    return (
        per.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select(
            F.col("grp").alias(group_col),
            "rank",
            F.col("ct").alias("phrase"),
            "n_docs",
            "n_inst",
        )
    )


def cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str | None = "source",
) -> DataFrame:
    """(id[, grp], ci, ph, nw): CONTENT-DEFINED chunks at word grain —
    the FastCDC/LBFS idea applied to text dedup: a chunk boundary
    opens at every word whose md5-BE32 is ≡ 0 (mod 16), so
    boundaries are a property of the CONTENT, not the position.  Mean
    chunk length ≈ 16 words.

    Why it exists next to the fixed 20-word passage family: fixed
    chunking is alignment-FRAGILE — one word inserted at the front of
    a copied document shifts every subsequent 20-word window and the
    passage reports see zero duplication (pinned by the unit test).
    Content-defined boundaries re-synchronize one chunk after any
    local edit, so bulk copying stays visible through insertions —
    the reason every production dedup/storage system (LBFS, rsync,
    FastCDC, exact-substring dedup preprocessing) cuts on content.

    Shape: tokenize (one map pass, the shared WS_RE single-regex
    split) → posexplode to word rows → boundary flag from the word's
    md5 (map-only, the same _md5_be32 used corpus-wide) → chunk id =
    running sum of flags per doc (ONE doc-grain window, linear;
    doc-grain keys are the corpus's natural partition) → chunk grain
    via an ordered listagg GROUP BY (doc, chunk) that reuses the
    window's (id) partitioning — no extra exchange — hashed to ph.
    Downstream consumers aggregate at hash grain exactly like the
    passage reports.
    """
    from waddleml_spark.session import fan_out

    cols = [F.col(id_col).alias("id")]
    keep = ["id"]
    if group_col is not None:
        cols.append(F.col(group_col).alias("grp"))
        keep.append("grp")
    # fan_out BEFORE the tokenize+posexplode+per-word md5: unlike the
    # passage family (array slices, cheap — fan_out measured a LOSS
    # there, r11 opt round), the CDC grain pays a per-WORD hash, and a
    # single-row-group scan serializes that whole stage on one core
    # (cdc_dedup_report exec 0.675 -> 0.484 s interleaved min-of-5).
    # NULL text coalesces to '' BEFORE the split (the _word_pos_sql
    # rule): posexplode of a NULL token array emits ZERO rows and would
    # silently drop the document from the chunk grain, where every
    # other text path here keeps it as the ['']-token doc
    src = fan_out(df.select(*cols, F.col(text_col).alias("__cdc_text")))
    toks = F.split(
        lower_trim(F.coalesce(F.col("__cdc_text"), F.lit(""))), WS_RE
    )
    words = src.select(*keep, F.posexplode(toks).alias("__i", "__w"))
    bf = (_md5_be32(F.col("__w")) % 16 == 0).cast("long")
    from pyspark.sql import Window

    w = (
        Window.partitionBy("id")
        .orderBy("__i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rows = words.select(*keep, "__i", "__w", F.sum(bf).over(w).alias("ci"))
    return rows.groupBy(*keep, "ci").agg(
        F.md5(
            F.expr("listagg(__w, ' ') WITHIN GROUP (ORDER BY __i)")
        ).alias("ph"),
        F.count("*").alias("nw"),
    )


def cdc_dedup_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Per-group cross-document dedup report at CONTENT-DEFINED chunk
    grain (the insertion-robust twin of passage_dup_report): total
    chunk instances, instances of chunks held by ≥ 2 documents,
    documents carrying any such chunk, and the mean chunk width in
    words (two exact BIGINTs through IEEE double).

    Shape: cdc_chunks (one doc-grain window + fused chunk aggregate)
    → (ph, grp, id) instance grain (ONE hash-grain shuffle) → the
    same-key cross-doc count window → group aggregate.  Identical
    scale posture to passage_dup_report; the boundary predicate adds
    only a map-side md5 per word."""
    from pyspark.sql import Window

    ch = cdc_chunks(df, text_col, id_col, group_col)
    g = ch.groupBy("ph", "grp", "id").agg(
        F.count("*").alias("inst"), F.max("nw").alias("nw")
    )
    nd = F.count("*").over(Window.partitionBy("ph"))
    flagged = g.withColumn("nd", nd)
    dup = F.col("nd") >= 2
    tot = F.sum("inst")
    words = F.sum(F.col("inst") * F.col("nw"))
    return flagged.groupBy(F.col("grp").alias(group_col)).agg(
        tot.alias("total_chunks"),
        F.coalesce(F.sum(F.when(dup, F.col("inst"))), F.lit(0)).alias(
            "dup_chunks"
        ),
        F.count_distinct(F.when(dup, F.col("id"))).alias("docs_affected"),
        (words.cast("double") / tot).alias("avg_chunk_words"),
    )


def self_repetition_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """WITHIN-document passage repetition report — the duplicate-
    paragraph signal of the Gopher repetition filters (Rae et al. 2021)
    at chunk grain: a document that repeats its own 20-word chunks
    (looped boilerplate, scraper stutter, templated listings) is low-
    quality even when no OTHER document shares the text, which is
    exactly the case passage_dup_report's cross-doc window ignores and
    top_token_run's single-token grain under-detects.

    Per group: total passage instances, instances of chunks repeated
    INSIDE their own document (inst ≥ 2), documents carrying any such
    repeat, and the repeated-instance share (two exact BIGINTs through
    IEEE double — bit-identical cross-engine).

    Scale shape: the shared _passage_inst chunk grain (one generator
    explode + ONE hash-grain shuffle), then a group_col aggregate.  The
    single count-DISTINCT rides the same aggregate (one Expand at the
    already chunk-aggregated grain — far below corpus scale); no
    second reference to the chunk pipeline anywhere.
    """
    inst = _passage_inst(df, text_col, id_col, group_col)
    rep = F.col("inst") >= 2
    dup_sum = F.coalesce(F.sum(F.when(rep, F.col("inst"))), F.lit(0))
    total = F.sum("inst")
    return inst.groupBy(F.col("grp").alias(group_col)).agg(
        total.alias("total_passages"),
        dup_sum.alias("self_dup_passages"),
        F.count_distinct(F.when(rep, F.col("id"))).alias(
            "docs_with_internal_repeat"
        ),
        (dup_sum.cast("double") / total).alias("self_dup_ratio"),
    )


def passage_dup_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Cross-document exact PASSAGE dedup report — the practical
    chunk-granular approximation of exact-substring training-data dedup
    (Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    Better": repeated spans, not just whole-doc copies, drive
    memorization).  Documents split into non-overlapping
    20-word chunks; a chunk whose md5 appears in >= 2
    DISTINCT documents is "duplicated".

    Per group: total passage instances, duplicated instances, and
    documents carrying at least one duplicated passage.

    Scale shape: chunking is a generator explode (one map pass, no HOFs);
    occurrence counting aggregates to (hash, doc) grain — ONE shuffle on
    the 32-char hash, uniformly distributed by construction (no skew
    guard needed: a hash bucket's size is the duplication count itself,
    the thing being measured, and rows at that grain are ~40 bytes).  The
    cross-doc count is a window over the SAME hash key at the already
    aggregated grain — no second pipeline reference, so the corpus-scale
    chunking runs exactly once (the Catalyst no-CSE rule).  Everything
    downstream of the first aggregate is duplication-scale, not
    corpus-scale.
    """
    from pyspark.sql import Window

    inst = _passage_inst(df, text_col, id_col, group_col)
    nd = F.count("*").over(Window.partitionBy("ph"))
    flagged = inst.withColumn("nd", nd)
    dup = F.col("nd") >= 2
    return flagged.groupBy(F.col("grp").alias(group_col)).agg(
        F.sum("inst").alias("total_passages"),
        F.coalesce(F.sum(F.when(dup, F.col("inst"))), F.lit(0)).alias(
            "dup_passages"
        ),
        F.count_distinct(F.when(dup, F.col("id"))).alias("docs_affected"),
    )


def source_overlap_matrix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Cross-source duplication matrix (source_a <= source_b,
    n_shared_passages): how many distinct 20-word passage hashes two
    sources share — the curation signal for "which feeds copy from
    which" (syndication, mirrors, scraped re-posts) that per-source
    dedup reports cannot show.  The diagonal (source_a = source_b)
    counts passages appearing >= 2 times WITHIN the source (its
    internal duplication mass at the same grain).

    Shape — ONE linear chain on the shared _passage_inst grain:
    (hash, source) instance counts via one more tiny aggregate, then
    per-hash sorted source arrays and a generator expansion that emits
    each cross-source pair PLUS the self-pair when the source holds
    the passage twice (one definition, so the diagonal never needs a
    second branch re-reading the chunk pipeline — the Catalyst no-CSE
    rule).  Arrays are bounded by the SOURCE COUNT, not the corpus
    (no star guard needed — the mega-bucket rule applies to keys whose
    population grows with data; |sources| does not).
    """
    inst = _passage_inst(df, text_col, id_col, group_col)
    g = inst.groupBy("ph", "grp").agg(F.sum("inst").alias("c"))
    per = g.groupBy("ph").agg(
        F.array_sort(F.collect_list(F.struct("grp", "c"))).alias("ss")
    )
    expl = per.select("ss", F.posexplode("ss").alias("__i", "a"))
    partners = F.concat(
        # the self-pair, present iff this source holds the passage twice
        F.slice(
            F.array(F.col("a")),
            1,
            F.when(F.col("a.c") >= 2, F.lit(1)).otherwise(F.lit(0)),
        ),
        # every later source sharing the hash (array_sort -> grp asc)
        F.slice(F.col("ss"), F.col("__i") + 2, F.size("ss")),
    )
    pairs = expl.select("a", F.explode(partners).alias("b"))
    return pairs.groupBy(
        F.col("a.grp").alias("source_a"), F.col("b.grp").alias("source_b")
    ).agg(F.count("*").alias("n_shared_passages"))
