"""Similarity search over embedding columns (SURVEY.md §2.12).

Baseline: brute-force cosine top-k with pure JVM expressions
(zip_with + aggregate — no Python in the hot path).  Scale path:
random-hyperplane LSH bucketing so each query probes a small bucket
instead of the full corpus; both share the same expression kernel.

At 100 TB: the corpus is partitioned; brute force is a full scan per
query (only acceptable for batched query sets — broadcast the queries,
one pass, per-partition top-k then global top-k).  LSH cuts the scan to
matching buckets; bucket skew is handled by AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def as_double(vec):
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a, b):
    """Σ a_i*b_i via zip_with + aggregate (JVM, codegen'd)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def blocked_cosine_pairs(
    df,
    block_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """All within-block pairs (id_a < id_b) with cosine >= 0.3 —
    Arrow kernels over CHUNK-PAIRS, NO pair materialization in the JVM.

    Replaces the pair-grain interpreted-HOF dot (the round-4 review's
    cost center: O(pairs*d) lambda evals; a flat unrolled expression was
    measured WORSE — the 128-term predicate gets pushed into the join
    condition and knocks the whole stage out of codegen).  The quadratic
    work happens inside numpy and only surviving pairs cross back.

    Scale shape: a block's pair count grows QUADRATICALLY with its row
    count while the number of blocks stays fixed (one group per label =
    ten tasks forever — measured 11x wall at 10x data).  So each row is
    assigned a deterministic sub-chunk c = xxhash64(id) % fanout
    (fanout = 4) and
    replicated to every chunk-pair group {(min(c,j), max(c,j))}: each
    unordered row pair lands in EXACTLY ONE of the fanout*(fanout+1)/2
    groups per block, tasks spread across the cluster, and kernel memory
    is bounded by the chunk-pair size.  fanout=1 degenerates to one
    group per block; data inflation through the shuffle is fanout x.

    Bit-exact contract with the SQL oracle (sqrt/dot via DuckDB's
    sequential list_dot_product): the similarity matrix accumulates
    DIMENSION-BY-DIMENSION (``S += outer(A[:, i], B[:, i])``) so each
    pair's dot is the left-associative sequential sum — identical FP
    result to per-pair ``aggregate(zip_with(...))`` — never a BLAS
    matmul, whose pairwise summation differs in the last ulp and can
    flip the threshold or the 6-decimal rounding on boundary values.
    Row norms use the same sequential order (identical doubles in every
    group, so the decomposition cannot change any value).

    100 TB shape: one shuffle on (block, chunk-pair), per-group
    O(n_ci * n_cj * d) vectorized flops, O(survivors) output;
    1024-row probe chunks additionally bound kernel memory.
    """
    import numpy as np
    import pandas as pd

    threshold, row_chunk, fanout = 0.3, 1024, 4

    # id_a/id_b carry the INPUT id column's type: the driver compare is
    # type-sensitive and testdata physical types drift between rounds
    # (int64 today, could regen as int32), and generic callers may pass
    # string ids — hardcoding LongType would red the window / crash Arrow.
    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("cos_raw", T.DoubleType()),
        ]
    )
    empty = pd.DataFrame({"id_a": [], "id_b": [], "cos_raw": []})

    def _norms(E: "np.ndarray") -> "np.ndarray":
        acc = np.zeros(len(E))
        for i in range(E.shape[1]):  # same sequential order as pair dots
            acc += E[:, i] * E[:, i]
        return np.sqrt(acc)

    def _emit(ids_a, ids_b, cos, lo, same):
        # NaN (zero-norm vector) passes: Spark AND DuckDB both order NaN
        # above every value, so `cos >= t` keeps it there too
        rows, cols = np.nonzero((cos >= threshold) | np.isnan(cos))
        if same:
            # strict upper triangle (sorted ids) AND distinct ids: the
            # oracle joins on id_a < id_b, which also drops pairs of
            # DIFFERENT rows sharing one id value (duplicate ids hash to
            # the same chunk, so this guard covers every such pair)
            keep = ((rows + lo) < cols) & (ids_a[rows + lo] != ids_b[cols])
        else:
            keep = ids_a[rows + lo] != ids_b[cols]  # chunks differ => ids do
        rows, cols = rows[keep], cols[keep]
        if not len(rows):
            return None
        a, b = ids_a[rows + lo], ids_b[cols]
        return pd.DataFrame(
            {
                "id_a": np.minimum(a, b),
                "id_b": np.maximum(a, b),
                "cos_raw": cos[rows, cols],
            }
        )

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return empty
        ci, cj = int(pdf["__ci"].iat[0]), int(pdf["__cj"].iat[0])
        pdf = pdf.sort_values(id_col, kind="mergesort")
        same = ci == cj
        if same:
            a_pdf = b_pdf = pdf
        else:
            a_pdf = pdf[pdf["__c"] == ci]
            b_pdf = pdf[pdf["__c"] == cj]
            if a_pdf.empty or b_pdf.empty:
                return empty
        ids_a = a_pdf[id_col].to_numpy()
        ids_b = b_pdf[id_col].to_numpy()
        A = np.stack(a_pdf[vec_col].to_numpy()).astype(np.float64)
        B = A if same else np.stack(b_pdf[vec_col].to_numpy()).astype(np.float64)
        d = A.shape[1]
        nrm_a = _norms(A)
        nrm_b = nrm_a if same else _norms(B)
        outs = []
        for lo in range(0, len(A), row_chunk):
            hi = min(lo + row_chunk, len(A))
            S = np.zeros((hi - lo, len(B)))
            for i in range(d):  # sequential per-pair accumulation order
                S += np.multiply.outer(A[lo:hi, i], B[:, i])
            cos = S / np.multiply.outer(nrm_a[lo:hi], nrm_b)
            part = _emit(ids_a, ids_b, cos, lo, same)
            if part is not None:
                outs.append(part)
        return pd.concat(outs) if outs else empty

    c = F.pmod(F.xxhash64(F.col(id_col)), F.lit(fanout)).cast("int")
    rep = (
        df.select(block_col, id_col, vec_col)
        .withColumn("__c", c)
        .withColumn(
            "__g",
            F.explode(
                F.array_distinct(
                    F.array(
                        *[
                            F.struct(
                                F.least(F.col("__c"), F.lit(j)).alias("ci"),
                                F.greatest(F.col("__c"), F.lit(j)).alias("cj"),
                            )
                            for j in range(fanout)
                        ]
                    )
                )
            ),
        )
        .select(
            block_col,
            id_col,
            vec_col,
            "__c",
            F.col("__g.ci").alias("__ci"),
            F.col("__g.cj").alias("__cj"),
        )
    )
    return rep.groupBy(block_col, "__ci", "__cj").applyInPandas(kern, out_schema)


def norm(a):
    return F.sqrt(dot(a, a))


def cosine(a, b):
    # try_divide, never '/': ANSI Spark ERRORS on a zero divisor where
    # DuckDB division returns NULL — a zero-norm vector must degrade to
    # a NULL cosine (DESC orders it LAST in both engines, below NaN and
    # -inf) rather than crash the stage (r11 advisor-test find).  A NaN
    # divisor still propagates NaN identically on both sides.
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def cosine_topk(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exclude_id: int | None = None,
) -> DataFrame:
    """Brute-force cosine top-k against one query vector.

    The query is a literal array (broadcast by construction); one scan,
    per-partition top-k via TakeOrderedAndProject.  Returns (id, cos_sim)
    ordered desc with id tiebreak.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    df = corpus
    if exclude_id is not None:
        df = df.filter(F.col(id_col) != exclude_id)
    sim = cosine(as_double(F.col(vec_col)), q)
    return (
        df.select(F.col(id_col), sim.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def cosine_topk_lookup(
    corpus: DataFrame,
    query_id: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force cosine top-10 against a query vector identified by id,
    resolved IN-PLAN via a 1-row broadcast cross join (the oracle's
    ``FROM c, q`` shape) instead of a driver-side parameter fetch.

    vs :func:`cosine_topk` + a ``.head()`` lookup: no separate driver
    job (~0.1 s/invocation at bench scale) and no per-element literal
    construction; on a missing id / empty corpus the result is 0 rows —
    exactly what the SQL twin returns — rather than an error.  The
    broadcast hint is bounded by construction (an equality filter on the
    id column: 1 row per matching id).  cos_sim bits are identical to
    cosine_topk's: same left-fold dot products, same
    dot/(norm_e * norm_q) association — the query norm is just computed
    once in the 1-row frame instead of per corpus row.
    """
    # Built from parsed expr strings: each Column-API HOF lambda costs a
    # burst of py4j round trips, and this plan holds four dot products —
    # measured ~0.2 s of per-invocation build under the Column API.  The
    # parsed SQL lambdas produce the identical Catalyst expressions
    # (same left-fold order, same 0.0D seed), so cos_sim bits match.
    ed = f"transform(`{vec_col}`, x -> CAST(x AS DOUBLE))"

    def dot_s(a: str, b: str) -> str:
        return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"

    # PRECONDITION: id_col is unique (vec_id is the embeddings PK), so
    # the equality filter bounds the broadcast side to exactly one row.
    # A hard limit(1) guard was tried (round 8) and measured: the
    # LocalLimit→Exchange→GlobalLimit it inserts costs a whole extra
    # stage — 0.177→0.243 s at sf0.1, +37% of this query — to defend a
    # data-contract violation (duplicate PKs) every other keyed operator
    # here also assumes away; the precondition is documented instead.
    q = corpus.where(f"`{id_col}` = {int(query_id)}").selectExpr(
        f"{ed} AS __q"
    ).selectExpr("__q", f"sqrt({dot_s('__q', '__q')}) AS __qn")
    # try_divide per the cosine() rule: zero-norm -> NULL, never an
    # ANSI DIVIDE_BY_ZERO (bits unchanged for every non-zero divisor)
    sim = f"try_divide({dot_s(ed, '__q')}, sqrt({dot_s(ed, ed)}) * __qn)"
    return (
        corpus.where(f"`{id_col}` <> {int(query_id)}")
        .crossJoin(F.broadcast(q))
        .selectExpr(f"`{id_col}`", f"{sim} AS cos_sim")
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(10)
    )


def cosine_topk_batch(
    corpus: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_chunk: int = 1024,
) -> DataFrame:
    """Batched brute-force cosine top-k: Q query vectors, ONE corpus scan.

    The 100 TB-shape for brute-force ANN serving: the query matrix is a
    broadcast (Q×d floats), each Arrow batch computes all Q×batch sims as
    a single numpy matmul (BLAS — vs Q interpreted higher-order-function
    evaluations per row for the expression kernel), keeps only a LOCAL
    top-k per query per batch, and a final k·Q-row window pass picks the
    global winners.  Shuffle volume is O(k·Q·n_batches), never corpus-
    sized.  Returns (qid, <id_col>, cos_sim) ordered desc per qid with id
    tiebreak.

    Use :func:`cosine_topk` for single ad-hoc queries needing exact SQL
    parity; this kernel's float summation order differs in the last ulp
    (and BLAS blocking varies with the ``query_chunk`` slice shape, so
    sims can move a couple of ulps across chunk sizes — selected ids and
    ordering are chunk-invariant, pinned by test).
    """
    import numpy as np
    import pandas as pd

    from waddleml_spark.session import ensure_shipped, fan_out

    if query_chunk < 1:
        # fail on the driver: a bad chunk inside the kernel would make
        # the scan silently yield zero rows (empty range), not an error
        raise ValueError(f"query_chunk must be >= 1 (got {query_chunk})")
    if not queries:
        # np.stack on [] raises an opaque "need at least one array" later
        raise ValueError("queries must be non-empty")
    spark = corpus.sparkSession
    ensure_shipped(spark)
    qids = np.array([int(q) for q, _ in queries], dtype="int64")
    qm = np.stack([np.asarray(v, dtype="float64") for _, v in queries])
    qn = qm / np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-300)
    bq = spark.sparkContext.broadcast((qids, qn))
    src = fan_out(
        corpus.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    )

    def score(batches):
        q_ids, q_norm = bq.value
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["__v"].to_numpy()).astype("float64")
            xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-300)
            ids = pdf["__id"].to_numpy()
            kk = min(k, len(ids))
            # chunk the QUERY axis: the sims matrix is n_rows × Q doubles
            # — at serving scale (Q in the tens of thousands) one
            # unchunked matmul would hold gigabytes per Arrow batch;
            # query_chunk bounds it at n_rows × query_chunk
            for q0 in range(0, len(q_ids), query_chunk):
                q_sl = slice(q0, q0 + query_chunk)
                sims = xn @ q_norm[q_sl].T  # n_rows × chunk
                chunk_ids = q_ids[q_sl]
                # exact (sim desc, id asc) local top-k per query:
                # argpartition is UNSTABLE among ties at the k-th cutoff
                # and could drop the smallest-id row of a tie group before
                # the global window sees it (duplicate embeddings are
                # common in a dedup corpus).  O(n) partition finds the
                # k-th value, then only the >=kth candidate set (covers
                # every boundary tie) pays the lexsort — never a full
                # O(n log n) sort of the batch per query.
                top = np.empty((kk, len(chunk_ids)), dtype="int64")
                for j in range(len(chunk_ids)):
                    s = sims[:, j]
                    if kk < len(ids):
                        kth = np.partition(s, len(s) - kk)[len(s) - kk]
                        cand = np.flatnonzero(s >= kth)
                    else:
                        cand = np.arange(len(ids))
                    top[:, j] = cand[np.lexsort((ids[cand], -s[cand]))][:kk]
                yield pd.DataFrame(
                    {
                        "qid": np.repeat(chunk_ids, kk),
                        "__id": ids[top].T.ravel(),
                        "cos_sim": np.take_along_axis(sims, top, axis=0).T.ravel(),
                    }
                )

    part = src.mapInPandas(score, schema="qid long, __id long, cos_sim double")
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("__id"))
    return (
        part.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("qid", F.col("__id").alias(id_col), "cos_sim")
        .orderBy("qid", F.desc("cos_sim"), F.asc(id_col))
    )


def lsh_bucketize(
    df: DataFrame,
    hyperplanes: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane (sign) LSH: bucket = bit-packed signs of
    dot(vec, plane_i).  Deterministic given the hyperplane matrix (callers
    generate it with a fixed seed).  Pure expressions — one projection."""
    v = as_double(F.col(vec_col))
    bucket = None
    for i, plane in enumerate(hyperplanes):
        p = F.array(*[F.lit(float(x)) for x in plane])
        bit = F.when(dot(v, p) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return df.withColumn("lsh_bucket", bucket.cast("long"))


def ivf_index(
    corpus: DataFrame,
    n_cells: int | None = 16,
    vec_col: str = "embedding",
    fit_sample_rows: int = 100_000,
    id_col: str | None = None,
):
    """IVF (inverted-file) index: KMeans cells over the corpus (seed 42
    for both the fit sample's hash trial and KMeans).

    Returns (model, corpus_with_cells) where each row gains `ivf_cell`.

    ``n_cells=None`` auto-sizes cells to the corpus — ~2048 vectors per
    cell, floor 8, reusing the size probe's count.  The r11 scale bug
    was exactly a call-site-FIXED cell count (semantic_dedup's
    n_cells=8 made 250 k-vector cells and an 8.6-minute quadratic pair
    kernel at 100×), so the growing-blocking-key rule lives here, once,
    instead of being copy-pasted at every consumer.

    The FIT is bounded: KMeans is an iterative, driver-synchronized
    algorithm (each iteration is a full pass over its input), so it
    trains on a sample capped at ~``fit_sample_rows`` rows — at 100 TB
    that turns a multi-full-scan loop into iterations over a fixed-size
    sample, while the cell ASSIGNMENT stays a single map-only pass over
    the whole corpus.  One extra count(*) sizes the sample fraction; on
    parquet that is metadata-cheap.  The sample is a DETERMINISTIC
    Murmur3-hash Bernoulli trial (like packing.bernoulli_keep):
    ``df.sample()``'s RNG is partition-layout-dependent, which would
    make the centroids — and every downstream ivf_cell — change with
    cluster size.  The trial keys on ``id_col`` when given (preferred:
    independent per-row fate); otherwise on the vector VALUES, where
    duplicate vectors share one fate — fine for centroid fitting (it
    dedups the fit) except in a degenerate template-heavy corpus where
    the draw can collapse, so a guard falls back to the full-corpus fit
    when the draw comes back smaller than the cell count.  Store the
    result partitioned by cell so probes are partition-pruned scans.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    seed = 42
    df = corpus.withColumn("__vec", array_to_vector(as_double(F.col(vec_col))))
    fit_df = df.select("__vec")
    # early-stopping size probe: a computed input (filters/joins upstream)
    # below the cap must not pay a full count before we decide not to
    # sample it (round-4 advice)
    n = fit_df.limit(fit_sample_rows + 1).count()
    if n > fit_sample_rows:
        n = fit_df.count()
    if n_cells is None:
        n_cells = max(8, n // 2048)
    if n > fit_sample_rows:
        # slight oversample so the expected draw stays >= the target
        levels = 1 << 20
        thresh = int(min(1.0, 1.1 * fit_sample_rows / n) * levels)
        key = F.col(id_col) if id_col is not None else as_double(F.col(vec_col))
        keep = F.pmod(F.abs(F.hash(key, F.lit(seed))), levels) < thresh
        sampled = df.filter(keep).select("__vec")
        if id_col is not None or sampled.count() >= max(n_cells, 1):
            fit_df = sampled
    km = KMeans(k=n_cells, seed=seed, featuresCol="__vec", predictionCol="ivf_cell")
    model = km.fit(fit_df)
    return model, model.transform(df).drop("__vec")


def _probe_cells(model, query_vec: list[float], n_probe: int) -> list[int]:
    """The n_probe nearest IVF cells to the query (centroid distances
    driver-side — centroids are tiny).  ONE definition shared by ivf_topk
    and ivfpq_topk so their probe sets can never diverge."""
    import math

    centers = model.clusterCenters()
    dists = sorted(
        (math.dist(query_vec, list(c)), i) for i, c in enumerate(centers)
    )
    return [i for _, i in dists[:n_probe]]


def ivf_topk(
    corpus_with_cells: DataFrame,
    model,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN via IVF: probe the n_probe nearest cells to the query, exact
    cosine top-k inside the probed cells only."""
    probe = _probe_cells(model, query_vec, n_probe)
    cand = corpus_with_cells.filter(F.col("ivf_cell").isin(probe))
    return cosine_topk(cand, query_vec, k=k, vec_col=vec_col, id_col=id_col)


def _lloyd_kmeans(X, n_codes: int, seed: int):
    """Deterministic Lloyd's k-means (k-means++ init from a fixed
    RandomState, at most 15 iterations) — driver-side only, over the
    bounded PQ fit sample.  Input rows must already be in a canonical
    order (the caller sorts): collect() order is partition-layout-
    dependent and would otherwise leak into the init draws and thus
    every downstream code."""
    import numpy as np

    n = len(X)
    k = min(n_codes, n)
    rng = np.random.RandomState(seed)
    centers = np.empty((k, X.shape[1]))
    centers[0] = X[rng.randint(n)]
    d2 = ((X - centers[0]) ** 2).sum(1)
    for i in range(1, k):
        tot = d2.sum()
        if tot <= 0:  # all points identical / already covered
            centers[i:] = centers[0]
            break
        centers[i] = X[rng.choice(n, p=d2 / tot)]
        d2 = np.minimum(d2, ((X - centers[i]) ** 2).sum(1))
    for _ in range(15):
        dist = -2 * X @ centers.T + (centers**2).sum(1)[None, :]
        assign = dist.argmin(1)
        new = centers.copy()
        for i in range(k):
            mask = assign == i
            if mask.any():
                new[i] = X[mask].mean(0)
        if np.allclose(new, centers):
            break
        centers = new
    if k < n_codes:  # pad so the codebook/LUT shape is fixed; argmin's
        # first-occurrence rule keeps assignment deterministic over dupes
        centers = np.vstack([centers, np.repeat(centers[-1:], n_codes - k, 0)])
    return centers


def pq_train(
    corpus: DataFrame,
    m_subspaces: int = 8,
    n_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str | None = None,
    fit_sample_rows: int = 100_000,
):
    """Product-quantization codebooks: split d dims into ``m_subspaces``
    blocks, k-means each block to ``n_codes`` centroids (block j seeded
    42 + j; the fit sample's hash trial seeded 42).  Returns a
    numpy array (m, n_codes, d/m) — a few KB, broadcastable anywhere.

    The scale step BEYOND IVF: a PQ code is m bytes-ish per vector
    (m small ints) vs 4·d for raw float32 — at d=64, m=8 the ANN scan
    reads ~16× less (m code bytes + the 8-byte norm vs 4·d raw —
    the figure pq_ann_report's compression_x column measures), turning
    a memory-bandwidth-bound exact scan into a
    table-lookup scan (Jégou et al. 2011, "Product Quantization for
    Nearest Neighbor Search").  Like :func:`ivf_index`, the FIT is
    bounded: a deterministic Murmur3-hash Bernoulli sample capped at
    ``fit_sample_rows`` (layout-independent, unlike df.sample), sorted
    canonically before the k-means++ draws so collect order cannot leak
    into the codebooks.  Encoding and scoring stay full-corpus map-only
    passes (:func:`pq_encode`, :func:`pq_topk`).
    """
    import numpy as np

    seed = 42
    # validate from ONE row before any corpus-scale action: a bad
    # m_subspaces or an empty corpus must fail in milliseconds, not
    # after a sample collect (and np.stack on [] raises an opaque
    # 'need at least one array' — the cosine_topk_batch precedent)
    head = corpus.select(as_double(F.col(vec_col)).alias("v")).head()
    if head is None:
        raise ValueError("pq_train: empty corpus")
    d = len(head.v)
    if d % m_subspaces:
        raise ValueError(f"dim {d} not divisible by m_subspaces={m_subspaces}")
    probe = corpus.limit(fit_sample_rows + 1).count()
    fit_df = corpus
    if probe > fit_sample_rows:
        n = corpus.count()
        levels = 1 << 20
        thresh = int(min(1.0, 1.1 * fit_sample_rows / n) * levels)
        key = F.col(id_col) if id_col is not None else as_double(F.col(vec_col))
        sampled = corpus.filter(
            F.pmod(F.abs(F.hash(key, F.lit(seed))), levels) < thresh
        )
        # degenerate-draw guard (mirrors ivf_index): value-keyed trials
        # give duplicate vectors ONE fate, so a template-heavy corpus can
        # collapse the draw below the codebook size (or to zero rows).
        # The fallback must stay BOUNDED (round-5 advice: the earlier
        # full-corpus fallback collect()ed the whole over-cap corpus —
        # the exact driver-OOM the size probe exists to prevent):
        # deterministic hash-order top-N caps it at fit_sample_rows,
        # layout-independent (TakeOrderedAndProject — O(n log k) per
        # partition + a k-row merge, no full sort shuffle), and keeps
        # duplicate rows so the fit never drops below n_codes the way a
        # distinct-vector cap could
        if id_col is not None or sampled.limit(n_codes).count() >= n_codes:
            fit_df = sampled
        else:
            fit_df = corpus.orderBy(
                F.abs(F.hash(key, F.lit(seed))), key
            ).limit(fit_sample_rows)
    rows = fit_df.select(as_double(F.col(vec_col)).alias("v")).collect()
    X = np.stack([np.asarray(r.v, dtype="float64") for r in rows])
    X = X[np.lexsort(X.T[::-1])]  # canonical row order (see _lloyd_kmeans)
    dsub = d // m_subspaces
    return np.stack(
        [
            _lloyd_kmeans(
                X[:, j * dsub : (j + 1) * dsub], n_codes, seed + j
            )
            for j in range(m_subspaces)
        ]
    )


def pq_encode(
    corpus: DataFrame,
    codebooks,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Encode every vector to its PQ code: per subspace, the index of the
    nearest codebook centroid.  Returns (<id_col>, pq_code array<int>,
    vec_norm double) — the norm rides along so :func:`pq_topk` can serve
    COSINE from codes alone.  ``keep_cols`` pass through unchanged (e.g.
    ``ivf_cell`` for :func:`ivfpq_topk`).  One map-only Arrow pass
    (broadcast codebooks, vectorized argmin per batch); zero shuffle.
    Store this frame as the serving index — ~16× smaller than the
    raw vectors (m code bytes + the 8-byte norm vs 4·d)."""
    import numpy as np
    import pandas as pd

    from waddleml_spark.session import ensure_shipped, fan_out

    spark = corpus.sparkSession
    ensure_shipped(spark)
    bcb = spark.sparkContext.broadcast(np.asarray(codebooks, dtype="float64"))
    id_type = corpus.schema[id_col].dataType
    schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("pq_code", T.ArrayType(T.IntegerType())),
            T.StructField("vec_norm", T.DoubleType()),
        ]
        + [T.StructField(c, corpus.schema[c].dataType) for c in keep_cols]
    )

    def encode(batches):
        cb = bcb.value  # (m, n_codes, dsub)
        m, _, dsub = cb.shape
        cb2 = (cb**2).sum(2)  # (m, n_codes)
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["__v"].to_numpy()).astype("float64")
            codes = np.empty((len(X), m), dtype="int32")
            for j in range(m):
                Xs = X[:, j * dsub : (j + 1) * dsub]
                # ||x-c||^2 argmin == (-2 x·c + ||c||^2) argmin
                codes[:, j] = (-2 * Xs @ cb[j].T + cb2[j][None, :]).argmin(1)
            out = {
                id_col: pdf["__id"],
                "pq_code": list(codes),
                "vec_norm": np.linalg.norm(X, axis=1),
            }
            for c in keep_cols:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    src = fan_out(
        corpus.select(
            F.col(id_col).alias("__id"),
            as_double(F.col(vec_col)).alias("__v"),
            *keep_cols,
        )
    )
    return src.mapInPandas(encode, schema)


def pq_topk(
    codes: DataFrame,
    codebooks,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    rerank: int = 0,
    corpus: DataFrame | None = None,
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k by asymmetric distance (ADC): the query is cut into
    subvectors, a (m × n_codes) lookup table of dot-product contributions
    is built DRIVER-side and broadcast, and each row's approximate dot is
    m table lookups — never touching the raw vectors.  cos ≈ adc_dot /
    (|q|·vec_norm).  Returns (<id_col>, cos_sim) desc, id tiebreak.

    With ``rerank`` R > 0 (requires ``corpus``): take the top R by ADC,
    then EXACT cosine on just those R rows — the production IVF-PQ
    serving shape (codes pick candidates at ~16× less scan bandwidth, floats
    only load for R rows).  The id set crossing the driver is O(R)."""
    import math

    import numpy as np
    import pandas as pd

    from waddleml_spark.session import ensure_shipped

    spark = codes.sparkSession
    ensure_shipped(spark)
    cb = np.asarray(codebooks, dtype="float64")
    m, _, dsub = cb.shape
    q = np.asarray([float(x) for x in query_vec], dtype="float64")
    if len(q) != m * dsub:
        raise ValueError(f"query dim {len(q)} != codebook dim {m * dsub}")
    lut = np.einsum("mkd,md->mk", cb, q.reshape(m, dsub))  # (m, n_codes)
    qnorm = max(math.sqrt(float(q @ q)), 1e-300)
    blut = spark.sparkContext.broadcast(lut)

    def score(batches):
        tbl = blut.value
        rng = np.arange(tbl.shape[0])
        for pdf in batches:
            if not len(pdf):
                continue
            cmat = np.stack(pdf["pq_code"].to_numpy()).astype("int64")
            adc = tbl[rng[None, :], cmat].sum(1)
            nrm = np.maximum(pdf["vec_norm"].to_numpy(), 1e-300)
            yield pd.DataFrame(
                {"__id": pdf["__id"], "cos_sim": adc / (qnorm * nrm)}
            )

    id_type = codes.schema[id_col].dataType
    schema = T.StructType(
        [
            T.StructField("__id", id_type),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )
    src = codes.select(
        F.col(id_col).alias("__id"), "pq_code", "vec_norm"
    )
    scored = src.mapInPandas(score, schema)
    take = max(k, rerank)
    top = (
        scored.orderBy(F.desc("cos_sim"), F.asc("__id"))
        .limit(take)
        .select(F.col("__id").alias(id_col), "cos_sim")
    )
    if rerank <= 0:
        return top.limit(k)
    if corpus is None:
        raise ValueError("rerank requires the raw corpus for exact cosine")
    cand_ids = [r[0] for r in top.select(id_col).collect()]  # O(rerank)
    return cosine_topk(
        corpus.filter(F.col(id_col).isin(cand_ids)),
        list(query_vec),
        k=k,
        vec_col=vec_col,
        id_col=id_col,
    )


def ivfpq_topk(
    codes: DataFrame,
    model,
    codebooks,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    rerank: int = 0,
    corpus: DataFrame | None = None,
    vec_col: str = "embedding",
) -> DataFrame:
    """The full IVF-PQ serving stack: probe the ``n_probe`` nearest IVF
    cells (centroid distances driver-side), ADC-score only the PQ codes
    inside them, optionally exact-rerank the top R.  ``codes`` is
    :func:`pq_encode` output with ``keep_cols=("ivf_cell",)`` over an
    :func:`ivf_index`-assigned corpus.  100 TB shape: the index is
    partition-prunable on ``ivf_cell`` AND ~16× smaller than raw
    vectors (m code bytes + the 8-byte norm vs 4·d), so a probe touches
    n_probe/n_cells of a compressed table; floats load only for the R
    rerank rows."""
    cand = codes.filter(F.col("ivf_cell").isin(_probe_cells(model, query_vec, n_probe)))
    return pq_topk(
        cand,
        codebooks,
        query_vec,
        k=k,
        id_col=id_col,
        rerank=rerank,
        corpus=corpus,
        vec_col=vec_col,
    )


def ann_topk_lsh(
    corpus: DataFrame,
    query_vec: list[float],
    hyperplanes: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN: probe only the query's LSH bucket, then exact cosine top-10
    inside it.  Recall < 1 by design; multi-probe = union of neighbor
    buckets (flip one bit) if needed."""
    bucketed = lsh_bucketize(corpus, hyperplanes, vec_col)
    # query bucket computed driver-side with the same formula
    import math

    qb = 0
    for i, plane in enumerate(hyperplanes):
        d = sum(float(a) * float(b) for a, b in zip(query_vec, plane))
        if d >= 0:
            qb |= 1 << i
    cand = bucketed.filter(F.col("lsh_bucket") == qb)
    return cosine_topk(cand, query_vec, vec_col=vec_col, id_col=id_col)


def covariance_matrix(df: DataFrame, vec_col: str = "embedding"):
    """Distributed covariance of an embedding column → driver ndarray.

    The scale pattern for second-moment statistics: each Arrow batch
    reduces to ONE partial (n, Σx, ΣxxT) via numpy einsum inside
    mapInPandas, partials are a handful of rows regardless of input
    size, and the final combine touches d² floats once.  Row-wise
    outer-product explosion (n·d² rows through a shuffle) is the
    anti-pattern this replaces.  d is small (embedding width), so the
    driver-side d×d step is trivial — the data-sized work is all
    distributed.
    """
    import numpy as np
    import pandas as pd

    from waddleml_spark.session import ensure_shipped, fan_out

    ensure_shipped(df.sparkSession)
    src = fan_out(df.select(F.col(vec_col).alias("v")))

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["v"].to_numpy()).astype("float64")
            yield pd.DataFrame(
                {
                    "n": [float(len(x))],
                    "s": [x.sum(axis=0).tolist()],
                    "ss": [np.einsum("ni,nj->ij", x, x).ravel().tolist()],
                }
            )

    part = src.mapInPandas(
        partials, schema="n double, s array<double>, ss array<double>"
    )
    rows = part.collect()  # one row per Arrow batch — tiny
    if not rows:
        raise ValueError("covariance over an empty corpus")
    n = sum(r.n for r in rows)
    s = np.sum([np.array(r.s) for r in rows], axis=0)
    ss = np.sum([np.array(r.ss) for r in rows], axis=0)
    d = int(round(len(s)))
    mu = s / n
    cov = ss.reshape(d, d) / n - np.outer(mu, mu)
    return cov, int(n)


def dispersion_by_label(
    df: DataFrame, vec_col: str = "embedding", label_col: str = "label"
) -> DataFrame:
    """Per-group mean pairwise cosine similarity with NO pairwise
    expansion — the semantic-diversity audit behind cluster-dispersion
    curation (SemDeDup / D4 style: a label whose vectors all point the
    same way is redundant; a diverse one earns its tokens).

    The pairwise sum collapses to per-dimension sums of the UNIT
    vectors:  Σ_{i≠j} v̂_i·v̂_j = ‖Σ v̂‖² − Σ‖v̂‖², so the whole statistic
    is one linear pipeline: fold norm per row (left-fold ``dot`` — the
    blocked_cosine_pairs contract, bit-identical to DuckDB
    list_dot_product), posexplode, partial-agg at (label, dim) grain
    (map-side combine makes the shuffle |labels|·d rows), final agg at
    |labels| grain.  O(n·d) work and O(labels·d) shuffle where the
    naive form is O(n²·d) — the reason this scales to a 100 TB corpus
    while a pairwise join never leaves the ground.

    Zero-norm / NaN / inf / NULL vectors and NULL labels are excluded
    (a unit vector does not exist for them — the review-cycle finding:
    NaN passes a bare ``nrm > 0`` under BOTH engines' NaN-largest
    comparison and would poison the label's mean into the _r-vs-NaN
    floor divergence; ``nrm < inf`` is false for NaN AND inf on both
    engines, so one predicate excludes the whole non-finite class);
    n_vecs counts survivors via max over dims of the per-dim count,
    which is exact for any dim mix.  Groups need n_vecs >= 2 (no pairs
    otherwise); the divisor casts n_vecs to double BEFORE the multiply
    so a >3e9-vector label cannot overflow BIGINT n·(n−1).  The mean is
    an order-nondeterministic float sum — callers round with the
    catalog ``_r`` helper before oracle pairing.
    """
    base = (
        df.filter(F.col(vec_col).isNotNull() & F.col(label_col).isNotNull())
        .select(
            F.col(label_col).alias("label"),
            F.col(vec_col).alias("v"),
            norm(as_double(F.col(vec_col))).alias("nrm"),
        )
        .filter(
            (F.col("nrm") > 0) & (F.col("nrm") < F.lit(float("inf")))
        )
    )
    x = base.select(
        "label", "nrm", F.posexplode("v").alias("pos", "xf")
    ).select(
        "label",
        "pos",
        (F.col("xf").cast("double") / F.col("nrm")).alias("val"),
    )
    sp = x.groupBy("label", "pos").agg(
        F.sum("val").alias("s"),
        F.sum(F.col("val") * F.col("val")).alias("q"),
        F.count("*").alias("cnt"),
    )
    sl = sp.groupBy("label").agg(
        F.sum(F.col("s") * F.col("s")).alias("ss"),
        F.sum("q").alias("sq"),
        F.max("cnt").alias("n_vecs"),
    )
    mean = (F.col("ss") - F.col("sq")) / (
        F.col("n_vecs").cast("double") * (F.col("n_vecs") - F.lit(1))
    )
    return (
        sl.filter(F.col("n_vecs") >= 2)
        .select("label", "n_vecs", mean.alias("mean_pairwise_cos"))
    )


def pca_variance_report(
    df: DataFrame, vec_col: str = "embedding", top_k: int = 8
) -> DataFrame:
    """Top-k PCA eigenvalues + explained-variance ratios of the embedding
    space — the dimensionality/whitening audit of an embedding pipeline.

    Covariance is reduced distributed (see covariance_matrix); the d×d
    eigendecomposition runs driver-side (d = embedding width, constant
    and small — NEVER data-sized).  Values are rounded to 4 digits: the
    distributed float sum is order-nondeterministic in the last ulp and
    this is a rows-only catalog entry (eig is not SQL-expressible).
    """
    import numpy as np

    spark = df.sparkSession
    cov, n = covariance_matrix(df, vec_col)
    evals = np.linalg.eigvalsh(cov)[::-1]
    total = float(evals.sum())
    top = evals[:top_k]
    rows = [
        (i, float(round(v, 4)), float(round(v / total, 4)))
        for i, v in enumerate(top)
    ]
    return spark.createDataFrame(
        rows, "component int, eigenvalue double, explained_ratio double"
    )


def domain_mix_report(
    corpus: DataFrame,
    n_domains: int = 8,
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic domain mix with temperature-smoothed sampling weights.

    The data-mixing stage of a pre-training pipeline (public recipe:
    the multilingual alpha-smoothing of XLM-R / mT5): cluster the
    corpus into semantic domains (KMeans cells, reusing ivf_index —
    one iterative fit, one assignment pass), then compute each
    domain's natural share p_i and the smoothed sampling share
    q_i = p_i^alpha / sum p_j^alpha with alpha = 0.5 — alpha<1
    upsamples tail domains, alpha=1 would keep the natural mix.  Per
    domain: n_docs, natural_share, smoothed_share, sample_rate = q_i/p_i (the per-row multiplier
    resample_to_mix consumes downstream).

    Plan shape: the only corpus-scale work is the KMeans assignment
    projection + one count shuffle at domain grain; the share math is
    the shared mixing.smoothed_shares helper — one unpartitioned window
    pass over the n_domains-row aggregate, values floor-rounded to 6
    digits (rows-only determinism)."""
    from waddleml_spark.llmops.mixing import smoothed_shares

    _model, with_cells = ivf_index(corpus, n_cells=n_domains, vec_col=vec_col)
    counts = with_cells.groupBy("ivf_cell").agg(F.count("*").alias("n_docs"))
    return (
        smoothed_shares(counts, "n_docs", 0.5)
        .select(
            F.col("ivf_cell").alias("domain"),
            "n_docs",
            "natural_share",
            "smoothed_share",
            "sample_rate",
        )
        .orderBy("domain")
    )


def hard_negative_topk(
    corpus: DataFrame,
    n_queries: int = 8,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    kernel: str = "arrow",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query vector
    (``id < n_queries``), the top-``k`` most-similar vectors with a
    DIFFERENT label — the highest-value negatives (similar but wrong)
    a retrieval/embedding trainer pairs with each anchor.

    Oracle-exact by the cosine_topk rule: the dot products are the
    sequential left fold, bit-identical to DuckDB list_dot_product, so
    the per-query ranking (cos desc, id tiebreak) is deterministic
    cross-engine.

    ``kernel='arrow'`` (default, the r10 rebuild): an Arrow-batch
    numpy kernel that accumulates the similarity matrix
    DIMENSION-BY-DIMENSION (``S += outer(X[:, i], Q[:, i])``) — the
    blocked_cosine_pairs bit-exactness contract: each pair's dot is
    the identical left-associative IEEE add sequence the fold
    executes, never a BLAS matmul (pairwise summation differs in the
    last ulp).  Norms accumulate in the same order; cos divides
    ``dot / (norm_e * norm_q)`` with the fold's association.  Each
    batch emits only an exact local top-k per anchor (cos desc, id
    asc, NaN ranked first — Spark/DuckDB both order NaN above every
    double), so the window input is O(k · anchors · batches), never
    corpus-sized.  Why not expressions: the fold twin evaluates 3
    interpreted HOF lambdas per (row × anchor) — 100× measured 3.8 s;
    an unrolled 64-term expression was measured WORSE at every scale
    (one giant nested Add tree = one >8 KB codegen method the JIT
    refuses, so it runs bytecode-interpreted: 1× 0.74 vs 0.58 s, 100×
    10.8 vs 3.8 s) — recorded in SCALING.md so nobody re-tries it.

    ``kernel='expr'`` keeps the pure-JVM fold twin: no Python workers
    in the path, any dimension, same bits — the generic-environment
    fallback and the cross-check used by the parity test.

    Scale shape: the anchor side is tiny by construction (an id-range
    filter, collected once and shipped in the kernel closure); the
    corpus crosses ONE map pass + one qid window shuffle over the
    pre-limited top-k rows (top3_orders_per_cust posture); nothing
    pairwise beyond corpus × n_queries.
    """
    from pyspark.sql import Window

    if kernel == "arrow":
        scored = _hard_negative_scored_arrow(
            corpus, n_queries, k, vec_col, id_col, label_col
        )
    elif kernel == "expr":
        q = corpus.filter(F.col(id_col) < n_queries).select(
            F.col(id_col).alias("qid"),
            F.col(label_col).alias("qlabel"),
            as_double(F.col(vec_col)).alias("qd"),
        )
        c = corpus.select(
            F.col(id_col),
            F.col(label_col),
            as_double(F.col(vec_col)).alias("ed"),
        )
        joined = c.join(F.broadcast(q), F.col(label_col) != F.col("qlabel"))
        sim = cosine(F.col("ed"), F.col("qd"))
        scored = joined.select(
            "qid", F.col(id_col), F.col(label_col), sim.alias("cos_sim")
        )
    else:
        raise ValueError(f"kernel must be 'arrow' or 'expr' (got {kernel!r})")
    w = Window.partitionBy("qid").orderBy(
        F.desc("cos_sim"), F.col(id_col)
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("qid", "rnk", id_col, label_col, "cos_sim")
    )


def _hard_negative_scored_arrow(
    corpus: DataFrame,
    n_queries: int,
    k: int,
    vec_col: str,
    id_col: str,
    label_col: str,
) -> DataFrame:
    """(qid, id, label, cos_sim) candidate rows for hard_negative_topk:
    per Arrow batch, the exact local top-k different-label rows per
    anchor, cosines bit-identical to the left-fold expression kernel
    (dimension-wise accumulation — see the caller's docstring).

    The anchor fetch is a bounded driver collect (≤ n_queries rows by
    the id-range filter — the serving-edge collect rule); anchors ship
    inside the kernel closure, so the corpus-side plan is ONE
    mapInPandas pass with no join operator at all.  NOTE this makes
    DataFrame CONSTRUCTION eager by one small driver job (the _qvec
    parameter-fetch class — plan-only consumers like plans.report pay
    it); the kernel cannot collect on workers, and the job is an
    8-row filter scan.

    PRECONDITION (shared with blocked_cosine_pairs): vectors are
    non-NULL and fixed-dimension — np.stack raises on a NULL/ragged
    embedding where the expression twin would emit a NULL cosine that
    sorts last.  Crash-vs-silent-NULL is the intended trade: a NULL
    vector in an embeddings table is upstream corruption."""
    import numpy as np
    import pandas as pd

    from waddleml_spark.session import ensure_shipped, fan_out

    spark = corpus.sparkSession
    ensure_shipped(spark)
    anchors = (
        corpus.filter(F.col(id_col) < n_queries)
        .select(id_col, label_col, vec_col)
        .collect()
    )
    id_type = corpus.schema[id_col].dataType
    label_type = corpus.schema[label_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("qid", id_type),
            T.StructField("__id", id_type),
            T.StructField("__label", label_type),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )
    if not anchors:
        return spark.createDataFrame([], out_schema).select(
            "qid",
            F.col("__id").alias(id_col),
            F.col("__label").alias(label_col),
            "cos_sim",
        )
    q_ids = np.array([r[0] for r in anchors])
    q_labels = np.array([r[1] for r in anchors])
    qm = np.stack([np.asarray(r[2], dtype="float64") for r in anchors])

    def _seq_norms(E: "np.ndarray") -> "np.ndarray":
        # same sequential order as the pair dots (blocked_cosine_pairs)
        acc = np.zeros(len(E))
        for i in range(E.shape[1]):
            acc += E[:, i] * E[:, i]
        return np.sqrt(acc)

    qn = _seq_norms(qm)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["__id"].to_numpy()
            labels = pdf["__label"].to_numpy()
            # NULL labels are NEVER negatives (review find): the expr
            # twin's join condition `label <> qlabel` is SQL-NULL for a
            # NULL label, excluding the row — numpy's `!=` would have
            # included it.  Masked ONCE per batch; float-NaN labels are
            # excluded the same way (pd.isna), documented as the one
            # deliberate divergence (the expr twin would pair a
            # NaN-labeled row with non-NaN anchors; NaN labels are
            # schema corruption, not a category).
            notnull = ~pd.isna(labels)
            X = np.stack(pdf["__v"].to_numpy()).astype("float64")
            en = _seq_norms(X)
            S = np.zeros((len(X), len(q_ids)))
            for i in range(X.shape[1]):  # dimension-wise = left fold
                S += np.multiply.outer(X[:, i], qm[:, i])
            denom = np.multiply.outer(en, qn)
            # zero denominator = the NULL class (DuckDB x/0 -> NULL;
            # the expr twin's try_divide — r11 advisor-test find: the
            # old raw division made numpy say NaN here while ANSI Spark
            # CRASHED, so the kernels diverged on any zero-norm vector).
            # NULL sorts LAST on DESC in both engines — below NaN, +inf
            # and -inf — but the rows stay ELIGIBLE as top-k fillers
            # when an anchor has fewer than k finite candidates.
            zero = denom == 0
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = S / denom
            # Local selection must reproduce the engines' TOTAL order
            # cos desc = [NaN, +inf, ..., -inf, NULL] with id-asc ties:
            # the partition prefilter maps NaN→+inf (a SUPERSET cut —
            # keeps every NaN and +inf row), then the exact sort ranks
            # NaN ABOVE +inf via an explicit isnan primary key (review
            # find: a plain NaN→inf key conflated NaN with a genuine
            # +inf cosine and could evict the row the global window
            # keeps).  The secondary sort value is NaN-free (NaN rows
            # get 0 there; the isnan key already groups them, ids break
            # ties — Spark orders equal-NaN by the id tiebreak too).
            # Emitted values stay raw cosines; NULL-class rows emit
            # None (object column) so Arrow lands a real SQL NULL.
            isnan = np.isnan(cos) & ~zero
            outs = []
            for j in range(len(q_ids)):
                if pd.isna(q_labels[j]):
                    # a NULL-labeled ANCHOR has no negatives either
                    # (the join condition is SQL-NULL for every row)
                    continue
                valid = np.flatnonzero(notnull & (labels != q_labels[j]))
                if not len(valid):
                    continue
                nn = valid[~zero[valid, j]]
                s = np.where(isnan[nn, j], np.inf, cos[nn, j])
                kk = min(k, len(nn))
                if kk < len(nn):
                    kth = np.partition(s, len(s) - kk)[len(s) - kk]
                    cand = nn[np.flatnonzero(s >= kth)]
                else:
                    cand = nn
                sel_clean = np.where(isnan[cand, j], 0.0, cos[cand, j])
                # exact (NaN first, cos desc, id asc) among the
                # boundary-tie set; lexsort's LAST key is primary
                order = np.lexsort(
                    (ids[cand], -sel_clean, ~isnan[cand, j])
                )
                top = cand[order][:kk]
                if kk < k:
                    # NULL-class fillers: each batch's (k - kk) smallest
                    # ids suffice — the global fill needs at most
                    # k - total_finite <= k - kk of them, and the global
                    # smallest are contained in the per-batch smallest
                    nv = valid[zero[valid, j]]
                    if len(nv):
                        nv = nv[np.argsort(ids[nv])][: k - kk]
                    top = np.concatenate([top, nv]).astype(top.dtype)
                cs = cos[top, j].astype(object)
                zm = zero[top, j]
                if zm.any():
                    cs[zm] = None
                outs.append(
                    pd.DataFrame(
                        {
                            "qid": np.full(len(top), q_ids[j]),
                            "__id": ids[top],
                            "__label": labels[top],
                            "cos_sim": cs,
                        }
                    )
                )
            if outs:
                yield pd.concat(outs)

    src = fan_out(
        corpus.select(
            F.col(id_col).alias("__id"),
            F.col(label_col).alias("__label"),
            F.col(vec_col).alias("__v"),
        )
    )
    return src.mapInPandas(score, out_schema).select(
        "qid",
        F.col("__id").alias(id_col),
        F.col("__label").alias(label_col),
        "cos_sim",
    )
