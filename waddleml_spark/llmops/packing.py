"""Training-sequence packing + deterministic corpus resampling.

Two training-data pipeline stages downstream of dedup/quality filtering:

- `packed_sequences`: concat-and-chunk packing — lay every document's
  tokens end-to-end in one deterministic global order and cut the tape
  into fixed-length training sequences.  The global token offsets come
  from a DISTRIBUTED two-pass prefix sum (per-bucket window cumsum +
  broadcast bucket offsets), never a single-partition global window: at
  100 TB a global `Window.orderBy` funnels every row through one task,
  while the bucketed decomposition shuffles once on a 256-way hash prefix
  and the offset table is 256 rows regardless of data size.
- `resample_to_mix`: up/down-sample each source to a target rate with a
  salted-hash Bernoulli trial + integer repeats — reproducible on any
  engine/cluster/run, unlike `sample()` whose RNG is partition-dependent.

Cross-engine parity notes: the deterministic order key is the md5 hex
string of the doc id (DuckDB 1.0 lacks xxhash64); the 256 buckets are the
FIRST TWO HEX DIGITS of that key, so (bucket, key) order == plain key order
and a SQL oracle can reproduce the packing with one window sum.  Token
counts are integers, so all cumulative sums are exact — no float drift.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from waddleml_spark.llmops.textstats import token_count_bpe

HASH_FRAC_DIGITS = 4  # Bernoulli granularity: 16^4 = 65536 levels


def order_key(id_col: Column, salt: str = "") -> Column:
    """Deterministic shuffle key: md5 hex of the stringified id (+salt).

    md5-as-string survives every engine identically; salting decorrelates
    independent uses (split assignment vs packing order vs resampling)
    so one hash never biases another.
    """
    return F.md5(F.concat(id_col.cast("string"), F.lit(salt)).cast("binary"))


def hash_frac_threshold(p: float) -> str:
    """Hex-string threshold T such that substr(md5,1,4) < T with
    probability ~p (granularity 1/65536).  Precomputed in Python and
    inlined as a LITERAL in both the Spark plan and the SQL oracle —
    the engines compare identical strings, never parse hex.

    p ≈ 1 returns 'g', which sorts after every hex digit so the
    comparison is always true (keep-all).  The naive format() emitted
    the FIVE-char '10000' there, and the lexicographic compare
    h4 < '10000' silently kept only ~6.25% of rows — a round-6 review
    find that hit fit_sample whenever its oversampling ratio crossed
    1.0 (corpus between cap and 1.1×cap: the "sample" was 16× smaller
    than the corpus it meant to keep whole)."""
    if not 0.0 <= p <= 1.0:
        raise ValueError(f"probability out of range: {p}")
    t = round(p * 16**HASH_FRAC_DIGITS)
    if t >= 16**HASH_FRAC_DIGITS:
        return "g"
    return format(t, "04x")


def bernoulli_keep(id_col: Column, p: float, salt: str = "") -> Column:
    """Deterministic Bernoulli(p) trial on the salted id hash."""
    h4 = F.substring(order_key(id_col, salt), 1, HASH_FRAC_DIGITS)
    return h4 < hash_frac_threshold(p)


def packed_sequences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seq_len: int = 2048,
) -> DataFrame:
    """Doc-level packing plan: (id, n_tok, start, end, first_seq, last_seq).

    Documents are laid out in md5(id) order; `start`/`end` are global
    token offsets; a document occupies sequences first_seq..last_seq
    (last_seq > first_seq ⇔ it straddles a cut).  Zero-token documents
    are dropped (they occupy no tape).

    Distributed prefix sum, the scale-critical part:
      1. bucket = first two hex digits of the order key (256-way — a
         single digit caps the window stage at 16 parallel tasks, a hard
         ceiling at 100 TB; two digits keep the offset table trivially
         broadcastable while matching any realistic core count);
      2. per-bucket running sum via a window PARTITIONED by bucket —
         parallel, shuffle on the bucket key only;
      3. bucket offsets = exclusive prefix over the 256 bucket totals —
         a single-partition window over a CONSTANT 256 rows (explicitly
         safe: its input is an aggregate, not the data), broadcast back.
    Because the bucket is a prefix of the order key, concatenated bucket
    order equals global key order — the decomposition is exact.
    """
    d = df.select(
        F.col(id_col).alias("id"),
        token_count_bpe(F.col(text_col)).cast("long").alias("n_tok"),
    ).filter(F.col("n_tok") > 0)
    d = d.withColumn("h", order_key(F.col("id"))).withColumn(
        "b", F.substring("h", 1, 2)
    )
    # the bucket-totals branch and the per-bucket window branch both
    # consume d; without a cache Catalyst evaluates the upstream text
    # tokenization (the expensive regex over the corpus) once per
    # branch.  The cached frame is doc-grain numerics+hash — no text —
    # so it is small at any corpus size; persist (not localCheckpoint)
    # keeps lineage, so blocks stay evictable, nothing runs at plan-
    # build time, and executor loss recomputes instead of failing.
    # rotate_persist releases the PREVIOUS invocation's cache (the
    # caller consumes this frame lazily, so unpersisting here would be
    # too early).
    from . import rotate_persist

    d = rotate_persist("packing.packed_sequences", d)
    w_local = (
        Window.partitionBy("b")
        .orderBy("h", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn("local_end", F.sum("n_tok").over(w_local))
    totals = d.groupBy("b").agg(F.sum("n_tok").alias("tot"))
    w_off = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    offs = totals.select(
        "b", F.coalesce(F.sum("tot").over(w_off), F.lit(0)).alias("off")
    )
    d = d.join(F.broadcast(offs), "b")
    d = d.withColumn("end", F.col("off") + F.col("local_end")).withColumn(
        "start", F.col("end") - F.col("n_tok")
    )
    return d.select(
        "id",
        "n_tok",
        "start",
        "end",
        F.floor(F.col("start") / seq_len).alias("first_seq"),
        F.floor((F.col("end") - 1) / seq_len).alias("last_seq"),
    )


def packing_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-sequence summary of the 2048-token packing plan: how many
    documents START in each sequence, their token mass, and how many
    straddle the next cut.  Output is ~total_tokens/2048 rows — tiny at
    any scale."""
    plan = packed_sequences(df, text_col, id_col)
    return plan.groupBy(F.col("first_seq").alias("seq_id")).agg(
        F.count("*").alias("docs_starting"),
        F.sum("n_tok").alias("toks_starting"),
        F.sum(
            F.when(F.col("last_seq") > F.col("first_seq"), 1).otherwise(0)
        ).alias("boundary_docs"),
    )


def resample_to_mix(
    df: DataFrame,
    rates: dict[str, float],
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministically up/down-sample each group to its target rate
    (1.0 for a group ``rates`` does not name).

    rate r ⇒ each row is emitted floor(r) times plus one more with
    probability frac(r), decided by a salted hash of the id — the same
    document always gets the same fate, so the resampled corpus is
    reproducible across engines, runs, and cluster sizes (the property
    `sample()`/rand() cannot give).  Emission is explode(array_repeat),
    all JVM-side; rate 0 drops the group entirely.
    """
    rate_expr: Column = F.lit(1.0)
    for src, r in sorted(rates.items()):
        rate_expr = F.when(F.col(group_col) == src, float(r)).otherwise(rate_expr)
    base = F.floor(rate_expr).cast("int")
    extra_p = rate_expr - F.floor(rate_expr)
    # per-row threshold string: rates are column-dependent, so compare the
    # hash prefix against the hex threshold computed from the rate column
    # (same arithmetic both engines: round(p * 65536) rendered as 4-hex)
    h4 = F.substring(order_key(F.col(id_col), ":mix"), 1, HASH_FRAC_DIGITS)
    # least(..., 65535): a fractional rate ≥ 0.9999924 rounds to 65536 =
    # hex '10000', and lpad TRUNCATES over-length strings to '1000' —
    # collapsing a ~certain extra copy to a 1/16 chance (round-6 review
    # find).  Clamping to 'ffff' keeps it within the documented 1/65536
    # granularity; the oracle SQL mirrors the least()
    thresh = F.lpad(
        F.lower(
            F.hex(
                F.least(
                    F.round(extra_p * 16**HASH_FRAC_DIGITS).cast("long"),
                    F.lit(16**HASH_FRAC_DIGITS - 1),
                )
            )
        ),
        HASH_FRAC_DIGITS,
        "0",
    )
    n_copies = base + F.when(h4 < thresh, 1).otherwise(0)
    return df.withColumn("__copies", n_copies).filter(
        F.col("__copies") > 0
    ).withColumn("copy", F.explode(F.array_repeat(F.lit(1), F.col("__copies")))).drop(
        "__copies", "copy"
    )


def chunk_tokens(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """RAG-style token chunking: 64-token windows overlapping by 16.

    Chunk starts are 1, 1+stride, … while start ≤ max(n−overlap, 1)
    (stride = chunk − overlap), so every token is covered, consecutive
    chunks share `overlap` tokens, and a short doc yields exactly one
    chunk.  Built entirely with array expressions (sequence → transform
    → slice → explode): embarrassingly parallel, zero shuffle — the
    shape that matters when chunking 100 TB for an embedding pipeline.
    Returns (id, chunk_idx, toks, n_in_chunk).
    """
    chunk, overlap = 64, 16
    stride = chunk - overlap
    toks = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), F.lit(0)
    )
    # filter on the ALIASED column: filtering on the raw `toks`
    # expression after the select would re-add text_col and evaluate
    # the full-document tokenizer regex a second time per row (round-6
    # review find; repetition_ratio uses the same cheap form)
    base = df.select(F.col(id_col).alias("id"), toks.alias("tk")).filter(
        F.size(F.col("tk")) > 0
    )
    n = F.size(F.col("tk"))
    starts = F.sequence(
        F.lit(1), F.greatest(n - overlap, F.lit(1)), F.lit(stride)
    )
    chunks = F.transform(starts, lambda s: F.slice(F.col("tk"), s, chunk))
    out = base.select("id", F.posexplode(chunks).alias("chunk_idx", "toks"))
    return out.withColumn("n_in_chunk", F.size("toks"))


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Efraimidis–Spirakis (A-ES) weighted sampling WITHOUT replacement,
    fully deterministic: each row's uniform draw u ∈ (0,1] comes from the
    salted id hash (32-bit md5 prefix — layout-independent, like every
    sampler here), the sort key is -ln(u)/w, and the sample is the k
    SMALLEST keys (equivalently the k largest u^(1/w); Efraimidis &
    Spirakis 2006).  Inclusion probability is proportional to weight;
    rows with weight <= 0 are excluded, as in the paper.

    100 TB shape: one scan computing the key as pure JVM expressions,
    then TakeOrderedAndProject — per-partition top-k, O(k) to the
    driver, no shuffle of the corpus.  Deterministic given (ids, salt),
    so reruns and different cluster layouts pick the identical sample.

    Rows-only at the oracle layer BY DESIGN: ln is NOT bit-identical
    across engines (measured: JVM Math.log differs from libm/DuckDB in
    the last ulp on ~1% of inputs), so an exact-compare twin would be
    flaky on near-tied keys; the properties that matter (exact k,
    determinism, weight-proportional inclusion) are pinned by tests.
    """
    h32 = F.conv(
        F.substring(order_key(F.col(id_col), salt), 1, 8), 16, 10
    ).cast("double")
    u = (h32 + F.lit(1.0)) / F.lit(float(1 << 32))  # (0, 1]
    w = F.col(weight_col).cast("double")
    key = -F.log(u) / w
    return (
        df.filter(w > 0)
        .withColumn("aes_key", key)
        .orderBy(F.asc("aes_key"), F.asc(id_col))
        .limit(k)
    )


N_SHARDS = 8  # training_shard_plan's default; its SQL twin reads it too


def training_shard_plan(
    df: DataFrame,
    id_col: str = "doc_id",
    size_col: str = "n_chars",
    n_shards: int = N_SHARDS,
) -> DataFrame:
    """Deterministic shard + shuffle placement for a training export:
    (doc_id, shard, pos, cum_size) — every doc hashed to one of
    ``n_shards`` shards, globally shuffled WITHIN its shard by the same
    md5 key, with a running size budget per shard (where to cut an
    epoch's token/byte budget without a second pass).

    This is the export-side stage downstream of packing: writers pull
    shard s in pos order and get a reproducible, engine-independent
    training order (no RNG, no partition dependence — the
    resample_to_mix argument).  The hash key is the shared md5-BE32
    (dedup._md5_be32) over the stringified id, so shard assignment and
    in-shard order come from one draw and any engine can reproduce both.

    Scale shape: map-only hash + ONE shuffle on the shard key; each
    shard's window (row_number + running sum over the same frame) runs
    in its own partition — parallelism = n_shards, so size n_shards to
    the cluster (thousands at 100 TB), never 1.  No global window
    anywhere.
    """
    from waddleml_spark.llmops.dedup import _md5_be32

    h = _md5_be32(F.col(id_col).cast("string"))
    d = df.select(
        F.col(id_col),
        F.col(size_col).cast("long").alias("__sz"),
        h.alias("__h"),
    ).withColumn("shard", F.col("__h") % n_shards)
    w = (
        Window.partitionBy("shard")
        .orderBy("__h", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return d.select(
        id_col,
        "shard",
        F.count("*").over(w).alias("pos"),
        F.sum("__sz").over(w).alias("cum_size"),
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    size_col: str = "n_chars",
    n_shards: int = 8,
) -> dict:
    """Materialize a training export: compute the deterministic
    :func:`training_shard_plan`, join the payload back on, and write one
    Hive partition per shard (``shard=N/``) with rows ordered by the
    plan's ``pos`` inside each shard file — the on-disk layout a data
    loader streams sequentially per worker.  Returns the manifest that
    is also written to ``<path>/_shard_manifest.json``: per-shard row
    counts and size totals, plus the layout parameters, so a consumer
    can validate completeness without listing files.

    Scale shape: the plan costs one shard-key shuffle; the payload join
    is on the id key; ``repartitionByRange`` over (shard, pos) +
    in-partition sort gives each shard its own task(s) writing one
    ordered file run (hash repartition would collide shard values into
    shared tasks — see the inline note).  At 100 TB size n_shards to
    the cluster and the same plan holds (the write is embarrassingly
    parallel across shards).

    Determinism: re-running over the same input produces byte-identical
    shard assignment and order (md5 keys, no RNG) — the
    resample_to_mix/ training_shard_plan reproducibility contract
    extended to the files themselves.

    Deployment note: the manifest is written with a LOCAL filesystem
    Path — a remote ``scheme://`` path is REJECTED up front (advisor
    find: silently writing a local manifest next to remote parquet
    would leave a complete-looking export the consumer contract cannot
    validate); on an object store route it through the cluster's
    FileSystem API or publish it via sources.snaptable (DEPLOY.md's
    commit-protocol section).  The parquet write itself already goes
    through Spark's committer and is object-store-safe.
    """
    import json as _json

    # urlsplit, not a '://' scan (advisor find): single-slash URI forms
    # ('file:/tmp/x', 'hdfs:/x') bypassed the old guard and became
    # RELATIVE local paths, and 'file://host/path' kept its authority in
    # the manifest path.  Any non-file scheme is rejected, a file URI
    # with a non-empty netloc is rejected, and the manifest dir is the
    # PARSED path.  (A relative local dir containing ':' before any '/'
    # parses as a scheme and is rejected too — prefix it with './'.)
    from urllib.parse import urlsplit as _urlsplit

    parts = _urlsplit(path)
    if parts.scheme and parts.scheme != "file":
        raise ValueError(
            f"write_training_shards writes its manifest with local-"
            f"filesystem I/O; got a {parts.scheme}: path — write to a "
            "local staging dir or publish via sources.snaptable "
            "(DEPLOY.md)"
        )
    if parts.scheme == "file" and parts.netloc:
        raise ValueError(
            f"file: URI with a non-local authority "
            f"{parts.netloc!r} — use file:///<abs-path> or a plain path"
        )
    clash = {"shard", "pos"} & set(df.columns)
    if clash:
        raise ValueError(
            f"input already carries column(s) {sorted(clash)} — the export "
            "plan emits shard/pos itself; rename or drop them first "
            "(re-exporting a prior export re-shards from the payload "
            "columns, not the old plan)"
        )
    # the plan is referenced by TWO actions (the write join and the
    # manifest stats) — without the cache Catalyst re-executes the md5 +
    # window pipeline (and everything upstream of df) once per action;
    # the cached frame is doc-grain numerics, small at any corpus size
    from . import rotate_persist

    plan = rotate_persist(
        "packing.write_training_shards.plan",
        training_shard_plan(df, id_col, size_col, n_shards),
    )
    # the plan has one row per INPUT ROW (upsample repeats included,
    # each with its own pos), so the payload side must be UNIQUE per id
    # before the join — joining two repeat-carrying sides on the id key
    # would square the multiplicity (plan-side repeats alone carry the
    # mix into the files)
    payload = plan.select(id_col, "shard", "pos").join(
        df.dropDuplicates([id_col]), id_col
    )
    (
        # range partition, NOT hash: murmur3(shard) % n_shards over the
        # values 0..n_shards-1 is almost never a permutation, so a hash
        # repartition routinely packs two shards into one task and
        # leaves others empty — range gives one shard value per task
        payload.repartitionByRange(n_shards, F.col("shard"), F.col("pos"))
        .sortWithinPartitions("shard", "pos")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    # str keys BOTH in the returned dict and the file: JSON object keys
    # are strings, and returning int keys here would make the file
    # disagree with the documented return value
    stats = {
        str(r.shard): {"rows": r.rows, "total_size": r.total_size}
        for r in plan.groupBy("shard")
        .agg(
            F.count("*").alias("rows"),
            F.max("cum_size").alias("total_size"),
        )
        .collect()
    }
    manifest = {
        "n_shards": n_shards,
        "id_col": id_col,
        "size_col": size_col,
        "shards": stats,
    }
    import os as _os
    from pathlib import Path as _Path

    # temp-write + atomic rename (advisor find): a crash between the
    # parquet commit and the manifest write must never leave a
    # complete-LOOKING shard directory — the manifest's presence IS the
    # export's completeness marker, so it appears all-or-nothing.
    mdir = _Path(parts.path if parts.scheme == "file" else path)
    tmp = mdir / "._shard_manifest.json.tmp"
    tmp.write_text(_json.dumps(manifest))
    _os.replace(tmp, mdir / "_shard_manifest.json")
    return manifest
