"""Distributed BPE tokenizer training — learn merges FROM the corpus.

The public byte-pair-encoding algorithm (Sennrich et al. 2016, the
HuggingFace/GPT-2 trainer shape): repeatedly merge the most frequent
adjacent symbol pair.  The Spark-first insight is the same one the
reference trainers use: BPE statistics live on the WORD-FREQUENCY
table, not the corpus — so the only corpus-scale job is one
``groupBy(word).count()`` (map-side partial, shuffles vocabulary-sized
rows), and every merge iteration runs on the vocab table (10⁴-10⁷ rows
at 100 TB — still cluster-cheap, never corpus-scale):

  1. pair counts: explode each word's adjacent symbol pairs weighted by
     word frequency → groupBy sum (vocab-scale shuffle);
  2. argmax pair → ONE row to the driver (ties broken by pair text, so
     training is deterministic for a fixed corpus);
  3. apply the merge to every word's symbol array — an Arrow-batched
     pandas UDF over the vocab table (the one place imperative logic is
     genuinely needed; it touches vocab rows, not documents).

``localCheckpoint`` every few merges cuts the growing lineage — the
classic iterative-algorithm discipline on Spark.

Applying the learned tokenizer (``apply_bpe``) is again vocab-first:
distinct words join against the trained word→tokens map (AQE sizes the
join at runtime — broadcast when the vocabulary fits, shuffle when it
doesn't); unseen words replay the merge list in the same pandas kernel.

No counterpart in the reference; this is the tokenizer-training stage
of the data pipeline the §2.12 operators feed.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq): THE corpus-scale pass — everything after runs on
    this aggregated table."""
    words = F.explode(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), F.lit(0))
    ).alias("word")
    return docs.select(words).groupBy("word").agg(F.count("*").alias("freq"))


def _merge_kernel(merges: list[tuple[str, str]]):
    """Pandas UDF applying an ordered merge list to symbol arrays."""

    def apply_merges(col: pd.Series) -> pd.Series:
        out = []
        for syms in col:
            syms = list(syms)
            for a, b in merges:
                i, merged = 0, []
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        merged.append(a + b)
                        i += 2
                    else:
                        merged.append(syms[i])
                        i += 1
                syms = merged
            out.append(syms)
        return pd.Series(out)

    return F.pandas_udf(apply_merges, T.ArrayType(T.StringType()))


def _select_batch(
    rows: list,
    saw_all: bool,
    produced: set[str],
    limit: int,
) -> list[tuple[str, str]]:
    """Pick a prefix-batch of merges PROVABLY equal to sequential greedy.

    ``rows`` is the pair-count ranking ``(a, b, c)`` sorted exactly as the
    sequential argmax sorts (count desc, then pair text) — so rows[0] is
    what one-at-a-time greedy would pick.  A later row may join the same
    batch only when applying the earlier picks cannot change its rank:

    - it shares no symbol (and no merged-string) with any earlier pick —
      its own count is then invariant under those merges;
    - its count strictly exceeds every pair that DOES conflict with an
      earlier pick (visible conflicts tracked exactly; pairs below the
      collected top-K bounded by the K-th count when the list was
      truncated).  Any pair a merge creates — (x, ab) or (ab, y) — maps
      injectively onto a pre-merge occurrence of a conflicted pair
      ((x, a) / (b, y)), so "beats every conflicted pair" also beats
      every pair the merges can create, strictly (ties impossible);
    - its merged string is NOT an already-existing symbol (a+b matching
      an earlier round's product would let a merge BOOST an existing
      pair's count beyond the conflict bound).  A colliding candidate is
      still taken — as the LAST member, closing the batch — because its
      count-boosting side effects can only influence picks made AFTER
      it, and those happen in later jobs that recount from scratch.
    """
    if not rows:
        return []
    unseen_bound = rows[-1].c if not saw_all else -1
    first = rows[0]
    chosen = [(first.a, first.b)]
    chosen_set = {(first.a, first.b)}
    used = {first.a, first.b, first.a + first.b}
    if first.a + first.b in produced:
        return chosen
    while len(chosen) < limit:
        # the bound scans the WHOLE ranking, not just rows above the
        # candidate: a conflicted pair TIED with the candidate but
        # lex-after it can seed a created pair of equal count whose
        # text sorts first (measured divergence: ('m','n') tied with
        # ('cu','st') let sequential pick ('colum','n') early)
        bound, cand = unseen_bound, None
        for r in rows:
            if (r.a, r.b) in chosen_set:
                continue
            if r.a in used or r.b in used or (r.a + r.b) in used:
                bound = max(bound, r.c)
            elif cand is None:
                cand = r
        if cand is None or cand.c <= bound:
            break
        chosen.append((cand.a, cand.b))
        chosen_set.add((cand.a, cand.b))
        used |= {cand.a, cand.b, cand.a + cand.b}
        if cand.a + cand.b in produced:
            break  # merged-string collision: close the batch after it
    return chosen


def _train_inmem(
    vocab: list[tuple[str, int]], n_merges: int
) -> list[tuple[str, str]]:
    """Exact greedy BPE on a collected (word, freq) vocab — the classic
    incremental trainer (count once, apply per-merge deltas, lazy
    max-heap).  Bit-identical to the distributed recount loop: same
    overlap-counting pair statistics, same (count desc, pair text)
    tie-break, same leftmost non-overlapping merge application, and
    string-keyed pairs so merged-spelling collisions conflate exactly
    as a recount does."""
    import heapq
    from collections import Counter, defaultdict

    words = [list(w) for w, _ in vocab]
    wfreq = [f for _, f in vocab]
    counts: Counter = Counter()
    where: defaultdict = defaultdict(set)
    for i, syms in enumerate(words):
        f = wfreq[i]
        for p in zip(syms, syms[1:]):
            counts[p] += f
            where[p].add(i)
    heap = [(-c, p) for p, c in counts.items()]
    heapq.heapify(heap)
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges and heap:
        negc, p = heapq.heappop(heap)
        if -negc <= 0 or counts.get(p, 0) != -negc:
            continue  # stale entry — a fresh one exists for every live count
        merges.append(p)
        a, b = p
        for i in list(where[p]):
            syms = words[i]
            merged, j, hit = [], 0, False
            while j < len(syms):
                if j + 1 < len(syms) and syms[j] == a and syms[j + 1] == b:
                    merged.append(a + b)
                    j += 2
                    hit = True
                else:
                    merged.append(syms[j])
                    j += 1
            if not hit:
                continue  # stale index entry (pair already consumed here)
            f = wfreq[i]
            delta: Counter = Counter()
            for q in zip(syms, syms[1:]):
                delta[q] -= f
            for q in zip(merged, merged[1:]):
                delta[q] += f
            words[i] = merged
            for q, d in delta.items():
                if d == 0:
                    continue
                counts[q] += d
                if counts[q] <= 0:
                    counts.pop(q, None)
                else:
                    heapq.heappush(heap, (-counts[q], q))
                    if d > 0:
                        where[q].add(i)
        counts.pop(p, None)
        where.pop(p, None)
    return merges


def train_bpe(
    freqs: DataFrame,
    n_merges: int = 50,
    topk: int = 512,
    driver_vocab_rows: int = 2_000_000,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from a (word, freq) table.

    Deterministic and IDENTICAL to one-pair-at-a-time greedy (winning
    pair maximizes summed frequency, lexicographic tie-break).  Two
    exact execution paths (the round-4 review flagged one-Spark-job-
    per-merge as driver/scheduler-bound at a 32 k-merge vocab):

    - vocab fits ``driver_vocab_rows`` (the aggregated word table, NOT
      the corpus — tokenizer statistics are vocab-sized by
      construction): ONE collect, then the classic incremental trainer
      (``_train_inmem``).  A 256-merge train is 1 Spark job, not 256.
    - larger vocab: distributed batched loop — each job collects the
      top-``topk`` pair ranking and ``_select_batch`` certifies the
      longest prefix provably identical to sequential greedy; each
      batch applies in ONE Arrow kernel pass, lineage cut with
      localCheckpoint every 8 merges.

    The size probe is ``limit(cap+1).count()`` — one tiny job shipping a
    single long to the driver, NOT a cap+1-row collect: an over-cap vocab
    must not pay a 2M-Row driver transfer (potential driver OOM) just to
    learn it should take the distributed path.  Under the cap we pay one
    extra small job before the real collect — the cheap side of the trade
    (same probe shape as ``similarity.ivf_index``).
    """
    if driver_vocab_rows > 0:
        slim = freqs.select("word", "freq")
        if slim.limit(driver_vocab_rows + 1).count() <= driver_vocab_rows:
            head = slim.collect()
            return _train_inmem([(r.word, r.freq) for r in head], n_merges)
    vocab = freqs.select(
        "word", "freq", F.split(F.col("word"), "").alias("syms")
    ).localCheckpoint()
    merges: list[tuple[str, str]] = []
    produced: set[str] = set()
    since_ckpt = 0
    while len(merges) < n_merges:
        n = F.size(F.col("syms"))
        pairs = vocab.filter(n >= 2).select(
            "freq",
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("syms"), 1, n - 1).alias("a"),
                    F.slice(F.col("syms"), 2, n - 1).alias("b"),
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.col("c").desc(), F.col("a"), F.col("b"))
            .limit(topk)
            .collect()
        )
        batch = _select_batch(
            top, saw_all=len(top) < topk, produced=produced,
            limit=n_merges - len(merges),
        )
        if not batch:
            break
        merges.extend(batch)
        produced |= {a + b for a, b in batch}
        vocab = vocab.withColumn("syms", _merge_kernel(batch)(F.col("syms")))
        since_ckpt += len(batch)
        if since_ckpt >= 8:
            vocab = vocab.localCheckpoint()
            since_ckpt = 0
    return merges


def tokenize_words(
    freqs: DataFrame, merges: list[tuple[str, str]]
) -> DataFrame:
    """(word, freq, tokens): the trained word→tokens map, built by
    replaying the merge list once over the vocab table."""
    return freqs.select(
        "word",
        "freq",
        _merge_kernel(merges)(F.split(F.col("word"), "")).alias("tokens"),
    )


def apply_bpe(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_words, n_tokens): tokenize documents with the learned
    merges — vocab-first: the doc side explodes to (id, word), the
    token counts come from a join against the word→tokens map
    built from the docs' own distinct words.  The mapping join carries
    NO broadcast hint: the mapping materializes behind a shuffle, so AQE
    sees its true size at runtime and broadcasts exactly when it fits —
    a million-word web vocabulary falls back to a shuffle join instead
    of OOMing the driver."""
    from . import rotate_persist

    # the exploded (id, word) frame feeds BOTH the mapping aggregate and
    # the join probe side — persist (NOT localCheckpoint: checkpoint
    # blocks are pinned and unevictable, and this frame is CORPUS-scale;
    # a 100x scale run measured the pinned blocks starving the JVM) so
    # the regexp explode runs once yet stays evictable + lineage-safe
    words = rotate_persist(
        "bpe.words",
        docs.select(
            F.col(id_col).alias("id"),
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), F.lit(0)
                )
            ).alias("word"),
        ),
    )
    mapping = tokenize_words(
        words.groupBy("word").agg(F.count("*").alias("freq")), merges
    ).select("word", F.size("tokens").alias("n_tok"))
    counts = (
        words.join(mapping, "word")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_tok").alias("n_tokens"),
        )
    )
    # docs with ZERO [a-z0-9] tokens vanish at the explode and would be
    # silently absent from the output (round-6 review find: per-lang
    # n_docs undercounted vs sibling reports, and doc-list joins grew
    # unexplained nulls) — re-attach them as (id, 0, 0) from the pruned
    # id column
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(counts, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("n_words"), F.lit(0)).alias("n_words"),
            F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
        )
    )


def bpe_train_report(
    spark: SparkSession, sf_dir: str, n_merges: int = 30
) -> DataFrame:
    """One row per learned merge: (rank, pair, merged) plus compression
    evidence — corpus tokens-per-word before (= chars) and after."""
    from waddleml_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents")
    # materialize the vocab once: training, tokenization, and the stats
    # agg all read this — without the checkpoint each re-runs the
    # corpus-scale explode+groupBy ("ONE corpus-scale pass" contract)
    freqs = word_freqs(docs).localCheckpoint()
    merges = train_bpe(freqs, n_merges=n_merges)
    toks = tokenize_words(freqs, merges)
    stats = toks.agg(
        (
            F.sum(F.length("word") * F.col("freq")) / F.sum("freq")
        ).alias("chars_per_word"),
        (F.sum(F.size("tokens") * F.col("freq")) / F.sum("freq")).alias(
            "tokens_per_word"
        ),
    ).first()
    rows = [
        (
            i + 1,
            f"{a}+{b}",
            a + b,
            float(round(stats.chars_per_word, 3)),
            float(round(stats.tokens_per_word, 3)),
        )
        for i, (a, b) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows,
        "rank int, pair string, merged string, "
        "chars_per_word double, tokens_per_word double",
    )
