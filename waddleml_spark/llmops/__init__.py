"""LLM-data-pipeline operators (SURVEY.md §2.12; BASELINE.json north star).

Not in the reference — these are the operations a large-scale training-data
pipeline needs, designed Spark-first for 100 TB:

    dedup        exact (hash-groupBy), MinHash+LSH, SimHash, n-gram Jaccard
    similarity   brute-force cosine top-k; LSH / IVF / PQ / IVF-PQ ANN
    bloom        Bloom-bitset decontamination (build/probe shared hashing)
    textstats    language-ID, quality scoring, token counts, fingerprinting
    multimodal   binary payload columns + mapInPandas decode plumbing
"""

from __future__ import annotations

import threading

# Whitespace spelled EXPLICITLY and identically for Java regex (Spark)
# and RE2 (DuckDB oracles).  The engines' `\s` shorthands differ: Java's
# is [ \t\n\x0B\f\r] while RE2's is [ \t\n\f\r] (no vertical tab), so a
# document containing \x0b would tokenize/chunk differently between a
# query and its oracle — a latent driver-window red.  The set equals
# Java's `\s`, so Spark-side behavior is unchanged; the oracle gains
# \x0b.  WS_CHARS is the raw member list for composing into OTHER
# classes (e.g. the BPE token pattern's negated class) on both sides.
WS_CHARS = r" \t\n\r\f\x0b"
WS_RE = f"[{WS_CHARS}]+"
# Edge-trim twin: the engines' `trim` builtins ALSO disagree — Spark's
# strips only ASCII space 0x20, DuckDB's strips the Unicode Zs category
# (NBSP \xa0, ideographic space 　, ...), so `lower(trim(text))`
# pairings are latently red on NBSP-edged documents (found by the
# cross-engine tokenizer fuzz test).  Both sides trim THIS class via
# regexp_replace instead of calling either builtin.  Anchors are \A/\z
# (end of TEXT in both engines), never ^/$: Java's `$` also matches
# before a final line terminator (\n, \r, NEL \x85,  ) while RE2's
# does not — the fuzzer's second find ('0\r\x85' trimmed differently).
WS_TRIM_RE = rf"\A[{WS_CHARS}]+|[{WS_CHARS}]+\z"

# The mega-bucket star guard's cap, for every pairwise expansion and its
# oracle: a bucket (or a gram's document frequency) above it is dropped,
# or expands as a star, instead of turning quadratic.  The synthetic
# corpus's boilerplate clusters (a 370-doc signature family at sf0.1)
# are what it bounds; the Spark operator and its SQL twin must agree.
STAR_CAP = 64


def sql_str(s: str) -> str:
    """A Spark-SQL single-quoted string literal whose PARSED value is
    exactly ``s`` — backslashes doubled so the Java regex engine receives
    the identical pattern text the Column-API path passes (Spark's SQL
    parser processes escape sequences inside quoted literals; an
    unescaped ``\\x0b`` would not survive it).

    For expr-string plan construction (see ``minhash_lsh_candidates``):
    building wide plans from parsed SQL strings instead of per-node
    Column objects cuts the driver's py4j round trips ~10× — measured
    0.46 s -> 0.18 s of per-invocation build time on the 32-wide minhash
    plan, identical Catalyst plan and bit-identical output."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def tokens_sql(text_col: str) -> str:
    """THE Spark-SQL expr-string form of the house tokenizer —
    ``F.split(textstats.lower_trim(col), WS_RE)`` as one parsed string.

    One definition, like the Column-API original: every expr-string
    pipeline that tokenizes (minhash_lsh_candidates) must build on this
    so a future change to the trim/whitespace rules can never silently
    diverge between the parsed and Column paths.  Token-identity with
    the Column build is pinned by the corpus-wide fuzz suite."""
    col = "`" + text_col.replace("`", "``") + "`"
    return (
        f"split(regexp_replace(lower({col}), {sql_str(WS_TRIM_RE)}, ''),"
        f" {sql_str(WS_RE)})"
    )


def round_floor(c, digits: int):
    """THE house cross-engine rounding: floor(x·10^d + 0.5) / 10^d —
    the identical IEEE op sequence in Spark and DuckDB (library round()
    differs on shortest-repr ties).  One definition: catalog._r,
    mixing._round and the bigram-LM score all delegate here so the
    formula can never drift between a query and its SQL twin (_r_sql).
    Finite-domain only — see catalog._r's docstring for the NaN/inf
    caveats (use catalog._r_nan for NaN-carrying columns)."""
    from pyspark.sql import functions as F

    p = 10 ** digits
    return F.floor(c * p + F.lit(0.5)) / p


def rotate_persist(slot: str, df):
    """persist() ``df`` and release stale caches the SAME slot holds from
    older invocations.

    For operators whose cached frame is consumed lazily by the caller
    (so they cannot unpersist before returning): without this, every
    invocation in a long-lived session leaves blocks behind until the
    ContextCleaner happens to GC them (round-4 advice).  The slot keeps
    the TWO newest frames alive — unpersisting the immediately-previous
    one would silently re-introduce N-times re-execution for a caller
    that builds two invocations before collecting the first (e.g.
    comparing two packings in one action); anything older is released
    blocking=False so the swap never stalls the hot path.  Lock-guarded:
    streaming foreachBatch and dashboard threads may race the same slot.
    """
    df = df.persist()
    stale = []
    with _PERSIST_LOCK:
        live = _PERSIST_SLOTS.setdefault(slot, [])
        for prev in live:
            try:
                same = df.sameSemantics(prev)
            except Exception:  # prev belongs to a torn-down session
                continue
            if same:
                # Spark's CacheManager dedupes persist() by CANONICAL
                # plan: this df and prev share ONE InMemoryRelation, so
                # there is nothing new to track — and rotating here
                # would unpersist that shared entry two calls later,
                # silently destroying the cache each re-invocation is
                # about to read (measured: steady-state repeats of the
                # same catalog query ran 2-3x slower than the first).
                # The hit DOES refresh recency: without the move-to-end,
                # an interleaved A,B,A,C sequence would evict the
                # just-re-served A (live[:-2]) while the older-used B
                # survives.
                live.remove(prev)
                live.append(prev)
                return df
        live.append(df)
        stale = live[:-2]
        del live[:-2]
    for prev in stale:
        try:
            prev.unpersist(blocking=False)
        except Exception:  # session torn down between invocations
            pass
    return df


_PERSIST_LOCK = threading.Lock()
_PERSIST_SLOTS: dict[str, list] = {}
