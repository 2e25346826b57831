"""URL canonicalization dedup — the crawl-pipeline stage (CCNet /
RefinedWeb-style) that collapses scheme/case/port/slash/tracking-param
variants of the same page before content dedup ever runs.

Canonical form (applied in this order, all JVM string built-ins — no
Python in the data path):

  1. drop the scheme, lowercase the host, strip a leading ``www.`` and
     an explicit default port (``:80``/``:443``); re-emit as ``https://``
  2. drop the fragment (``#...``)
  3. path: strip a trailing ``/index.html``, then a trailing slash;
     empty path renders as ``/``
  4. query: drop tracking params by NAME (``utm_*``, ``fbclid``,
     ``gclid``, ``ref`` — with or without a ``=value``), sort the
     survivors bytewise, re-join with ``&``; an empty survivor set
     drops the ``?`` entirely

Dialect soundness: every regex uses explicit classes with ``\\A``/``\\z``
anchors (Java ``$`` matches before a final line terminator, RE2's does
not — CLAUDE.md rule), ``split_part`` has identical out-of-range/-absent
semantics in Spark and DuckDB (both verified), and ``lower()`` is only
ASCII-sound (Java full case mapping vs DuckDB utf8proc simple beyond
ASCII) — hosts are ASCII by RFC and the fuzz test pins the ASCII domain
(tests/test_properties.py).  The sort step is bytewise on ASCII params,
where Spark ``sort_array`` and DuckDB ``list_sort`` agree.

Scale: the canonicalization is map-only (one projection, no shuffle);
the dedup grain is one hash-groupBy on the canonical string — the same
single-shuffle posture as exact_dedup.  At 100 TB the group-by key is
~a URL string per row; partial aggregation collapses each canonical
group map-side before the exchange.

Reference scope: briangu/waddleml has no URL operators — this is part
of the §2.12 LLM-pipeline extension surface (SURVEY.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from . import WS_CHARS, sql_str

# WS_TRIM_RE's two alternations need a 'g' flag in DuckDB (its
# regexp_replace is FIRST-match-only where Spark's is always global —
# found by the hand-case twin test), so the edge trim here is two
# SINGLE-match anchored strips sharing one verbatim stage text instead.
RE_WS_LEAD = rf"\A[{WS_CHARS}]+"
RE_WS_TAIL = rf"[{WS_CHARS}]+\z"

# anchored, explicit — at most one occurrence, so no 'g' flag is needed
# on the DuckDB side and Spark's always-global replace is equivalent.
# The www/tail strips consume a REPEATED run in one anchored match
# (review find: single-pass strips were not idempotent — 'a//',
# 'a/index.html/index.html', 'www.www.host' canonicalized to forms
# that re-canonicalized differently, so a crawler re-ingesting its own
# canonical URLs would re-group them).
RE_WWW = r"\A(www\.)+"
RE_PORT = r"(:(80|443))+\z"
RE_TAIL = r"(/index\.html|/)+\z"
# leading scheme only (review find: split_part(url,'://',2) truncated
# the URL at any SECOND '://' — embedded-URL query params like
# ?url=https://other.com collapsed distinct pages into one canonical
# form).  RFC 3986 scheme chars, case-insensitive spelled explicitly
# (the raw url is not lowercased yet at this stage).
RE_SCHEME = r"\A[A-Za-z][A-Za-z0-9+.-]*://"

# query params dropped before sorting, matched on the param NAME (the
# text before the first '='): exact members of TRACKING_NAMES plus any
# name with the utm_ prefix (utm_source, utm_campaign, ...).  Matching
# the NAME — not a "name=" prefix of the whole param — covers VALUELESS
# trackers too (advisor find: bare '?fbclid' with no '=' survived the
# old "fbclid=" prefix match, so 'https://a/p?fbclid' and 'https://a/p'
# stayed distinct canonical URLs).
TRACKING_NAMES = ("fbclid", "gclid", "ref")
TRACKING_NAME_PREFIXES = ("utm_",)


def _keep_param_pred(var: str, dialect: str) -> str:
    # the drop decision is case-folded (review find: a case-sensitive
    # match let UTM_SOURCE=... survive and blocked the collapse); the
    # param VALUE keeps its case.  split_part(x, '=', 1) is everything
    # before the FIRST '=' (the whole string when '=' is absent) in
    # BOTH engines — the CLAUDE.md split_part trap is part-2 only.
    # ASCII-sound per the module's documented domain.
    starts = "startswith" if dialect == "spark" else "starts_with"
    name = f"lower(split_part({var}, '=', 1))"
    drops = " AND ".join(
        [f"NOT {starts}({name}, '{p}')" for p in TRACKING_NAME_PREFIXES]
        + [f"{name} <> '{n}'" for n in TRACKING_NAMES]
    )
    return f"{var} <> '' AND {drops}"


def _canon_query_sql(q: str, dialect: str) -> str:
    """Sorted, tracking-free re-join of the query string `q`.

    The coalesce is load-bearing on the DuckDB side (fuzz-found):
    array_to_string over an EMPTY list returns NULL where Spark's
    array_join returns '' — without it an all-tracking query emits a
    dangling '?' in the oracle only.  Applied to both dialects so the
    stage text stays structurally identical."""
    pred = _keep_param_pred("p", dialect)
    if dialect == "spark":
        return (
            f"coalesce(array_join(sort_array(filter(split({q}, '&'), "
            f"p -> {pred})), '&'), '')"
        )
    return (
        f"coalesce(array_to_string(list_sort(list_filter("
        f"string_split({q}, '&'), p -> {pred})), '&'), '')"
    )


def _re(pattern: str, dialect: str) -> str:
    """Pattern as a string literal for the dialect: Spark's SQL parser
    eats backslashes (sql_str doubles them); DuckDB's single-quoted
    literals are raw."""
    return sql_str(pattern) if dialect == "spark" else f"'{pattern}'"


def _canon_stages(url: str, dialect: str) -> list[tuple[str, str]]:
    """(name, expr) stages shared verbatim between the Spark selectExpr
    chain and the DuckDB nested-SELECT oracle — ONE definition of the
    canonicalization so the dialects cannot drift structurally."""
    return [
        # LEADING scheme off (anchored — never split_part, which eats a
        # second '://'), fragment off — BEFORE host extraction: a query
        # can attach directly to the host ("example.com?x=1"), so
        # '?'/'#' must be peeled before the first '/' split
        # coalesce first (review find): Spark's concat propagates a NULL
        # url to canonical_url=NULL while DuckDB's concat SKIPS NULLs
        # and emitted a phantom 'https:///' group — NULL folds to ''
        # (-> 'https:///') identically on both sides.
        # Edge-trim BEFORE the scheme strip (r10 review find): a
        # whitespace-PADDED url (' https://a/x') defeated the \A-anchored
        # scheme strip and canonicalized to garbage that never collapsed
        # with its clean twin; the shared explicit WS class (never the
        # engines' trim builtins — CLAUDE.md) fixes the whole family at
        # canonicalization depth.  Canonical output carries no edge WS,
        # so idempotence is preserved (fuzz-pinned).
        ("__rest",
         f"regexp_replace(regexp_replace(regexp_replace("
         f"coalesce({url}, ''), "
         f"{_re(RE_WS_LEAD, dialect)}, ''), "
         f"{_re(RE_WS_TAIL, dialect)}, ''), "
         f"{_re(RE_SCHEME, dialect)}, '')"),
        ("__nf", "split_part(__rest, '#', 1)"),
        # host+path = before the FIRST '?'; query = everything AFTER it
        # (review find: split_part(x,'?',2) dropped text past a second
        # '?', legal inside a query per RFC 3986).  substr past the end
        # is '' in both engines, so no guard is needed for '?'-less
        # input.
        ("__hpath", "split_part(__nf, '?', 1)"),
        ("__q", "substr(__nf, length(__hpath) + 2)"),
        ("__hp", "split_part(__hpath, '/', 1)"),
        ("__host",
         f"regexp_replace(regexp_replace(lower(__hp), "
         f"{_re(RE_WWW, dialect)}, ''), {_re(RE_PORT, dialect)}, '')"),
        ("__path0", "substr(__hpath, length(__hp) + 1)"),
        # ONE anchored strip of the whole trailing /index.html//... run
        # (idempotence: '/a//' and '/a/index.html/index.html' both land
        # on '/a' in a single pass)
        ("__path1",
         f"regexp_replace(__path0, {_re(RE_TAIL, dialect)}, '')"),
        ("__qc", _canon_query_sql("__q", dialect)),
        ("canonical_url",
         "concat('https://', __host, "
         "CASE WHEN __path1 = '' THEN '/' ELSE __path1 END, "
         "CASE WHEN __qc = '' THEN '' ELSE concat('?', __qc) END)"),
    ]


def with_canonical_url(
    df: DataFrame, url_col: str = "url", out_col: str = "canonical_url"
) -> DataFrame:
    """Append `out_col` — the canonical form of `url_col` — as a map-only
    projection chain (parsed expr strings: ~10 stages, no py4j Column
    graph; the intermediates never leave the projection)."""
    out = df
    names: list[str] = []
    for name, expr in _canon_stages(url_col, "spark"):
        target = out_col if name == "canonical_url" else name
        out = out.selectExpr("*", f"{expr} AS {target}")
        if name != "canonical_url":
            names.append(name)
    return out.drop(*names)


# last two dot-labels of the host — the cheap registered-domain proxy
# (no public-suffix list in this container: 'a.co.uk' groups as 'co.uk',
# documented; the stage is deterministic and identical cross-engine).
# Explicit class + \z anchor per the dialect rules; single-label hosts
# (no dot) fall back to the whole host via the CASE.
RE_REG_DOMAIN = r"[^.]+\.[^.]+\z"
# canonicalization strips only the DEFAULT ports (:80/:443) and keeps
# userinfo (they distinguish canonical URLs), but a registered DOMAIN
# must not fragment per port or per userinfo (review find: a blocklist
# on 'example.com' was bypassed by 'example.com:8080' and
# 'u@example.com' — cap evasion / under-blocking).  Strip both here.
# Userinfo strips to the LAST '@' (r10 advisor find: the first-@ form
# left 'a@b@example.com' with domain 'b@example.com' — same bypass
# class; the (@run)* shape is RE2-safe and both engines resolve the
# greedy star to the last '@').  Segments are * not + (r11 review:
# EMPTY userinfo — 'https://@example.com' — and empty middle segments
# '@@' are legal per RFC 3986 and were still in the bypass class; a
# '@'-free host never matches because the final literal '@' has
# nothing to consume).  A trailing dot RUN is peeled too (FQDN form
# 'example.com.' failed RE_REG_DOMAIN and fell back to the dotted
# host — also a blocklist miss); anchored single match, so no 'g'
# flag divergence.
RE_USERINFO = r"\A[^@/]*(@[^@/]*)*@"
RE_ANY_PORT = r":[0-9]*\z"
RE_TRAIL_DOTS = r"[.]+\z"


def _domain_stages(dialect: str) -> list[tuple[str, str]]:
    """(name, expr) stages deriving `domain` from `canonical_url` —
    shared verbatim between dialects like _canon_stages.  The canonical
    form always reads https://<host><path...> with a non-empty path
    ('/' when empty), so the host is exactly the text between the fixed
    8-char scheme and the first '/'; userinfo and ANY remaining port
    are peeled before the label extraction."""
    return [
        ("__chost", "split_part(substr(canonical_url, 9), '/', 1)"),
        ("__hnp",
         f"regexp_replace(regexp_replace(regexp_replace(__chost, "
         f"{_re(RE_USERINFO, dialect)}, ''), "
         f"{_re(RE_ANY_PORT, dialect)}, ''), "
         f"{_re(RE_TRAIL_DOTS, dialect)}, '')"),
        ("__rd",
         f"regexp_extract(__hnp, {_re(RE_REG_DOMAIN, dialect)}, 0)"),
        ("domain", "CASE WHEN __rd = '' THEN __hnp ELSE __rd END"),
    ]


def with_registered_domain(df: DataFrame, out_col: str = "domain") -> DataFrame:
    """Append `out_col` — the registered domain of an existing
    `canonical_url` column (compose after :func:`with_canonical_url`).
    Map-only, like the canonicalization itself."""
    out = df
    scratch: list[str] = []
    for name, expr in _domain_stages("spark"):
        target = out_col if name == "domain" else name
        out = out.selectExpr("*", f"{expr} AS {target}")
        if name != "domain":
            scratch.append(name)
    return out.drop(*scratch)


def registered_domain_subquery_sql(inner_sql: str) -> str:
    """DuckDB twin of :func:`with_registered_domain`: wrap `inner_sql`
    (which must yield `canonical_url`) adding `domain`."""
    q = f"({inner_sql})"
    for name, expr in _domain_stages("duckdb"):
        q = f"(SELECT *, {expr} AS {name} FROM {q} AS _d_{name.strip('_')})"
    scratch = ", ".join(
        n for n, _ in _domain_stages("duckdb") if n != "domain"
    )
    return f"SELECT * EXCLUDE ({scratch}) FROM {q} AS _d_final"


def domain_capped_keepers(
    df: DataFrame,
    cap: int = 100,
    id_col: str = "doc_id",
    url_col: str = "url",
) -> DataFrame:
    """Per-domain document cap — the CCNet/RefinedWeb crawl-curation
    stage after URL dedup: no registered domain may contribute more
    than ``cap`` documents.  Keeper selection is DETERMINISTIC, not
    first-N: rank by md5-BE32 of the id within the domain (id
    tiebreak), so the kept set is a reproducible uniform-ish sample of
    the domain rather than whatever crawl order produced (the
    exact_dedup keeper discipline applied to a quota).  Returns the
    input rows (plus ``canonical_url``, ``domain``, ``domain_rank``)
    with rank <= cap.

    Scale shape: canonicalization + domain are map-only; the only
    exchange is the domain-grain window.  A mega-domain makes that a
    hot key — at crawl scale, pre-aggregate per-domain counts first
    and rank members only for domains past the cap; the report twin
    (catalog domain_cap_report) documents the same flip rule.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from waddleml_spark.llmops.dedup import _md5_be32

    with_dom = with_registered_domain(with_canonical_url(df, url_col))
    w = Window.partitionBy("domain").orderBy(
        _md5_be32(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        with_dom.withColumn(
            "domain_rank", F.row_number().over(w).cast("long")
        )
        .filter(F.col("domain_rank") <= cap)
    )


def _structure_stages(dialect: str) -> list[tuple[str, str]]:
    """(name, expr) stages deriving URL STRUCTURE features from
    `canonical_url` — path depth (slash count; 0 for the bare '/')
    and query parameter count — shared verbatim between dialects like
    _domain_stages.  Pure string built-ins (length/replace/split_part/
    substr agree cross-engine on the module's ASCII domain); no
    regexes, no HOFs.  Depth counts '/' characters, so interior empty
    segments ('/a//b') count — documented raw-slash semantics, one
    definition both sides."""
    del dialect  # every builtin here is spelled identically
    return [
        ("__rest9", "substr(canonical_url, 9)"),
        ("__chost2", "split_part(__rest9, '/', 1)"),
        ("__pq", "substr(__rest9, length(__chost2) + 1)"),
        ("__spath", "split_part(__pq, '?', 1)"),
        ("__sq", "substr(__pq, length(__spath) + 2)"),
        ("path_depth",
         "CAST(CASE WHEN __spath = '/' THEN 0 ELSE "
         "length(__spath) - length(replace(__spath, '/', '')) END "
         "AS BIGINT)"),
        ("has_query",
         "CAST(CASE WHEN __sq = '' THEN 0 ELSE 1 END AS BIGINT)"),
        ("n_params",
         "CAST(CASE WHEN __sq = '' THEN 0 ELSE "
         "length(__sq) - length(replace(__sq, '&', '')) + 1 END "
         "AS BIGINT)"),
    ]


_STRUCT_OUT = ("path_depth", "has_query", "n_params")


def with_url_structure(df: DataFrame) -> DataFrame:
    """Append path_depth / has_query / n_params derived from an
    existing `canonical_url` column (compose after
    :func:`with_canonical_url`).  Map-only."""
    out = df
    scratch: list[str] = []
    for name, expr in _structure_stages("spark"):
        out = out.selectExpr("*", f"{expr} AS {name}")
        if name not in _STRUCT_OUT:
            scratch.append(name)
    return out.drop(*scratch)


def url_structure_subquery_sql(inner_sql: str) -> str:
    """DuckDB twin of :func:`with_url_structure`: wrap `inner_sql`
    (which must yield `canonical_url`) adding the structure columns."""
    q = f"({inner_sql})"
    for name, expr in _structure_stages("duckdb"):
        q = f"(SELECT *, {expr} AS {name} FROM {q} AS _s_{name.strip('_')})"
    scratch = ", ".join(
        n for n, _ in _structure_stages("duckdb") if n not in _STRUCT_OUT
    )
    return f"SELECT * EXCLUDE ({scratch}) FROM {q} AS _s_final"


def canonical_url_subquery_sql(inner_sql: str, url_expr: str = "url") -> str:
    """DuckDB twin: wrap `inner_sql` (which must yield `url_expr`) in the
    same staged canonicalization, exposing every inner column plus
    canonical_url.  Stage grain matches _canon_stages exactly."""
    q = f"({inner_sql})"
    for name, expr in _canon_stages(url_expr, "duckdb"):
        q = f"(SELECT *, {expr} AS {name} FROM {q} AS _u_{name.strip('_')})"
    # peel the scratch columns off the outermost layer
    scratch = ", ".join(
        n for n, _ in _canon_stages(url_expr, "duckdb")
        if n != "canonical_url"
    )
    return f"SELECT * EXCLUDE ({scratch}) FROM {q} AS _u_final"
