"""The dashboard's query repertoire (ref: waddle/_dashboard_api.py:22-249):
one SQL text per route query, run by two engines.

`_SQL` holds every query the routes run, written once in the SQL subset
Spark and DuckDB share.  ``{runs}``, ``{params}``, ``{tags}``,
``{artifacts}`` and ``{metrics}`` name the store's tables; every value is
a bound ``?`` parameter.  SparkDashboard writes each route body once and
runs its texts through one engine seam, the class attribute `_engine`:

- SparkDashboard (`_SparkSQL`) is the Spark analytics API: each text
  runs as ``spark.sql(text, args=[...], metrics=store.df("metrics"))``
  over the store's Parquet event log.  PySpark binds each DataFrame to a
  temp view with a generated name and drops it after the call, so two
  stores in one session never share a view.
- MirrorDashboard (`_DuckSQL`) serves HTTP (`server.make_http_server`).
  It overrides only the seam: the placeholders name the tables of the
  store's DuckDB mirror, the same single-file layout the reference
  dashboard reads, and each route call runs its texts on one cursor of
  its own, so serving starts no JVM and runs no Spark job.

get_metrics and compare_runs answer with JSON whose rows come from one
text each (`_JSON`: the order of each list, and the column compare's
body is keyed by).  Spark returns those rows as Python objects; the
mirror wraps the same text in one DuckDB to_json aggregate and returns
the encoded bytes, never a Python object per metric row.  The rules both
engines share (sort allowlist, stale → aborted reclassification,
tolerant JSON decoding) are module functions, and the strict-JSON rule
(`_dumps`: non-finite → null) the server applies to every other body
lives here beside them.

Plan shapes over the reference (SURVEY.md §3.2/§3.3):
- list_runs: the per-row correlated MAX(ts) re-query (an N+1 loop,
  ref :56-69) folds into ONE bounded IN-list aggregate over the page;
- compare_runs: the per-metric-key series loop (another N+1, ref :190-198)
  collapses into one scan;
- metric_summary: the correlated scalar subquery (ref :227) becomes a
  window rank (ties kept — rank(), exact parity with equality-on-MAX).
"""

from __future__ import annotations

import json
import math
import time
from collections.abc import Sequence
from typing import Any

from waddleml_spark.store import WaddleStore

_TABLES = ("runs", "params", "tags", "artifacts", "metrics")
# list_runs' sortable columns; anything else falls back to the first (ref O1)
_SORTABLE = ("started_at", "ended_at", "name", "status", "project")
# a running run with no metric for this long displays as aborted (ref P9)
_STALE_AFTER_S = 300

# Every query the routes run.  Besides the table placeholders, a text may
# splice {where}, {sort}, {and_key} or {marks}: fixed conditions, the
# allowlisted sort column and direction, or an IN-list's "?" marks.
_SQL = {
    # list_runs (P1 P2 P9 O1 O2): the page sorts on the STORED status;
    # the last metric ts of its running runs is one IN-list aggregate
    "runs_page": (
        "SELECT id, project, name, status, started_at, ended_at, commit_sha"
        " FROM {runs}{where} ORDER BY {sort} NULLS LAST, id LIMIT ? OFFSET ?"
    ),
    "last_ts": (
        "SELECT run_id, max(ts) AS last_ts FROM {metrics}"
        " WHERE run_id IN ({marks}) GROUP BY run_id"
    ),
    # get_run (P3 P4 A3)
    "run": "SELECT * FROM {runs} WHERE id = ?",
    "run_params": "SELECT key, value FROM {params} WHERE run_id = ?",
    "run_tags": "SELECT key, value FROM {tags} WHERE run_id = ?",
    "run_artifacts": (
        "SELECT id, name, kind, created_at, uri, sha256, size_bytes"
        " FROM {artifacts} WHERE run_id = ?"
    ),
    "run_keys": "SELECT DISTINCT key FROM {metrics} WHERE run_id = ? ORDER BY key",
    # get_metrics (P4 O3): without a key the limit truncates ACROSS keys,
    # the reference quirk (:140-149)
    "metrics": (
        "SELECT key, step, ts, value FROM {metrics}"
        " WHERE run_id = ?{and_key} ORDER BY key, step LIMIT ?"
    ),
    # get_metrics_downsampled: core.series_downsample's buckets for one (run,
    # key) stream.  NaN points become NULL first, so a bucket's value, min
    # and max cover its finite points (avg and max over a NaN are NaN)
    # while n counts them all
    "downsample": """
        WITH m AS (
            SELECT CAST(step AS DOUBLE) AS x,
                   CASE WHEN isnan(value) THEN NULL ELSE value END AS value
            FROM {metrics}
            WHERE run_id = ? AND key = ? AND step IS NOT NULL),
        e AS (SELECT min(x) AS lo, max(x) AS hi FROM m),
        b AS (
            SELECT CASE WHEN hi - lo <= 0 THEN 0 ELSE least(
                CAST(floor((x - lo) / (hi - lo) * ?) AS INTEGER), ? - 1) END AS bucket,
                x, value
            FROM m, e)
        SELECT bucket, avg(x) AS step, avg(value) AS value,
               min(value) AS value_min, max(value) AS value_max, count(*) AS n
        FROM b GROUP BY bucket ORDER BY bucket
    """,
    # compare_runs (P5 A4 A5): ONE scan for every series; the reference
    # issues one query per key (N+1, ref :190-198)
    "compare_runs": (
        "SELECT id, project, name, status, started_at, ended_at, commit_sha"
        " FROM {runs} WHERE id IN ({marks})"
    ),
    "compare_params": (
        "SELECT run_id, key, value FROM {params} WHERE run_id IN ({marks}) ORDER BY key"
    ),
    "compare_series": (
        "SELECT key, run_id, step, value FROM {metrics} WHERE run_id IN ({marks})"
    ),
    # metric_keys_global (A3 P6): `NOT LIKE`, as Spark has no starts_with
    "metric_keys": "SELECT DISTINCT key FROM {metrics} WHERE key NOT LIKE ? ORDER BY key",
    # metric_summary (A6: J1+J2+W1+O4): rank(), not row_number(): ties on
    # a run's last step all stay (the reference's equality-on-MAX(step)
    # subquery, ref :227); a ranked subquery, as Spark has no QUALIFY
    "metric_summary": """
        SELECT l.run_id, r.name, l.value
        FROM (SELECT run_id, value,
                     rank() OVER (PARTITION BY run_id ORDER BY step DESC) AS rk
              FROM {metrics} WHERE key = ?) l
        JOIN {runs} r ON r.id = l.run_id
        WHERE l.rk = 1
        ORDER BY r.started_at DESC, l.run_id LIMIT ?
    """,
}

# The texts whose rows are a route's JSON: (the order of each list, the
# column the body is keyed by, or None for one list).
_JSON = {"metrics": ("key, step", None), "compare_series": ("step, run_id", "key")}


# --- strict JSON -----------------------------------------------------------


def _finite(v):
    """``v`` with every non-finite float replaced by None."""
    if isinstance(v, float):
        return v if math.isfinite(v) else None
    if isinstance(v, dict):
        return {k: _finite(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_finite(x) for x in v]
    return v


def _dumps(payload) -> bytes:
    """Strict JSON: browsers' ``JSON.parse`` rejects the NaN/Infinity
    tokens, so a diverged metric goes out as null.  Finite payloads cost
    one encode; only one that fails is rewritten and encoded again."""
    try:
        return json.dumps(payload, allow_nan=False).encode()
    except ValueError:
        return json.dumps(_finite(payload)).encode()


def _finite_sql(col: str) -> str:
    """The SQL twin of `_finite` for one DOUBLE column: DuckDB's to_json
    writes bare NaN/Infinity tokens, so a non-finite value becomes NULL
    (JSON null) before it is encoded."""
    return f"CASE WHEN isfinite({col}) THEN {col} END"


# --- rules both engines apply ----------------------------------------------


def _loads_tolerant(v):
    # tolerant JSON parse: fall back to the raw string (ref :86-108)
    if v is None or not isinstance(v, str):
        return v
    try:
        return json.loads(v)
    except (json.JSONDecodeError, TypeError):
        return v


def _sort_spec(sort: str, order: str) -> str:
    """list_runs' ORDER BY key: the allowlisted column (ref O1), 'desc'
    only when asked for (case-insensitively), else 'asc'."""
    col = sort if sort in _SORTABLE else _SORTABLE[0]
    return f"{col} {'desc' if order.lower() == 'desc' else 'asc'}"


def _reclassify_stale(page: list[dict], last_ts_of, now: float | None) -> list[dict]:
    """Display stale running runs as aborted, on the fetched page only.

    Reference order (ref :45-69): sort/LIMIT on the STORED status, THEN
    reclassify — reclassifying before the sort changed PAGE MEMBERSHIP
    under sort='status' (round-6 review find).  `last_ts_of(ids)` returns
    {run_id: last metric ts} for the page's running runs in ONE bounded
    IN-list aggregate, not the reference's per-row N+1 re-query."""
    running = [d["id"] for d in page if d["status"] == "running"]
    if not running:
        return page
    now_ts = now if now is not None else time.time()
    last = last_ts_of(running)
    for d in page:
        if d["status"] != "running":
            continue
        last_ts = last.get(d["id"])
        if last_ts is not None and (now_ts - last_ts) > _STALE_AFTER_S:
            d["status"] = "aborted"
        elif (
            last_ts is None
            and d["started_at"]
            and (now_ts - d["started_at"]) > _STALE_AFTER_S
        ):
            d["status"] = "aborted"
    return page


def _decode_run(run: dict) -> dict:
    for field in ("env", "config"):
        run[field] = _loads_tolerant(run[field])
    return run


def _decode_kv(rows) -> dict[str, Any]:
    """{key, value} rows → {key: decoded value} (params, tags)."""
    return {r["key"]: _loads_tolerant(r["value"]) for r in rows}


def _group_params(rows) -> dict[str, dict[str, Any]]:
    """{run_id, key, value} rows → {run_id: {key: decoded value}}."""
    out: dict[str, dict[str, Any]] = {}
    for r in rows:
        out.setdefault(r["run_id"], {})[r["key"]] = _loads_tolerant(r["value"])
    return out


def _marks(values: Sequence) -> str:
    """Placeholders for a bound IN-list of len(values)."""
    return ", ".join("?" * len(values))


# --- the engine seam -------------------------------------------------------


class _SparkSQL:
    """Runs `_SQL` texts with spark.sql over the store's Parquet tables.

    Each table a text names is passed to spark.sql as a DataFrame, which
    PySpark formats into a temp view of its own for that one call."""

    #: formats the splices and leaves the table placeholders for spark.sql
    _KEEP = {t: "{" + t + "}" for t in _TABLES}

    def __init__(self, store: WaddleStore):
        self.store = store

    def __enter__(self):
        return self

    def __exit__(self, *exc) -> None:
        pass

    def _collect(self, sql: str, args: Sequence, splices: dict) -> list[dict[str, Any]]:
        sql = sql.format(**splices, **self._KEEP)
        tables = {t: self.store.df(t) for t, mark in self._KEEP.items() if mark in sql}
        df = self.store.spark.sql(sql, args=list(args), **tables)
        return [r.asDict() for r in df.collect()]

    def rows(self, name: str, args: Sequence = (), **splices) -> list[dict[str, Any]]:
        return self._collect(_SQL[name], args, splices)

    def json(self, name: str, args: Sequence = (), **splices):
        """The rows of a `_JSON` text as Python: one ordered list, or
        {key: [the rest of each row, ordered]} for a keyed body."""
        order, by = _JSON[name]
        order = f"{by}, {order}" if by else order
        rows = self._collect(f"SELECT * FROM ({_SQL[name]}) ORDER BY {order}", args, splices)
        if by is None:
            return rows
        out: dict[str, list[dict[str, Any]]] = {}
        for r in rows:
            out.setdefault(r.pop(by), []).append(r)
        return out

    def body(self, payload: dict) -> dict:
        return payload


class _DuckSQL:
    """Runs `_SQL` texts on one cursor of the store's DuckDB mirror,
    opened on `store.duck` and closed on exit."""

    _NAMES = {t: t for t in _TABLES}
    #: each `_JSON` text's row as DuckDB encodes it, doubles made finite
    _ROW = {
        "metrics": (
            f"{{'key': key, 'step': step, 'ts': {_finite_sql('ts')},"
            f" 'value': {_finite_sql('value')}}}"
        ),
        "compare_series": (
            f"{{'run_id': run_id, 'step': step, 'value': {_finite_sql('value')}}}"
        ),
    }

    def __init__(self, store: WaddleStore):
        self.store = store

    def __enter__(self):
        self.cur = self.store.duck.cursor()
        return self

    def __exit__(self, *exc) -> None:
        self.cur.close()

    def rows(self, name: str, args: Sequence = (), **splices) -> list[dict[str, Any]]:
        cur = self.cur.execute(_SQL[name].format(**splices, **self._NAMES), list(args))
        cols = [d[0] for d in cur.description]
        return [dict(zip(cols, r)) for r in cur.fetchall()]

    def json(self, name: str, args: Sequence = (), **splices) -> bytes:
        """The rows of a `_JSON` text as the JSON text DuckDB encodes: one
        to_json(list(...)) aggregate, per key for a keyed body."""
        order, by = _JSON[name]
        sql = _SQL[name].format(**splices, **self._NAMES)
        # an aggregate over no rows is NULL: the list is then []
        agg = f"coalesce(to_json(list({self._ROW[name]} ORDER BY {order})), '[]')"
        if by is None:
            (body,) = self.cur.execute(f"SELECT {agg} FROM ({sql})", list(args)).fetchone()
            return body.encode()
        groups = self.cur.execute(
            f"SELECT {by}, {agg} FROM ({sql}) GROUP BY {by} ORDER BY {by}", list(args)
        ).fetchall()
        return ("{" + ", ".join(f"{json.dumps(k)}: {s}" for k, s in groups) + "}").encode()

    def body(self, payload: dict) -> bytes:
        """Strict-JSON bytes of ``payload``, a value DuckDB encoded spliced
        in as it is."""
        return b"{" + b", ".join(
            _dumps(k) + b": " + (v if isinstance(v, bytes) else _dumps(v))
            for k, v in payload.items()
        ) + b"}"


# --- the routes ------------------------------------------------------------


class SparkDashboard:
    """The dashboard routes, each written once: a route builds its
    parameters and splices and runs `_SQL` texts through ``_engine``.
    Here the engine is Spark, and get_metrics/compare_runs return Python
    objects."""

    _engine = _SparkSQL

    def __init__(self, store: WaddleStore):
        self.store = store

    # --- list_runs (P1 P2 P9 O1 O2) --------------------------------------

    def list_runs(
        self,
        project: str | None = None,
        status: str | None = None,
        sort: str = "started_at",
        order: str = "desc",
        limit: int = 200,
        offset: int = 0,
        now: float | None = None,
    ) -> list[dict[str, Any]]:
        conds = {c: v for c, v in (("project", project), ("status", status)) if v is not None}
        where = " WHERE " + " AND ".join(f"{c} = ?" for c in conds) if conds else ""
        with self._engine(self.store) as e:
            page = e.rows(
                "runs_page", [*conds.values(), limit, offset],
                where=where, sort=_sort_spec(sort, order),
            )

            def last_ts_of(ids):
                rows = e.rows("last_ts", ids, marks=_marks(ids))
                return {r["run_id"]: r["last_ts"] for r in rows}

            return _reclassify_stale(page, last_ts_of, now)

    # --- get_run (P3 P4 A3) ----------------------------------------------

    def get_run(self, run_id: str) -> dict[str, Any]:
        with self._engine(self.store) as e:
            run = e.rows("run", [run_id])
            if not run:
                return {}
            return {
                "run": _decode_run(run[0]),
                "params": _decode_kv(e.rows("run_params", [run_id])),
                "tags": _decode_kv(e.rows("run_tags", [run_id])),
                "artifacts": e.rows("run_artifacts", [run_id]),
                "metric_keys": [r["key"] for r in e.rows("run_keys", [run_id])],
            }

    # --- get_metrics (P4 O3, incl. the cross-key LIMIT quirk) ------------

    def get_metrics(
        self, run_id: str, key: str | None = None, limit: int = 5000
    ) -> list[dict[str, Any]] | bytes:
        """``[{key, step, ts, value}, ...]`` in (key, step) order (the
        mirror: that body's JSON bytes)."""
        with self._engine(self.store) as e:
            if key:
                return e.json("metrics", [run_id, key, limit], and_key=" AND key = ?")
            return e.json("metrics", [run_id, limit], and_key="")

    def get_metrics_downsampled(
        self, run_id: str, key: str, points: int = 200
    ) -> list[dict[str, Any]]:
        """Bounded-size chart series: bucket-mean downsample of one
        (run, key) stream — the scalable replacement for get_metrics'
        row-cap truncation (extension route; the reference would return
        the first `limit` rows and silently drop the tail)."""
        with self._engine(self.store) as e:
            return e.rows("downsample", [run_id, key, points, points])

    # --- compare_runs (P5 A4 A5) -----------------------------------------

    def compare_runs(self, run_ids: list[str]) -> dict[str, Any] | bytes:
        """{runs, params, metrics: {key: [{run_id, step, value}, ...]}},
        each series in (step, run_id) order (the mirror: its JSON bytes)."""
        with self._engine(self.store) as e:
            if not run_ids:
                return e.body({"runs": [], "param_diff": {}, "metrics": {}})
            marks = _marks(run_ids)
            return e.body({
                "runs": e.rows("compare_runs", run_ids, marks=marks),
                "params": _group_params(e.rows("compare_params", run_ids, marks=marks)),
                "metrics": e.json("compare_series", run_ids, marks=marks),
            })

    # --- metric keys / summary (A3 P6, A6) -------------------------------

    def metric_keys_global(self) -> list[str]:
        with self._engine(self.store) as e:
            return [r["key"] for r in e.rows("metric_keys", ["system/%"])]

    def metric_summary(self, key: str, limit: int = 20) -> list[dict[str, Any]]:
        with self._engine(self.store) as e:
            return e.rows("metric_summary", [key, limit])

    # --- delete (D6) ------------------------------------------------------

    def delete_run(self, run_id: str) -> bool:
        try:
            self.store.delete_run(run_id)
            return True
        except Exception:
            return False


class MirrorDashboard(SparkDashboard):
    """SparkDashboard's routes answered from the store's DuckDB mirror.

    Each route call runs its texts on a cursor of its own, opened on
    `store.duck` and closed before returning: handler threads never use
    the shared connection, which belongs to the writer (its `_batch`
    registration; `_duck_lock` serialises writes there).  Readers see
    each committed write batch whole (DuckDB MVCC).

    get_metrics and compare_runs return strict-JSON bytes that DuckDB
    encodes, with the GIL released; the other routes return dicts."""

    _engine = _DuckSQL
