"""The dashboard's query repertoire (ref: waddle/_dashboard_api.py:22-249)
in two backends with the same method names, arguments and wire shapes:

- MirrorDashboard serves HTTP (`server.make_http_server`).  Every route
  is a parameterised SQL query on a per-request cursor of the store's
  DuckDB mirror, the same single-file layout the reference dashboard
  reads, so serving starts no JVM and runs no Spark job.
- SparkDashboard is the Spark-side analytics API: the same routes as
  composed Catalyst plans over the store's Parquet event log.  It is the
  reference that tests/test_dashboard_parity.py pins MirrorDashboard to,
  route by route.

The rules both apply (sort allowlist, stale → aborted reclassification,
tolerant JSON decoding) are module functions both call.  The mirror's
get_metrics and compare_runs return the JSON body itself, encoded by
DuckDB in one to_json aggregate per route, never a Python object per
metric row; the strict-JSON rule (`_dumps`: non-finite → null) the
server applies to every other body lives here beside them.

Key plan upgrades of the Spark side over the reference (SURVEY.md §3.2/§3.3):
- list_runs: the per-row correlated MAX(ts) re-query (an N+1 loop,
  ref :56-69) folds into ONE bounded IN-list aggregate over the page;
- compare_runs: the per-metric-key series loop (another N+1, ref :190-198)
  collapses into one scan ordered by (key, step), grouped driver-side;
- metric_summary: the correlated scalar subquery (ref :227) becomes a
  window rank (ties kept — rank(), exact parity with equality-on-MAX).

Scale: every Spark shape partitions on run_id (or key) — with metrics
bucketed by run_id these are shuffle-free; limits ride
TakeOrderedAndProject.
"""

from __future__ import annotations

import json
import math
import time
from collections.abc import Sequence
from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from waddleml_spark.operators import core as ops
from waddleml_spark.store import WaddleStore

_RUN_COLS = ["id", "project", "name", "status", "started_at", "ended_at", "commit_sha"]
_ARTIFACT_COLS = ["id", "name", "kind", "created_at", "uri", "sha256", "size_bytes"]
# list_runs' sortable columns; anything else falls back to the first (ref O1)
_SORTABLE = ("started_at", "ended_at", "name", "status", "project")
# a running run with no metric for this long displays as aborted (ref P9)
_STALE_AFTER_S = 300


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


# --- rules both backends apply --------------------------------------------


def _loads_tolerant(v):
    # tolerant JSON parse: fall back to the raw string (ref :86-108)
    if v is None or not isinstance(v, str):
        return v
    try:
        return json.loads(v)
    except (json.JSONDecodeError, TypeError):
        return v


def _sort_spec(sort: str, order: str) -> tuple[str, str]:
    """(column, direction) for list_runs: allowlisted column, 'desc' only
    when asked for (case-insensitively), else 'asc'."""
    col = sort if sort in _SORTABLE else _SORTABLE[0]
    return col, "desc" if order.lower() == "desc" else "asc"


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
    """(key, json value) rows → {key: decoded value} (params, tags)."""
    return {k: _loads_tolerant(v) for k, v in rows}


def _group_params(rows) -> dict[str, dict[str, Any]]:
    """(run_id, key, json value) rows → {run_id: {key: decoded value}}."""
    out: dict[str, dict[str, Any]] = {}
    for run_id, k, v in rows:
        out.setdefault(run_id, {})[k] = _loads_tolerant(v)
    return out


def _group_series(rows) -> dict[str, list[dict[str, Any]]]:
    """(key, run_id, step, value) rows in (key, step) order → compare's
    {key: [{run_id, step, value}, ...]} (SparkDashboard; MirrorDashboard
    has DuckDB build the same object)."""
    out: dict[str, list[dict[str, Any]]] = {}
    for k, run_id, step, value in rows:
        out.setdefault(k, []).append({"run_id": run_id, "step": step, "value": value})
    return out


class SparkDashboard:
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
        runs = self.store.df("runs").select(*_RUN_COLS)
        runs = ops.equality_filter(runs, {"project": project, "status": status})
        col, direction = _sort_spec(sort, order)
        runs = ops.allowlist_sort(runs, col, direction, allowed=_SORTABLE, tiebreak="id")
        runs = ops.paginate(runs, limit=limit, offset=offset)
        page = [r.asDict() for r in runs.collect()]

        def last_ts_of(ids):
            m = self.store.df("metrics").filter(F.col("run_id").isin(ids))
            return {
                r.run_id: r.last_ts
                for r in m.groupBy("run_id").agg(F.max("ts").alias("last_ts")).collect()
            }

        return _reclassify_stale(page, last_ts_of, now)

    # --- get_run (P3 P4 A3) ----------------------------------------------

    def get_run(self, run_id: str) -> dict[str, Any]:
        runs = self.store.df("runs")
        row = runs.filter(F.col("id") == run_id).head()
        if row is None:
            return {}

        def kv(table):
            t = self.store.df(table).filter(F.col("run_id") == run_id)
            return _decode_kv(t.select("key", "value").collect())

        artifacts = [
            r.asDict()
            for r in self.store.df("artifacts")
            .filter(F.col("run_id") == run_id)
            .select(*_ARTIFACT_COLS)
            .collect()
        ]
        metric_keys = [
            r.key
            for r in ops.distinct_values(
                self.store.df("metrics").filter(F.col("run_id") == run_id), "key"
            ).collect()
        ]
        return {
            "run": _decode_run(row.asDict()),
            "params": kv("params"),
            "tags": kv("tags"),
            "artifacts": artifacts,
            "metric_keys": metric_keys,
        }

    # --- get_metrics (P4 O3, incl. the cross-key LIMIT quirk) ------------

    def get_metrics(
        self, run_id: str, key: str | None = None, limit: int = 5000
    ) -> list[dict[str, Any]]:
        m = self.store.df("metrics").filter(F.col("run_id") == run_id)
        if key:
            m = m.filter(F.col("key") == key).orderBy("step").limit(limit)
        else:
            # ref quirk preserved: the limit truncates ACROSS keys (:140-149)
            m = m.orderBy("key", "step").limit(limit)
        return [r.asDict() for r in m.select("key", "step", "ts", "value").collect()]

    def get_metrics_downsampled(
        self, run_id: str, key: str, points: int = 200
    ) -> list[dict[str, Any]]:
        """Bounded-size chart series: bucket-mean downsample of one
        (run, key) stream — the scalable replacement for get_metrics'
        row-cap truncation (extension route; the reference would return
        the first `limit` rows and silently drop the tail).  NaN points
        become NULL first, so a bucket's value/min/max cover its finite
        points (avg and max over a NaN are NaN) while ``n`` counts all."""
        m = (
            self.store.df("metrics")
            .filter((F.col("run_id") == run_id) & (F.col("key") == key))
            .withColumn("__x", F.col("step").cast("double"))
            .withColumn("value", F.nanvl("value", F.lit(None).cast("double")))
        )
        out = series_downsample(m, ["run_id"], "__x", "value", target_points=points)
        return [
            {
                "bucket": r.bucket,
                "step": r.x,
                "value": r.y_mean,
                "value_min": r.y_min,
                "value_max": r.y_max,
                "n": r.n_points,
            }
            for r in out.orderBy("bucket").collect()
        ]

    # --- compare_runs (P5 A4 A5) -----------------------------------------

    def compare_runs(self, run_ids: list[str]) -> dict[str, Any]:
        if not run_ids:
            return {"runs": [], "param_diff": {}, "metrics": {}}
        runs = [
            r.asDict()
            for r in ops.in_list_filter(self.store.df("runs"), "id", run_ids)
            .select(*_RUN_COLS)
            .collect()
        ]
        params = (
            ops.in_list_filter(self.store.df("params"), "run_id", run_ids)
            .select("run_id", "key", "value")
            .orderBy("key")
            .collect()
        )
        # ONE scan for every series, ordered (key, step); the reference
        # issues one query per key (N+1, ref :190-198)
        series = (
            ops.in_list_filter(self.store.df("metrics"), "run_id", run_ids)
            .select("key", "run_id", "step", "value")
            .orderBy("key", "step")
            .collect()
        )
        return {
            "runs": runs,
            "params": _group_params(params),
            "metrics": _group_series(series),
        }

    # --- metric keys (A3 P6) ---------------------------------------------

    def metric_keys_global(self) -> list[str]:
        return [
            r.key
            for r in ops.distinct_values(
                self.store.df("metrics"), "key", exclude_prefix="system/"
            ).collect()
        ]

    # --- metric_summary / leaderboard (A6: J1+J2+W1+O4) ------------------

    def metric_summary(self, key: str, limit: int = 20) -> list[dict[str, Any]]:
        m = self.store.df("metrics").filter(F.col("key") == key)
        last = ops.last_per_group(m, ["run_id"], "step", keep_ties=True)
        runs = self.store.df("runs").select(
            F.col("id").alias("run_id"), "name", "started_at"
        )
        out = (
            # no broadcast hint: runs grows one row per tracked run with
            # no cap — not bounded by construction (the repo rule); AQE
            # still broadcasts it while it fits
            last.join(runs, on="run_id")
            .orderBy(F.col("started_at").desc(), "run_id")
            .limit(limit)
            .select("run_id", "name", "value")
        )
        return [r.asDict() for r in out.collect()]

    # --- delete (D6) ------------------------------------------------------

    def delete_run(self, run_id: str) -> bool:
        try:
            self.store.delete_run(run_id)
            return True
        except Exception:
            return False


def _marks(values: Sequence) -> str:
    """Placeholders for a bound IN-list of len(values)."""
    return ", ".join("?" * len(values))


def _dicts(cur, sql: str, params: list) -> list[dict[str, Any]]:
    cur.execute(sql, params)
    cols = [d[0] for d in cur.description]
    return [dict(zip(cols, r)) for r in cur.fetchall()]


class MirrorDashboard:
    """SparkDashboard's routes answered from the store's DuckDB mirror.

    Each call runs its queries on a cursor of its own, opened on
    `store.duck` and closed before returning: handler threads never use
    the shared connection, which belongs to the writer (its `_batch`
    registration; `_duck_lock` serialises writes there).  Readers see
    each committed write batch whole (DuckDB MVCC).  Every value reaches
    DuckDB as a bound parameter; the only spliced identifiers are the
    allowlisted sort column and direction.

    get_metrics and compare_runs return strict-JSON bytes that DuckDB
    encodes, with the GIL released; the other routes return dicts."""

    def __init__(self, store: WaddleStore):
        self.store = store

    # --- list_runs --------------------------------------------------------

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
        col, direction = _sort_spec(sort, order)
        with self.store.duck.cursor() as cur:
            page = _dicts(
                cur,
                f"SELECT {', '.join(_RUN_COLS)} FROM runs{where}"
                f" ORDER BY {col} {direction} NULLS LAST, id LIMIT ? OFFSET ?",
                [*conds.values(), limit, offset],
            )

            def last_ts_of(ids):
                return dict(cur.execute(
                    f"SELECT run_id, max(ts) FROM metrics WHERE run_id IN ({_marks(ids)})"
                    " GROUP BY run_id",
                    ids,
                ).fetchall())

            return _reclassify_stale(page, last_ts_of, now)

    # --- get_run ----------------------------------------------------------

    def get_run(self, run_id: str) -> dict[str, Any]:
        with self.store.duck.cursor() as cur:
            run = _dicts(cur, "SELECT * FROM runs WHERE id = ?", [run_id])
            if not run:
                return {}

            def rows(sql):
                return cur.execute(sql, [run_id]).fetchall()

            return {
                "run": _decode_run(run[0]),
                "params": _decode_kv(rows("SELECT key, value FROM params WHERE run_id = ?")),
                "tags": _decode_kv(rows("SELECT key, value FROM tags WHERE run_id = ?")),
                "artifacts": _dicts(
                    cur,
                    f"SELECT {', '.join(_ARTIFACT_COLS)} FROM artifacts WHERE run_id = ?",
                    [run_id],
                ),
                "metric_keys": [
                    k for (k,) in rows(
                        "SELECT DISTINCT key FROM metrics WHERE run_id = ? ORDER BY key"
                    )
                ],
            }

    # --- get_metrics ------------------------------------------------------

    def get_metrics(self, run_id: str, key: str | None = None, limit: int = 5000) -> bytes:
        """The route's body, ``[{key, step, ts, value}, ...]`` in (key,
        step) order: the limited rows, encoded by one to_json aggregate."""
        sql = "SELECT key, step, ts, value FROM metrics WHERE run_id = ?"
        if key:
            sql, params = sql + " AND key = ? ORDER BY step LIMIT ?", [run_id, key, limit]
        else:
            # ref quirk preserved: the limit truncates ACROSS keys (:140-149)
            sql, params = sql + " ORDER BY key, step LIMIT ?", [run_id, limit]
        row = (
            f"{{'key': key, 'step': step, 'ts': {_finite_sql('ts')},"
            f" 'value': {_finite_sql('value')}}}"
        )
        with self.store.duck.cursor() as cur:
            (body,) = cur.execute(
                # an aggregate over no rows is NULL: the body is then []
                f"SELECT coalesce(to_json(list({row} ORDER BY key, step)), '[]') FROM ({sql})",
                params,
            ).fetchone()
        return body.encode()

    def get_metrics_downsampled(
        self, run_id: str, key: str, points: int = 200
    ) -> list[dict[str, Any]]:
        """series_downsample's buckets for one (run, key) stream, in SQL,
        NaN points NULLed first like SparkDashboard's."""
        with self.store.duck.cursor() as cur:
            return _dicts(
                cur,
                """
                WITH m AS (
                    SELECT CAST(step AS DOUBLE) AS x,
                           CASE WHEN isnan(value) THEN NULL ELSE value END AS value
                    FROM metrics
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
                [run_id, key, points, points],
            )

    # --- compare_runs -----------------------------------------------------

    def compare_runs(self, run_ids: list[str]) -> bytes:
        """The route's body: `_dumps` encodes the small runs/params head;
        each key's series, ``[{run_id, step, value}, ...]`` in (step,
        run_id) order, is one to_json string spliced in as it is."""
        if not run_ids:
            return _dumps({"runs": [], "param_diff": {}, "metrics": {}})
        marks = _marks(run_ids)
        with self.store.duck.cursor() as cur:
            runs = _dicts(
                cur, f"SELECT {', '.join(_RUN_COLS)} FROM runs WHERE id IN ({marks})", run_ids
            )
            params = cur.execute(
                f"SELECT run_id, key, value FROM params WHERE run_id IN ({marks}) ORDER BY key",
                run_ids,
            ).fetchall()
            series = cur.execute(
                f"SELECT key, to_json(list({{'run_id': run_id, 'step': step,"
                f" 'value': {_finite_sql('value')}}} ORDER BY step, run_id))"
                f" FROM metrics WHERE run_id IN ({marks}) GROUP BY key ORDER BY key",
                run_ids,
            ).fetchall()
        metrics = ", ".join(f"{json.dumps(k)}: {s}" for k, s in series)
        return b"".join((
            b'{"runs": ', _dumps(runs),
            b', "params": ', _dumps(_group_params(params)),
            b', "metrics": {', metrics.encode(), b"}}",
        ))

    # --- metric keys / summary -------------------------------------------

    def metric_keys_global(self) -> list[str]:
        with self.store.duck.cursor() as cur:
            rows = cur.execute(
                "SELECT DISTINCT key FROM metrics WHERE NOT starts_with(key, ?) ORDER BY key",
                ["system/"],
            ).fetchall()
        return [k for (k,) in rows]

    def metric_summary(self, key: str, limit: int = 20) -> list[dict[str, Any]]:
        # rank(), not row_number(): ties on a run's last step all stay
        # (the reference's equality-on-MAX(step) subquery, ref :227)
        with self.store.duck.cursor() as cur:
            return _dicts(
                cur,
                """
                WITH last AS (
                    SELECT run_id, value FROM metrics WHERE key = ?
                    QUALIFY rank() OVER (PARTITION BY run_id ORDER BY step DESC) = 1)
                SELECT l.run_id, r.name, l.value
                FROM last l JOIN runs r ON r.id = l.run_id
                ORDER BY r.started_at DESC, l.run_id LIMIT ?
                """,
                [key, limit],
            )

    # --- delete -----------------------------------------------------------

    # the same write as SparkDashboard's: store.delete_run
    delete_run = SparkDashboard.delete_run


def series_downsample(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    value_col: str,
    target_points: int = 1000,
) -> DataFrame:
    """Chart-ready series downsampling: bucket each group's order range
    into ≤target_points equal-width buckets and emit one averaged point
    per bucket (bucket midpoint as x, mean as y, min/max to draw error
    bands).

    The reference CAPS series at 5,000 rows (get_metrics limit —
    _dashboard_api.py:136) and silently drops the rest; this keeps the
    whole series' shape at bounded output size.  Pure two-pass
    aggregate: per-group extent (tiny, broadcast back), then one
    grouped mean over (group, bucket) — no window, no sort, scales to
    series of any length.  Constant-valued order ranges (hi == lo)
    collapse to bucket 0.
    """
    # drop NULL-x rows up front: they belong to no bucket, and the
    # bucket expression would otherwise dump them into the LAST one
    # (F.least SKIPS null args: least(NULL, tp-1) = tp-1 — round-6
    # review find), skewing its stats
    df = df.filter(F.col(order_col).isNotNull())
    ext = df.groupBy(*group_cols).agg(
        F.min(order_col).alias("__lo"), F.max(order_col).alias("__hi")
    )
    j = df.join(F.broadcast(ext), list(group_cols))
    span = F.col("__hi") - F.col("__lo")
    bucket = F.when(span <= 0, F.lit(0)).otherwise(
        F.least(
            F.floor(
                (F.col(order_col) - F.col("__lo")) / span * target_points
            ).cast("int"),
            F.lit(target_points - 1),
        )
    )
    return (
        j.withColumn("__b", bucket)
        .groupBy(*group_cols, "__b")
        .agg(
            F.avg(order_col).alias("x"),
            F.avg(value_col).alias("y_mean"),
            F.min(value_col).alias("y_min"),
            F.max(value_col).alias("y_max"),
            F.count("*").alias("n_points"),
        )
        .withColumnRenamed("__b", "bucket")
    )


def lttb_downsample(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    value_col: str,
    target_points: int = 1000,
    round_digits: int = 6,
) -> DataFrame:
    """Largest-Triangle-Three-Buckets chart downsampling, parallel variant.

    Classic LTTB selects, per bucket, the point forming the largest
    triangle with the PREVIOUS SELECTED point and the next bucket's mean
    — a sequential dependency chain.  The standard parallel relaxation
    anchors on the neighbor buckets' MEANS instead (both sides), which
    breaks the chain: every bucket selects independently, one window
    pass over bucket-level rows.  First/last buckets keep their
    first/last points exactly (LTTB's endpoint rule).

    Cross-engine determinism: bucket means are floor-rounded before the
    area formula (double SUM order is engine-dependent; everything after
    is per-row IEEE arithmetic), and the per-bucket argmax is a
    row_number ordered by (area DESC, order_col) — ties break on the
    x position, never on float identity.
    """
    # Built from parsed expr strings (round-8 conversion): the Column-API
    # build — two windows with seven window Columns, the area formula,
    # three row_numbers — paid 0.37 s of driver py4j per invocation at
    # sf0.1, half this query's wall; the parsed strings produce the
    # identical Catalyst plan (oracle parity re-certified).  0.5D in the
    # rounding literal: a bare SQL 0.5 parses as DECIMAL and would
    # insert a cast the Column build never had.
    def bq(c: str) -> str:
        return "`" + c.replace("`", "``") + "`"

    g = [bq(c) for c in group_cols]
    gl = ", ".join(g)
    x, y = bq(order_col), bq(value_col)
    tp = int(target_points)
    # drop NULL-x rows up front: they belong to no bucket, and the
    # bucket expression would otherwise dump them into the LAST one
    # (least() SKIPS null args: least(NULL, tp-1) = tp-1 — round-6
    # review find), skewing its stats
    df = df.filter(f"{x} IS NOT NULL")
    ext = df.groupBy(*group_cols).agg(
        F.expr(f"min({x}) AS __lo"), F.expr(f"max({x}) AS __hi")
    )
    j = df.join(F.broadcast(ext), list(group_cols))
    bucket = (
        "CASE WHEN __hi - __lo <= 0 THEN 0 ELSE least("
        f"CAST(floor(({x} - __lo) / (__hi - __lo) * {tp}) AS INT), {tp - 1})"
        " END"
    )
    d = j.selectExpr("*", f"{bucket} AS __b").drop("__lo", "__hi")
    p = 10 ** int(round_digits)
    rr = lambda e: f"floor(({e}) * {p} + 0.5D) / {p}"  # noqa: E731
    means = d.groupBy(*group_cols, "__b").agg(
        F.expr(f"{rr(f'avg({x})')} AS __mx"),
        F.expr(f"{rr(f'avg({y})')} AS __my"),
    )
    wb = ("PARTITION BY " + gl + " " if g else "") + "ORDER BY __b"
    anchors = means.selectExpr(
        "*",
        f"lag(__mx) OVER ({wb}) AS __px",
        f"lag(__my) OVER ({wb}) AS __py",
        f"lead(__mx) OVER ({wb}) AS __nx",
        f"lead(__my) OVER ({wb}) AS __ny",
    )
    cand = d.join(anchors, [*group_cols, "__b"])
    area = (
        f"abs(__px * ({y} - __ny) + {x} * (__ny - __py)"
        f" + __nx * (__py - {y}))"
    )
    interior = "(__px IS NOT NULL AND __nx IS NOT NULL)"
    pb = "PARTITION BY " + (gl + ", __b" if g else "__b")
    # value_col joins every tie-break: duplicate timestamps must not make
    # the selection depend on row order
    wsel = f"{pb} ORDER BY __area DESC, {x}, {y}"
    wfirst = f"{pb} ORDER BY {x}, {y}"
    wlast = f"{pb} ORDER BY {x} DESC, {y} DESC"
    out = (
        cand.selectExpr(
            "*", f"CASE WHEN {interior} THEN {area} END AS __area"
        )
        .selectExpr(
            "*",
            f"row_number() OVER ({wsel}) AS __rsel",
            f"row_number() OVER ({wfirst}) AS __rfirst",
            f"row_number() OVER ({wlast}) AS __rlast",
        )
        # no px-NOT-NULL requirement on the last-bucket branch: a
        # group collapsing to ONE bucket (constant x / short series)
        # has px AND nx NULL, and the docstring's endpoint rule must
        # still keep BOTH its first and last points (round-6 fix,
        # mirrored in the SQL oracle)
        .filter(
            f"({interior} AND __rsel = 1)"
            " OR (__px IS NULL AND __rfirst = 1)"
            " OR (__nx IS NULL AND __rlast = 1)"
        )
    )
    return out.selectExpr(*g, "__b AS bucket", x, y)
