"""WaddleStore: dual-layer storage — Parquet event-log (Spark-native scale
path) with DuckDB write-through mirror (reference-parity single-file
artifact + oracle).

Reference storage is one DuckDB file with row-at-a-time autocommit INSERTs
(waddle/_db.py:27-68, waddle/_run.py:122-125).  Spark translation
(SURVEY.md §1.3, §4.3):

- every row-level write lands as a micro-batch: rows → one driver-local
  Arrow table →
  (a) one Parquet part file in the table's directory (written under a
      hidden temp name, then renamed into place),
  (b) the same Arrow table → DuckDB INSERT / ON CONFLICT;
- mutable semantics (upsert D3, update D5, delete D6) on immutable Parquet
  use an event-log discipline: versioned tables carry a monotonic `_seq`;
  the read view is last-writer-wins per primary key (window dedupe).
  DuckDB gets real ON CONFLICT/DELETE, so both layers converge to
  identical logical state;
- deletes cascade in FK order, mirroring waddle/_dashboard_api.py:237-249:
  one DuckDB transaction plus one tombstone part file; the Spark read
  views anti-join the tombstones, and compact() does the physical purge.
  Spark only runs for analytics reads and compaction, never for a write.

Scale posture: metrics is the tall fact table — at 100 TB it is written
partitioned by run_id bucket and sorted within partitions by (key, step) so
parquet min/max stats replace the reference's secondary index
(waddle/_schema.py:59).  `compact()` folds the event log so dedupe views
stay cheap.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
import uuid

import duckdb
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from waddleml_spark import schemas
from waddleml_spark.session import get_spark, reset_fan_out_memo
from waddleml_spark.streaming.live import LiveBus

# tables whose reads are last-writer-wins per PK (the event-log tables)
_VERSIONED: dict[str, list[str]] = {
    "runs": ["id"],
    "params": ["run_id", "key"],
    "tags": ["run_id", "key"],
    "repos": ["name"],  # ref upserts repos BY NAME (waddle/_db.py:76-98)
    "commits": ["repo_id", "commit_sha"],  # idempotent: first writer wins
}
_APPEND_ONLY = ("metrics", "artifacts")
# delete_run's cascade in FK order: (table, column holding the run id)
_CASCADE = (
    ("metrics", "run_id"),
    ("artifacts", "run_id"),
    ("tags", "run_id"),
    ("params", "run_id"),
    ("runs", "id"),
)

_seq_lock = threading.Lock()
_last_seq = 0
# DuckDB shares one database per file within a process; concurrent
# CREATE TABLE IF NOT EXISTS from several connections to it raises
# "Catalog write-write conflict", so store opens run their DDL one at a time
_open_lock = threading.Lock()


def _parallelism(spark: SparkSession) -> int:
    """defaultParallelism with a Spark Connect fallback (no SparkContext
    there; 8 output files is a sane compaction width either way)."""
    try:
        return spark.sparkContext.defaultParallelism
    except Exception:
        return 8


def _next_seq() -> int:
    """Strictly increasing write sequence: epoch-micros * 1000, or one past
    the last value when the clock has not moved on (many writes in one
    microsecond, or a wall clock stepped backwards).  Orders writes across
    restarts (wall clock) and within a process (never repeats)."""
    global _last_seq
    with _seq_lock:
        _last_seq = max(int(time.time() * 1e6) * 1000, _last_seq + 1)
        return _last_seq


class WaddleStore:
    # open stores by root — same-process readers (CLI ls, dashboard) reuse
    # the writer's connection as a cursor instead of fighting the file lock
    # (ref S4 shared-connection cursor, waddle/_dashboard_api.py:16-19)
    _registry: dict[str, "WaddleStore"] = {}
    # one live metric feed per root: every store opened on it publishes
    # here and every /ws client of the process reads it, whichever run
    # serves the dashboard (ref T1: each insert reaches every client)
    _buses: dict[str, LiveBus] = {}

    def __init__(self, root: str, spark: SparkSession | None = None):
        self.root = os.path.abspath(root)
        os.makedirs(self.root, exist_ok=True)
        self._spark = spark
        self.duck_path = os.path.join(self.root, "waddle.duckdb")
        # single-writer (ref S5); re-entrant so update_run's read-merge-upsert is one step
        self._duck_lock = threading.RLock()
        with _open_lock:
            self.duck = duckdb.connect(self.duck_path)
            for stmt in schemas.DUCKDB_DDL.split(";"):
                if stmt.strip():
                    self.duck.execute(stmt)
            self.bus = WaddleStore._buses.setdefault(self.root, LiveBus())
        WaddleStore._registry[self.root] = self

    @classmethod
    def reader_conn(cls, root: str):
        """A DuckDB connection for read paths: the open writer's cursor when
        this process owns the store, else a fresh read_only connection."""
        root = os.path.abspath(root)
        store = cls._registry.get(root)
        if store is not None:
            return store.duck.cursor()
        return duckdb.connect(os.path.join(root, "waddle.duckdb"), read_only=True)

    # --- session ----------------------------------------------------------

    @property
    def spark(self) -> SparkSession:
        if self._spark is None:
            self._spark = get_spark(app_name="waddleml-store")
        return self._spark

    def _dir(self, table: str) -> str:
        return os.path.join(self.root, "parquet", table)

    # --- write path -------------------------------------------------------

    def _spark_schema(self, table: str, versioned: bool) -> T.StructType:
        base = schemas.WADDLE_TABLES[table]
        if not versioned:
            return base
        return T.StructType(list(base.fields) + [T.StructField("_seq", T.LongType(), False)])

    _ARROW_TYPES = {
        "string": "string",
        "double": "float64",
        "int": "int32",
        "bigint": "int64",
        "binary": "binary",
    }

    def _write_part(self, table: str, schema: T.StructType, data: dict[str, list]):
        """Write `data` (column → values, in `schema` order) as ONE part
        file of `table`; returns the Arrow table written.

        The file is written under a hidden temp name and renamed into
        place, so a crash mid-write never leaves a torn file where Spark's
        readers (batch and file-stream, which both skip dot-files) look."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        arrow_schema = pa.schema(
            [
                pa.field(f.name, getattr(pa, self._ARROW_TYPES[f.dataType.simpleString()])())
                for f in schema.fields
            ]
        )
        arrow_tbl = pa.table(data, schema=arrow_schema)
        d = self._dir(table)
        os.makedirs(d, exist_ok=True)
        name = uuid.uuid4().hex
        tmp = os.path.join(d, f".part-{name}.tmp")
        try:
            pq.write_table(arrow_tbl, tmp, compression="snappy")
            os.replace(tmp, os.path.join(d, f"part-{name}.snappy.parquet"))
        except BaseException:
            if os.path.exists(tmp):
                os.remove(tmp)
            raise
        # the parquet dir just gained a file: drop fan_out's stale
        # partition-count memo so same-shape re-reads re-probe
        reset_fan_out_memo()
        return arrow_tbl

    def _write_batch(self, table: str, rows: list[dict], duck_sql: str | None) -> None:
        """One micro-batch: rows → ONE Arrow table → parquet part file +
        DuckDB SQL, all driver-local.

        Every row-level write (append, upsert, update_run, delete
        tombstones) avoids Spark: a 5 k-row batch is driver-scale data,
        and a createDataFrame → coalesce(1).write job costs ~150 ms of
        scheduling for ~10 ms of IO (measured: the swap took the hot
        logging path from ~18 k to >40 k rows/s) and a JVM start in a
        process that only logs.  The Arrow schema mirrors schemas.WADDLE_TABLES
        exactly, so Spark's analytical readers (and the streaming parquet
        tail, which declares the same schema) see files identical to what
        a Spark write would produce.  Spark remains the ANALYTICS engine.
        """
        if not rows:
            return
        versioned = table in _VERSIONED
        data = {f.name: [r.get(f.name) for r in rows] for f in schemas.WADDLE_TABLES[table].fields}
        if versioned:
            data["_seq"] = [_next_seq()] * len(rows)
        arrow_full = self._write_part(table, self._spark_schema(table, versioned), data)
        arrow_tbl = arrow_full.drop_columns(["_seq"]) if versioned else arrow_full
        with self._duck_lock:
            self.duck.register("_batch", arrow_tbl)
            self.duck.execute(duck_sql or f"INSERT INTO {table} SELECT * FROM _batch")
            self.duck.unregister("_batch")

    def append(self, table: str, rows: list[dict]) -> None:
        """Plain append (D1/D2: metrics, artifacts, new runs/commits...).
        Metric rows then go out on the root's live bus: the part file and
        the DuckDB insert already hold them (the ordering streaming.live
        documents)."""
        self._write_batch(table, rows, None)
        if table == "metrics" and rows:
            self.bus.publish(rows)

    def upsert(self, table: str, rows: list[dict]) -> None:
        """Upsert by the table's PK (D3: params/tags ON CONFLICT DO UPDATE,
        ref waddle/_run.py:139-150; D4 commits DO NOTHING)."""
        keys = _VERSIONED[table]
        cols = [f.name for f in schemas.WADDLE_TABLES[table].fields]
        # DuckDB forbids assigning UNIQUE/PK columns in DO UPDATE (repos is
        # keyed by name but carries an id PK) — exclude them from the SET
        pk_cols = {"repos": ["id"]}.get(table, [])
        non_keys = [c for c in cols if c not in keys and c not in pk_cols]
        if table == "commits":
            action = "DO NOTHING"
        else:
            sets = ", ".join(f"{c} = EXCLUDED.{c}" for c in non_keys)
            action = f"DO UPDATE SET {sets}"
        conflict = ", ".join(keys)
        self._write_batch(
            table,
            rows,
            f"INSERT INTO {table} SELECT * FROM _batch ON CONFLICT ({conflict}) {action}",
        )

    def update_run(self, run_id: str, **fields) -> None:
        """D5: UPDATE runs SET ... WHERE id (ref waddle/_run.py:198-201),
        as an upsert of the merged row — the Parquet version row and the
        DuckDB row come from the same dict.  A missing run (deleted while
        it trained) is a no-op, like the reference's UPDATE of 0 rows: an
        upsert would bring the run back."""
        with self._duck_lock:
            current = self._duck_row("runs", "id", run_id)
            if current is not None:
                self.upsert("runs", [{**current, **fields}])

    def delete_run(self, run_id: str) -> None:
        """D6: cascading delete in FK order (ref _dashboard_api.py:237-249).
        DuckDB: the five DELETEs in one transaction.  Parquet: one part
        file of tombstones, one per (table, run_id), in the _cdc_deletes
        log; no data file is read, rewritten or renamed, and no Spark runs.

        df() anti-joins the tombstones, so every Spark view hides the run
        at once; compact() purges its rows physically.  The hiding is by
        run id, so rows a still-running Run flushes after the delete are
        hidden too.  DuckDB keeps those late rows as orphans (its metrics
        table has no FK, as in the reference)."""
        with self._duck_lock:
            self.duck.execute("BEGIN TRANSACTION")
            try:
                for tbl, key in _CASCADE:
                    self.duck.execute(f"DELETE FROM {tbl} WHERE {key} = ?", [run_id])
                self.duck.execute("COMMIT")
            except BaseException:
                self.duck.execute("ROLLBACK")
                raise
        tables, n = [tbl for tbl, _ in _CASCADE], len(_CASCADE)
        self._write_part(  # tombstones: no DuckDB side
            "_cdc_deletes",
            self._CDC_SCHEMA,
            {"table": tables, "run_id": [run_id] * n, "_seq": [_next_seq()] * n},
        )

    # --- change data capture ---------------------------------------------

    _CDC_SCHEMA = T.StructType(
        [
            T.StructField("table", T.StringType(), False),
            T.StructField("run_id", T.StringType(), False),
            T.StructField("_seq", T.LongType(), False),
        ]
    )

    def changes(self, table: str, since_seq: int = 0) -> DataFrame:
        """Change-data feed for a versioned table: every version row with
        `_seq > since_seq`, classified as op ∈ insert/update/delete (the
        Delta-CDF shape, built on the engine's own event log — no extra
        write-path cost; deletes come from the tombstone log).

        Consumers poll with their last-seen `_seq` as the cursor; the feed
        is totally ordered by `_seq`.  Replay from an old cursor is exact
        until compact() rewrites history (compaction keeps only the latest
        version per PK and drops deleted runs; a from-scratch consumer then
        sees it as the insert — eventually-consistent, like Delta CDF
        across VACUUM).  Until then a deleted run's history stays in the
        feed, followed by its delete event.
        op classification: the FIRST version of a PK ever
        seen is 'insert', later versions 'update' — one window over the PK,
        the same shuffle the read view already pays.  For commits
        (first-writer-wins) duplicate inserts are no-ops and are omitted.

        Append-only tables (metrics, artifacts) need no CDC machinery:
        the parquet append log IS the change feed.
        """
        if table not in _VERSIONED:
            raise ValueError(
                f"{table} is append-only; its append log is the change feed"
            )
        d = self._dir(table)
        keys = _VERSIONED[table]
        schema = self._spark_schema(table, True)
        cols = [f.name for f in schemas.WADDLE_TABLES[table].fields]
        if not os.path.exists(d):
            data = self.spark.createDataFrame([], schema)
        else:
            data = self.spark.read.schema(schema).parquet(d)
        w = Window.partitionBy(*keys).orderBy(F.col("_seq").asc())
        versions = data.withColumn("__rn", F.row_number().over(w))
        if table == "commits":
            versions = versions.filter(F.col("__rn") == 1)
        op = F.when(F.col("__rn") == 1, "insert").otherwise("update")
        feed = (
            versions.filter(F.col("_seq") > since_seq)
            .select(op.alias("op"), "_seq", *cols)
        )
        # deletes: tombstones are per run_id; runs key on id, EAV tables on
        # run_id — both match the tombstone's run_id column
        td = self._dir("_cdc_deletes")
        if os.path.exists(td):
            key_col = "id" if table == "runs" else "run_id"
            tombs = (
                self.spark.read.schema(self._CDC_SCHEMA)
                .parquet(td)
                .filter((F.col("table") == table) & (F.col("_seq") > since_seq))
            )
            dels = tombs.select(
                F.lit("delete").alias("op"),
                "_seq",
                *[
                    F.col("run_id").alias(c) if c == key_col else F.lit(None).cast(f.dataType).alias(c)
                    for c, f in zip(cols, schemas.WADDLE_TABLES[table].fields)
                ],
            )
            feed = feed.unionByName(dels)
        return feed.orderBy("_seq")

    def _duck_row(self, table: str, key_col: str, key_val) -> dict | None:
        with self._duck_lock:
            cur = self.duck.execute(
                f"SELECT * FROM {table} WHERE {key_col} = ?", [key_val]
            )
            row = cur.fetchone()
            if row is None:
                return None
            return dict(zip([d[0] for d in cur.description], row))

    # --- read path --------------------------------------------------------

    def df(self, table: str) -> DataFrame:
        """Current logical state as a DataFrame (dedupe view for versioned
        tables — window last-writer-wins, one shuffle on the PK).  Rows of
        deleted runs are hidden by a left-anti join on the tombstones."""
        d = self._dir(table)
        versioned = table in _VERSIONED
        schema = self._spark_schema(table, versioned)
        if not os.path.exists(d):
            return self.spark.createDataFrame([], schema if not versioned else schemas.WADDLE_TABLES[table])
        df = self.spark.read.schema(schema).parquet(d)
        td = self._dir("_cdc_deletes")
        key = dict(_CASCADE).get(table)
        if key and os.path.exists(td):
            # no broadcast hint: tombstones grow one set per deleted run,
            # not bounded by construction (the repo rule)
            tombs = (
                self.spark.read.schema(self._CDC_SCHEMA)
                .parquet(td)
                .filter(F.col("table") == table)
                .select(F.col("run_id").alias("__deleted"))
            )
            # a condition join, not on=key: USING would move the key first
            df = df.join(tombs, df[key] == tombs["__deleted"], "left_anti")
        if not versioned:
            return df
        keys = _VERSIONED[table]
        order = F.col("_seq").desc() if table != "commits" else F.col("_seq").asc()
        w = Window.partitionBy(*keys).orderBy(order)
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "_seq")
        )

    def compact(self, table: str | None = None) -> None:
        """Fold the event log: rewrite each versioned table to its deduped
        state (keeps read-side windows O(current) instead of O(history));
        coalesce small append files; purge the rows of deleted runs.  Run
        periodically / post-ingest.

        Precondition: no live writer on the store.  Each table's new dir
        is written beside the live one and swapped in by two renames, so
        a part file a Run flushes in between is lost."""
        tables = [table] if table else list(_VERSIONED) + list(_APPEND_ONLY)
        for tbl in tables:
            if not os.path.exists(self._dir(tbl)):
                continue
            n = max(1, _parallelism(self.spark) // 4)
            cur = self.df(tbl)
            if tbl in _VERSIONED:
                cur = cur.withColumn("_seq", F.lit(_next_seq()))
            if tbl == "metrics":
                # the 100 TB layout: cluster by run_id, sort by (key, step)
                # within partitions — parquet min/max stats then serve the
                # role of the reference's (run_id,key,step) index
                # (waddle/_schema.py:59): per-run/per-key scans prune files
                # and row groups instead of walking a B-tree.
                cur = cur.repartition(n, "run_id").sortWithinPartitions("run_id", "key", "step")
            else:
                cur = cur.coalesce(n)
            d = self._dir(tbl)
            tmp, old = d + ".rewrite", d + ".old"
            cur.write.mode("overwrite").parquet(tmp)
            shutil.rmtree(old, ignore_errors=True)
            os.rename(d, old)
            os.rename(tmp, d)
            shutil.rmtree(old)
            reset_fan_out_memo()

    def bucket_table(
        self,
        table: str,
        keys: list[str] | None = None,
        n_buckets: int = 32,
        name: str | None = None,
    ) -> str:
        """Publish the CURRENT state of a store table as a BUCKETED
        catalog table (opt-in layout; the store's parquet dirs stay the
        write path).  Returns the catalog table name for
        sources.bucketed.read_bucketed.

        The 100 TB metrics layout in one call: bucketed+sorted by
        (run_id, key, step) per sources.bucketed.FACT_KEYS, every
        subsequent run-grain join/aggregate on the published table plans
        with ZERO Exchange and point lookups prune row groups via the
        in-bucket sort's min/max stats (the reference's B-tree index
        role, waddle/_schema.py:59).  Re-run after ingest batches to
        refresh — like compact, this is a periodic maintenance call.
        """
        from waddleml_spark.sources.bucketed import FACT_KEYS, write_bucketed

        default_keys, default_sort = FACT_KEYS.get(table, (None, None))
        keys = keys or default_keys
        if not keys:
            raise ValueError(
                f"no default bucket keys for table {table!r}; pass keys="
            )
        sort_by = default_sort if keys == default_keys else keys
        name = name or f"waddle_{table}_bucketed"
        write_bucketed(
            self.df(table), name, keys, n_buckets=n_buckets, sort_by=sort_by
        )
        return name

    def close(self) -> None:
        # another open store on the same root may own the entry; keep it
        if WaddleStore._registry.get(self.root) is self:
            del WaddleStore._registry[self.root]
        self.duck.close()
