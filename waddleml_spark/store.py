"""WaddleStore: dual-layer storage — Parquet event-log (Spark-native scale
path) with DuckDB write-through mirror (reference-parity single-file
artifact + oracle).

Reference storage is one DuckDB file with row-at-a-time autocommit INSERTs
(waddle/_db.py:27-68, waddle/_run.py:122-125).  Spark translation
(SURVEY.md §1.3, §4.3):

- every row-level write lands as a micro-batch: rows → one driver-local
  Arrow table in the table's `schemas.ARROW` write schema →
  (a) one Parquet part file in the table's directory (written under a
      hidden temp name, then renamed into place),
  (b) the same Arrow table → DuckDB INSERT / ON CONFLICT;
- mutable semantics (upsert D3, update D5, delete D6) on immutable Parquet
  use an event-log discipline: versioned tables carry a monotonic `_seq`;
  the read view is last-writer-wins per upsert key (window dedupe; the
  keys are `schemas.TABLES`').
  DuckDB gets real ON CONFLICT/DELETE, so both layers converge to
  identical logical state;
- deletes cascade in FK order, mirroring waddle/_dashboard_api.py:237-249:
  one DuckDB transaction plus one tombstone part file; the Spark read
  views anti-join the tombstones, and compact() does the physical purge.
  Spark only runs for analytics reads and compaction, never for a write,
  and only those methods import pyspark: a process that only logs or
  serves never loads it.

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
from typing import TYPE_CHECKING

import duckdb
import pyarrow as pa

from waddleml_spark.schemas import ARROW, DUCKDB_DDL, TABLES, spark_schema
from waddleml_spark.session import get_spark, reset_fan_out_memo
from waddleml_spark.streaming.live import LiveBus

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

# delete_run's cascade in FK order; each table's run-id column is its run_col
_CASCADE = ("metrics", "artifacts", "tags", "params", "runs")

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
            for stmt in DUCKDB_DDL:
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

    def _write_part(self, table: str, data: dict[str, list]):
        """Write `data` (column → values) as ONE part file of `table` in
        its `schemas.ARROW` schema; returns the Arrow table written.

        A NULL in a NOT NULL column raises before anything is written: a
        Parquet writer silently corrupts a file with one.  The file is
        written under a hidden temp name and renamed into place, so a
        crash mid-write never leaves a torn file where Spark's readers
        (which skip dot-files) look."""
        import pyarrow.parquet as pq

        arrow_tbl = pa.table(data, schema=ARROW[table])
        for f in arrow_tbl.schema:
            if not f.nullable and arrow_tbl.column(f.name).null_count:
                raise ValueError(f"NULL in NOT NULL column {table}.{f.name}")
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
        process that only logs.  The part file's schema is the table's
        `schemas.ARROW` schema, the one `WaddleStore.df` reads it with
        (as a Spark StructType); DuckDB gets the same Arrow table without
        `_seq`.  Spark remains the ANALYTICS engine.
        """
        if not rows:
            return
        versioned = bool(TABLES[table].upsert_key)
        data = {c: [r.get(c) for r in rows] for c in TABLES[table].names}
        if versioned:
            data["_seq"] = [_next_seq()] * len(rows)
        arrow_full = self._write_part(table, data)
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
        """Upsert by the table's upsert key (D3: params/tags ON CONFLICT DO
        UPDATE, ref waddle/_run.py:139-150; D4 commits DO NOTHING)."""
        t = TABLES[table]
        if t.first_writer_wins:
            action = "DO NOTHING"
        else:
            # DuckDB forbids assigning key columns in DO UPDATE (repos is
            # upserted by name but carries an id PK) — keep both out of the SET
            keys = {*t.upsert_key, *t.primary_key}
            sets = ", ".join(f"{c} = EXCLUDED.{c}" for c in t.names if c not in keys)
            action = f"DO UPDATE SET {sets}"
        conflict = ", ".join(t.upsert_key)
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
                for tbl in _CASCADE:
                    self.duck.execute(
                        f"DELETE FROM {tbl} WHERE {TABLES[tbl].run_col} = ?", [run_id]
                    )
                self.duck.execute("COMMIT")
            except BaseException:
                self.duck.execute("ROLLBACK")
                raise
        n = len(_CASCADE)
        self._write_part(  # tombstones: no DuckDB side
            "_cdc_deletes",
            {"table": list(_CASCADE), "run_id": [run_id] * n, "_seq": [_next_seq()] * n},
        )

    # --- deleted runs ------------------------------------------------------

    def _tombstones(self, table: str) -> DataFrame | None:
        """The run ids deleted from `table`, or None when it has none."""
        from pyspark.sql import functions as F

        td = self._dir("_cdc_deletes")
        if TABLES[table].run_col is None or not os.path.exists(td):
            return None
        return (
            self.spark.read.schema(spark_schema("_cdc_deletes"))
            .parquet(td)
            .filter(F.col("table") == table)
        )

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

    def _read(self, table: str) -> DataFrame:
        """Every row of `table`'s part files, `_seq` included."""
        schema = spark_schema(table)
        d = self._dir(table)
        if not os.path.exists(d):
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(d)

    def df(self, table: str) -> DataFrame:
        """Current logical state as a DataFrame (dedupe view for versioned
        tables — window last-writer-wins, one shuffle on the PK).  Rows of
        deleted runs are hidden by a left-anti join on the tombstones."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        t = TABLES[table]
        if not os.path.exists(self._dir(table)):
            return self._read(table).drop("_seq")
        df = self._read(table)
        tombs = self._tombstones(table)
        if tombs is not None:
            # no broadcast hint: tombstones grow one set per deleted run,
            # not bounded by construction (the repo rule).  A condition
            # join, not on=key: USING would move the key first
            deleted = tombs.select(F.col("run_id").alias("__deleted"))
            df = df.join(deleted, df[t.run_col] == deleted["__deleted"], "left_anti")
        if not t.upsert_key:
            return df
        order = F.col("_seq").asc() if t.first_writer_wins else F.col("_seq").desc()
        w = Window.partitionBy(*t.upsert_key).orderBy(order)
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
        from pyspark.sql import functions as F

        for tbl in [table] if table else list(TABLES):
            if not os.path.exists(self._dir(tbl)):
                continue
            n = max(1, _parallelism(self.spark) // 4)
            cur = self.df(tbl)
            if TABLES[tbl].upsert_key:
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
