"""Schema-layer parity (ref tests/test_waddle.py model): DDL creates all 7
tables, repo upsert round-trips, nullable FKs on runs.  The DDL derived
from the table spec creates exactly the tables the hand-written DDL did,
a store written before the spec existed opens and takes writes, and the
DuckDB columns, the Spark schemas and the written part files agree
column by column."""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from waddleml_spark import schemas
from waddleml_spark.store import WaddleStore

# The mirror's DDL as it was written by hand before the table spec, kept
# verbatim: existing waddle.duckdb files were created by it.
REFERENCE_DDL = """
CREATE TABLE IF NOT EXISTS repos (
    id VARCHAR PRIMARY KEY, name VARCHAR NOT NULL UNIQUE, path VARCHAR NOT NULL,
    origin_url VARCHAR, default_branch VARCHAR, created_at DOUBLE NOT NULL);
CREATE TABLE IF NOT EXISTS commits (
    repo_id VARCHAR NOT NULL, commit_sha VARCHAR NOT NULL, tree_sha VARCHAR,
    author VARCHAR, author_time DOUBLE, message VARCHAR,
    PRIMARY KEY (repo_id, commit_sha));
CREATE TABLE IF NOT EXISTS runs (
    id VARCHAR PRIMARY KEY, project VARCHAR NOT NULL DEFAULT 'default',
    repo_id VARCHAR, commit_sha VARCHAR, name VARCHAR,
    status VARCHAR NOT NULL DEFAULT 'running',
    started_at DOUBLE NOT NULL, ended_at DOUBLE,
    env JSON, config JSON, notes VARCHAR);
CREATE TABLE IF NOT EXISTS params (
    run_id VARCHAR NOT NULL, key VARCHAR NOT NULL, value JSON NOT NULL,
    PRIMARY KEY (run_id, key));
CREATE TABLE IF NOT EXISTS tags (
    run_id VARCHAR NOT NULL, key VARCHAR NOT NULL, value JSON NOT NULL,
    PRIMARY KEY (run_id, key));
CREATE TABLE IF NOT EXISTS metrics (
    run_id VARCHAR NOT NULL, key VARCHAR NOT NULL, step INTEGER NOT NULL,
    ts DOUBLE NOT NULL, value DOUBLE NOT NULL);
CREATE INDEX IF NOT EXISTS idx_metrics_run_key_step
    ON metrics (run_id, key, step);
CREATE TABLE IF NOT EXISTS artifacts (
    id VARCHAR PRIMARY KEY, run_id VARCHAR NOT NULL, name VARCHAR NOT NULL,
    kind VARCHAR NOT NULL DEFAULT 'file', created_at DOUBLE NOT NULL,
    uri VARCHAR, sha256 VARCHAR, size_bytes BIGINT, inline_bytes BLOB);
"""
SEVEN = {"repos", "commits", "runs", "params", "tags", "metrics", "artifacts"}

# one type name per layer's spelling of it
DUCK_TYPE = {"VARCHAR": "string", "JSON": "string", "DOUBLE": "double",
             "INTEGER": "int", "BIGINT": "bigint", "BLOB": "binary"}
ARROW_TYPE = {"string": "string", "double": "double", "int32": "int",
              "int64": "bigint", "binary": "binary"}


def _catalog(con) -> dict[str, list]:
    """The user tables' columns, constraints and indexes, without oids."""
    return {
        "columns": con.execute(
            "SELECT table_name, column_name, column_index, column_default,"
            " is_nullable, data_type FROM duckdb_columns()"
            " WHERE schema_name = 'main' AND NOT internal"
            " ORDER BY table_name, column_index").fetchall(),
        "constraints": con.execute(
            "SELECT table_name, constraint_index, constraint_type, constraint_text,"
            " expression, constraint_column_indexes, constraint_column_names"
            " FROM duckdb_constraints() WHERE schema_name = 'main'"
            " ORDER BY table_name, constraint_index").fetchall(),
        "indexes": con.execute(
            "SELECT index_name, table_name, is_unique, is_primary, expressions, sql"
            " FROM duckdb_indexes() WHERE schema_name = 'main'"
            " ORDER BY index_name").fetchall(),
    }


def test_ddl_creates_all_seven_tables(tmp_path, spark):
    store = WaddleStore(str(tmp_path / "s"), spark=spark)
    tables = {
        r[0]
        for r in store.duck.execute(
            "SELECT table_name FROM information_schema.tables "
            "WHERE table_schema = 'main'"
        ).fetchall()
    }
    assert {"repos", "commits", "runs", "params", "tags", "metrics", "artifacts"} <= tables
    # the spec covers the same 7
    assert set(schemas.TABLES) == SEVEN
    store.close()


def _reference_db(path):
    con = duckdb.connect(str(path))
    for stmt in REFERENCE_DDL.split(";"):
        if stmt.strip():
            con.execute(stmt)
    return con


def test_derived_ddl_creates_the_reference_tables(tmp_path):
    ref = _reference_db(tmp_path / "ref.duckdb")
    new = duckdb.connect(str(tmp_path / "new.duckdb"))
    for stmt in schemas.DUCKDB_DDL:
        new.execute(stmt)
    want, got = _catalog(ref), _catalog(new)
    assert {r[0] for r in want["columns"]} == SEVEN
    assert len(want["indexes"]) == 1
    assert got == want


def _full_row(table: str, i: int) -> dict:
    """A row of `table` with every column set."""
    value = {"VARCHAR": f"v{i}", "JSON": f'{{"i": {i}}}', "DOUBLE": i + 0.5,
             "INTEGER": i, "BIGINT": 1 << 40, "BLOB": b"\x00b"}
    return {c.name: value[c.type] for c in schemas.TABLES[table].columns}


def _write(store: WaddleStore, table: str, rows: list[dict]) -> None:
    if schemas.TABLES[table].upsert_key:
        store.upsert(table, rows)
    else:
        store.append(table, rows)


def test_store_written_before_the_spec_opens_and_takes_writes(tmp_path, spark):
    """A store whose DuckDB file came from the hand-written DDL and whose
    part files declare every column nullable (no `_seq` NOT NULL either)
    opens, takes writes on both layers and reads both generations of part
    files as one table."""
    root = tmp_path / "old"
    root.mkdir()
    con = _reference_db(root / "waddle.duckdb")
    for table in schemas.TABLES:
        row = _full_row(table, 1)
        cols = ", ".join("?" * len(row))
        con.execute(f"INSERT INTO {table} VALUES ({cols})", list(row.values()))
        old_schema = pa.schema([f.with_nullable(True) for f in schemas.ARROW[table]])
        data = {**{k: [v] for k, v in row.items()}, "_seq": [1]}
        d = root / "parquet" / table
        d.mkdir(parents=True)
        pq.write_table(pa.table({f.name: data[f.name] for f in old_schema}, schema=old_schema),
                       str(d / "part-old.snappy.parquet"))
    con.close()

    store = WaddleStore(str(root), spark=spark)
    for table in schemas.TABLES:
        _write(store, table, [_full_row(table, 2)])
        n_duck = store.duck.execute(f"SELECT count(*) FROM {table}").fetchone()[0]
        assert n_duck == 2, table
        assert store.df(table).count() == 2, table
    store.delete_run("v1")
    assert store.duck.execute("SELECT count(*) FROM runs").fetchone()[0] == 1
    assert [r.id for r in store.df("runs").collect()] == ["v2"]
    store.close()


def test_layers_agree_column_by_column(tmp_path, spark):
    """Per table: DuckDB's columns, the spec's StructType and the schema
    of a freshly written part file agree on names, types and nullability;
    store.df() agrees on names and types (Spark's Parquet reader reports
    every column nullable)."""
    store = WaddleStore(str(tmp_path / "s"), spark=spark)
    for table in schemas.TABLES:
        _write(store, table, [_full_row(table, 1)])
    store.delete_run("v1")
    for table in [*schemas.TABLES, "_cdc_deletes"]:
        (part,) = (tmp_path / "s" / "parquet" / table).glob("part-*.parquet")
        on_disk = [(f.name, ARROW_TYPE[str(f.type)], f.nullable) for f in pq.read_schema(part)]
        spark_ = [(f.name, f.dataType.simpleString(), f.nullable)
                  for f in schemas.spark_schema(table).fields]
        assert on_disk == spark_, table
        if table == "_cdc_deletes":
            assert on_disk == [("table", "string", False), ("run_id", "string", False),
                               ("_seq", "bigint", False)]
            continue
        duck = [(n, DUCK_TYPE[t], nullable) for n, t, nullable in store.duck.execute(
            "SELECT column_name, data_type, is_nullable FROM duckdb_columns()"
            " WHERE table_name = ? ORDER BY column_index", [table]).fetchall()]
        seq = [("_seq", "bigint", False)] if schemas.TABLES[table].upsert_key else []
        assert on_disk == duck + seq, table
        df = [(f.name, f.dataType.simpleString()) for f in store.df(table).schema.fields]
        assert df == [(n, t) for n, t, _ in duck], table
    store.close()


def test_null_in_a_not_null_column_writes_nothing(tmp_path):
    store = WaddleStore(str(tmp_path / "s"))
    row = dict(_full_row("metrics", 1), value=None)
    with pytest.raises(ValueError, match="metrics.value"):
        store.append("metrics", [row])
    assert not list((tmp_path / "s" / "parquet" / "metrics").glob("*"))
    assert store.duck.execute("SELECT count(*) FROM metrics").fetchone()[0] == 0
    store.close()


def test_repo_upsert_round_trip(tmp_path, spark):
    # ref tests/test_waddle.py:31-38: same name keeps id, refreshes fields
    store = WaddleStore(str(tmp_path / "s"), spark=spark)
    row = {
        "id": "a" * 32, "name": "proj", "path": "/old", "origin_url": None,
        "default_branch": "main", "created_at": 1000.0,
    }
    store.upsert("repos", [row])
    row2 = dict(row, id="b" * 32, path="/new", origin_url="https://x/r.git")
    store.upsert("repos", [row2])
    got = store._duck_row("repos", "name", "proj")
    assert got["id"] == "a" * 32  # PK retained on conflict-by-name
    assert got["path"] == "/new"
    assert got["origin_url"] == "https://x/r.git"
    # parquet dedupe view converges (keyed by name)
    pq = store.df("repos").collect()
    assert len(pq) == 1 and pq[0].path == "/new"
    store.close()


def test_runs_nullable_fk(tmp_path, spark):
    # ref tests/test_waddle.py:63-74: runs insert with NULL repo/commit
    store = WaddleStore(str(tmp_path / "s"), spark=spark)
    store.append(
        "runs",
        [{
            "id": "c" * 32, "project": "p", "repo_id": None, "commit_sha": None,
            "name": "r", "status": "running", "started_at": 1.0, "ended_at": None,
            "env": "{}", "config": "{}", "notes": None,
        }],
    )
    got = store._duck_row("runs", "id", "c" * 32)
    assert got["repo_id"] is None and got["commit_sha"] is None
    store.close()


def test_read_table_normalizes_timestamp_physical_types(tmp_path, spark):
    """Driver testdata timestamp physical types drift between rounds
    (TIMESTAMP(NANOS) → timestamp[us]/NTZ observed r1→r2); read_table must
    deliver cast-to-double-able instant timestamps with identical epoch
    values for every variant, on any session."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from waddleml_spark.session import read_table

    inst = datetime.datetime(2024, 1, 15, 12, 30, 0)
    epoch = 1705321800.0

    # timestamp[us] no tz → Spark would infer TIMESTAMP_NTZ
    d1 = tmp_path / "v_us"
    d1.mkdir()
    pq.write_table(
        pa.table({"event_id": pa.array([1], pa.int64()),
                  "ts": pa.array([inst], pa.timestamp("us"))}),
        str(d1 / "events.parquet"),
    )
    # timestamp[ns] → nanosAsLong path (long → timestamp_micros)
    d2 = tmp_path / "v_ns"
    d2.mkdir()
    pq.write_table(
        pa.table({"event_id": pa.array([1], pa.int64()),
                  "ts": pa.array([inst], pa.timestamp("ns"))}),
        str(d2 / "events.parquet"),
    )
    # date32 → midnight-UTC timestamp
    d3 = tmp_path / "v_date"
    d3.mkdir()
    pq.write_table(
        pa.table({"o_orderkey": pa.array([1], pa.int64()),
                  "o_orderdate": pa.array([inst.date()], pa.date32())}),
        str(d3 / "orders.parquet"),
    )

    for d, name, col, want in [
        (d1, "events", "ts", epoch),
        (d2, "events", "ts", epoch),
        (d3, "orders", "o_orderdate", 1705276800.0),
    ]:
        df = read_table(spark, str(d), name)
        assert df.schema[col].dataType.typeName() == "timestamp", (d, col)
        got = df.select(F.col(col).cast("double")).collect()[0][0]
        assert got == want, (d, col, got, want)


def test_canonical_json_keeps_nulls_and_validates_names(spark):
    # round-6 review find: to_json drops null fields by default, so the
    # "canonical" form diverged from the reference's json.dumps (which
    # keeps them); and a short names list silently TRUNCATED fields
    import pytest
    from pyspark.sql import functions as F

    from waddleml_spark.functions.scalars import canonical_json

    df = spark.createDataFrame([(None, 1)], "a string, b long")
    out = df.select(canonical_json("a", "b").alias("j")).first().j
    assert out == '{"a":null,"b":1}'
    with pytest.raises(ValueError, match="names"):
        canonical_json(F.col("a"), F.col("b"), names=["x"])
