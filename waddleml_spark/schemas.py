"""The tracker store's tables, each written down once.

`TABLES` mirrors the reference DDL (ref: waddle/_schema.py:3-72): 7 tables
— repos, commits, runs, params, tags, metrics, artifacts.  Types map per
SURVEY.md §1.3: epoch-seconds DOUBLE timestamps, JSON kept as canonical
sorted strings, BLOB → binary.  Each `Table` holds its columns (DuckDB
type, nullability, default), its DuckDB key, unique and index
constraints, and its upsert key.  Derived from it once at import:

- `DUCKDB_DDL`: the mirror's CREATE statements, one per table or index;
- `ARROW`: each table's Parquet write schema — a versioned (upserted)
  table carries a `_seq` column, and `_cdc_deletes` is the tombstone
  log `WaddleStore.delete_run` appends to.

`spark_schema` builds a table's Spark StructType from its Arrow schema
when a Spark path asks for one, so a process that only logs or serves
never imports pyspark.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass
from typing import NamedTuple

import pyarrow as pa


class Column(NamedTuple):
    name: str
    type: str  # DuckDB type; JSON is a string everywhere else
    nullable: bool = True
    default: str | None = None  # SQL literal


@dataclass(frozen=True)
class Table:
    columns: tuple[Column, ...]
    primary_key: tuple[str, ...] = ()
    unique: str | None = None
    index: tuple[str, tuple[str, ...]] | None = None  # (name, columns)
    # the key reads are last-writer-wins on; empty for an append-only table
    upsert_key: tuple[str, ...] = ()
    first_writer_wins: bool = False  # upserts DO NOTHING, reads keep the first
    run_col: str | None = None  # the column delete_run matches the run id on

    @property
    def names(self) -> list[str]:
        return [c.name for c in self.columns]


_RUN_KV = Table(  # EAV tables: value is a JSON-encoded scalar/structure
    (Column("run_id", "VARCHAR", False), Column("key", "VARCHAR", False),
     Column("value", "JSON", False)),
    primary_key=("run_id", "key"), upsert_key=("run_id", "key"), run_col="run_id",
)

TABLES: dict[str, Table] = {
    "repos": Table(
        (Column("id", "VARCHAR", False), Column("name", "VARCHAR", False),
         Column("path", "VARCHAR", False), Column("origin_url", "VARCHAR"),
         Column("default_branch", "VARCHAR"), Column("created_at", "DOUBLE", False)),
        primary_key=("id",), unique="name",
        upsert_key=("name",),  # ref upserts repos BY NAME (waddle/_db.py:76-98)
    ),
    "commits": Table(
        (Column("repo_id", "VARCHAR", False), Column("commit_sha", "VARCHAR", False),
         Column("tree_sha", "VARCHAR"), Column("author", "VARCHAR"),
         Column("author_time", "DOUBLE"), Column("message", "VARCHAR")),
        primary_key=("repo_id", "commit_sha"), upsert_key=("repo_id", "commit_sha"),
        first_writer_wins=True,
    ),
    "runs": Table(
        (Column("id", "VARCHAR", False), Column("project", "VARCHAR", False, "'default'"),
         Column("repo_id", "VARCHAR"), Column("commit_sha", "VARCHAR"),
         Column("name", "VARCHAR"), Column("status", "VARCHAR", False, "'running'"),
         Column("started_at", "DOUBLE", False), Column("ended_at", "DOUBLE"),
         Column("env", "JSON"), Column("config", "JSON"), Column("notes", "VARCHAR")),
        primary_key=("id",), upsert_key=("id",), run_col="id",
    ),
    "params": _RUN_KV,
    "tags": _RUN_KV,
    # Tall fact table.  Parquet's equivalent of the index is compact()'s
    # cluster by run_id, sorted by (key, step), so min/max stats prune
    # series scans (SURVEY.md §4.1).
    "metrics": Table(
        (Column("run_id", "VARCHAR", False), Column("key", "VARCHAR", False),
         Column("step", "INTEGER", False), Column("ts", "DOUBLE", False),
         Column("value", "DOUBLE", False)),
        index=("idx_metrics_run_key_step", ("run_id", "key", "step")), run_col="run_id",
    ),
    "artifacts": Table(
        (Column("id", "VARCHAR", False), Column("run_id", "VARCHAR", False),
         Column("name", "VARCHAR", False), Column("kind", "VARCHAR", False, "'file'"),
         Column("created_at", "DOUBLE", False), Column("uri", "VARCHAR"),
         Column("sha256", "VARCHAR"), Column("size_bytes", "BIGINT"),
         Column("inline_bytes", "BLOB")),
        primary_key=("id",), run_col="run_id",
    ),
}

def _ddl(name: str, t: Table) -> list[str]:
    # a one-column key stays inline, as the reference writes it: DuckDB
    # numbers a table's constraints in the order the DDL declares them
    inline_pk = t.primary_key if len(t.primary_key) == 1 else ()
    cols = []
    for c in t.columns:
        s = f"{c.name} {c.type}"
        s += " PRIMARY KEY" if c.name in inline_pk else ("" if c.nullable else " NOT NULL")
        s += " UNIQUE" if c.name == t.unique else ""
        s += f" DEFAULT {c.default}" if c.default else ""
        cols.append(s)
    if t.primary_key and not inline_pk:
        cols.append(f"PRIMARY KEY ({', '.join(t.primary_key)})")
    out = [f"CREATE TABLE IF NOT EXISTS {name} ({', '.join(cols)})"]
    if t.index:
        idx, on = t.index
        out.append(f"CREATE INDEX IF NOT EXISTS {idx} ON {name} ({', '.join(on)})")
    return out


_DUCK_TO_ARROW = {
    "VARCHAR": pa.string(), "JSON": pa.string(), "DOUBLE": pa.float64(),
    "INTEGER": pa.int32(), "BIGINT": pa.int64(), "BLOB": pa.binary(),
}
# the strictly increasing write sequence versioned rows and tombstones carry
_SEQ = pa.field("_seq", pa.int64(), False)


def _arrow(columns: tuple[Column, ...], seq: bool) -> pa.Schema:
    fields = [pa.field(c.name, _DUCK_TO_ARROW[c.type], c.nullable) for c in columns]
    return pa.schema(fields + [_SEQ] * seq)


DUCKDB_DDL: tuple[str, ...] = tuple(s for n, t in TABLES.items() for s in _ddl(n, t))

ARROW: dict[str, pa.Schema] = {n: _arrow(t.columns, bool(t.upsert_key)) for n, t in TABLES.items()}
# one tombstone per (table, deleted run id); no DuckDB side
ARROW["_cdc_deletes"] = _arrow(
    (Column("table", "VARCHAR", False), Column("run_id", "VARCHAR", False)), seq=True
)


@functools.cache
def spark_schema(table: str):
    """`ARROW[table]` as a Spark StructType (names, types, nullability)."""
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(ARROW[table])
