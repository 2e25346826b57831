"""SnapTable — a minimal self-contained snapshot table format.

The package's snapshot table format, written by the streaming sinks
and the corpus-layout paths (the tracker store's tables are still bare
Parquet part directories): ACID-ish versioned commits, time travel
and manifest-level file pruning, built from nothing but parquet data
files plus JSON manifests, the public design shared by Delta Lake's
transaction log and Iceberg's manifests.  This module's ``read`` and
``write`` are the one way in: reads hand the manifest's files to Spark's
native parquet scan.

Layout::

    <table>/
      _snaptable/
        v00000001.json       # one manifest per committed version
        v00000002.json
      data/
        <commit-uuid>/part-*.parquet

A manifest is the COMPLETE state of one version: schema (Spark JSON),
the list of live data files with per-file row counts and per-column
min/max stats, the parent version, the operation, and ``streams`` —
the highest delivered epoch of every streaming sink that has committed
to the table (streaming/snapsink.py), carried forward by every commit
the way Delta's log carries its (appId, version) txn actions.  Readers never
list the data directory — they read one manifest and load exactly the
files it names, which is what makes old versions immutable (time
travel) and lets the planner skip files whose [min, max] range can't
match a predicate before Spark ever sees them.

Commit protocol (optimistic concurrency, single-writer-wins per
version): data files land under a fresh uuid directory first, then the
manifest is written to a temp name and atomically renamed to
``v{N+1}.json``.  ``os.rename`` fails or overwrites only within the
same filesystem — on a real object store you'd use a conditional PUT;
the protocol shape is identical.  A crashed writer leaves an orphan
uuid directory that no manifest references; ``vacuum`` collects those.

Scale notes: all SnapTable bookkeeping is METADATA-ONLY — stats come
from parquet footers (never data pages), manifests are O(n_files), and
the actual rows move exclusively through Spark jobs.  Per-file stats
collection parallelizes over a thread pool (footer reads are I/O
bound).  At 100 TB / tens of thousands of files the manifest is a few
MB of JSON; Iceberg splits manifests hierarchically at that point,
which this deliberately does not (documented simplification).

No counterpart in the reference (briangu/waddleml stores everything in
one embedded DuckDB file, waddle/_db.py); this extends the engine the
way its users would need for reproducible corpus snapshots (see
llmops: corpus_snapshot_diff, incremental_dedup_report).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from datetime import date, datetime, timezone
from typing import Any

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_MANIFEST_DIR = "_snaptable"
_DATA_DIR = "data"

# (no static type allowlist: _footer_stats records a column's [min, max]
# only when EVERY row group supplies decodable footer statistics for it;
# any gap drops the column's stats entirely, so pruning can only ever be
# too wide — never skip a file that holds matching rows.)


@dataclass(frozen=True)
class FileEntry:
    path: str  # relative to table root
    rows: int
    stats: dict[str, tuple[Any, Any]]  # col -> (min, max), absent = unknown


def _manifest_path(table: str, version: int) -> str:
    return os.path.join(table, _MANIFEST_DIR, f"v{version:08d}.json")


def _versions(table: str) -> list[int]:
    mdir = os.path.join(table, _MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return []
    out = []
    for n in os.listdir(mdir):
        if n.startswith("v") and n.endswith(".json"):
            try:
                out.append(int(n[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def current_version(table: str) -> int:
    """Latest committed version, or 0 if the table doesn't exist yet."""
    vs = _versions(table)
    return vs[-1] if vs else 0


def _load_manifest(table: str, version: int) -> dict:
    with open(_manifest_path(table, version)) as f:
        return json.load(f)


def _canon_temporal(v: Any) -> Any:
    """Canonical JSON form for temporal stats/bounds: naive-UTC ISO.

    Parquet footer stats come back tz-AWARE for timestamp-with-tz columns
    while Spark's pushed filter values arrive NAIVE (session tz, pinned
    UTC by session.get_spark) — comparing the two as raw ISO strings makes
    ``'...T10:00:00'`` vs ``'...T10:00:00+00:00'`` unequal at an equal
    boundary and a file gets skipped, silently losing rows (pruning must
    never change results).  Folding every datetime to naive UTC before it
    is stored or compared keeps both sides in one total order.
    """
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    return v


def _canon_stat(s: Any) -> Any:
    """Re-canonicalize a stored stat string for a TEMPORAL comparison:
    manifests written before _canon_temporal may carry tz-aware ISO
    strings.  Callers apply this only when the prune bound itself was a
    temporal, so an ordinary string column can never be rewritten.

    Date-ONLY stats (exactly 10 chars, '2024-01-01') stay date-only here;
    _inflate_date handles the mixed date/datetime comparisons."""
    if isinstance(s, str) and len(s) > 10:
        try:
            return _canon_temporal(datetime.fromisoformat(s))
        except ValueError:
            return s
    return s


def _inflate_date(s: Any, end: bool = False) -> Any:
    """Lift a date-only ISO string into datetime space so date and
    datetime operands share ONE total order (SQL's CAST(date AS
    timestamp) semantics): a BOUND or a stat MIN becomes the day's first
    instant, a stat MAX its last — a date-max of '2024-01-05' must still
    intersect a datetime bound of 2024-01-05T00:00:00 (rows anywhere in
    that day may match), and comparing the raw 10-char string against a
    19-char one gets that wrong in both directions."""
    if isinstance(s, str) and len(s) == 10:
        return s + ("T23:59:59.999999" if end else "T00:00:00")
    return s


def _footer_stats(table: str, rel_path: str) -> FileEntry:
    """Row count + per-column min/max from the parquet FOOTER only.

    Soundness rule: a column gets stats only when EVERY row group has
    decodable min/max for it.  A single stats-less group (parquet
    writers omit stats for oversized binary values) or undecodable
    bytes marks the column unknown for the whole file — its rows might
    lie outside the other groups' range, and a pruner trusting a
    partial range would silently drop them."""
    md = pq.read_metadata(os.path.join(table, rel_path))
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    bad: set[str] = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            st = col.statistics
            name = col.path_in_schema
            if "." in name:  # nested leaves never get file-level stats
                continue
            if st is None or not st.has_min_max:
                bad.add(name)
                continue
            mn, mx = st.min, st.max
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode(), mx.decode()
                except UnicodeDecodeError:
                    bad.add(name)
                    continue
            if isinstance(mn, (datetime, date)):
                mn, mx = _canon_temporal(mn), _canon_temporal(mx)
            mins[name] = mn if name not in mins else min(mins[name], mn)
            maxs[name] = mx if name not in maxs else max(maxs[name], mx)
    stats = {c: (mins[c], maxs[c]) for c in mins if c not in bad}
    return FileEntry(path=rel_path, rows=md.num_rows, stats=stats)


def _collect_entries(table: str, rel_dir: str) -> list[FileEntry]:
    data_dir = os.path.join(table, rel_dir)
    rels = [
        os.path.join(rel_dir, n)
        for n in sorted(os.listdir(data_dir))
        if n.endswith(".parquet")
    ]
    with ThreadPoolExecutor(max_workers=min(16, max(1, len(rels)))) as ex:
        return list(ex.map(lambda r: _footer_stats(table, r), rels))


def _prior_entries(manifest: dict) -> list[FileEntry]:
    """A manifest's file list as FileEntry objects (the one shape every
    append path hydrates — keep this the single copy)."""
    return [
        FileEntry(
            f["path"], f["rows"], {c: tuple(v) for c, v in f["stats"].items()}
        )
        for f in manifest["files"]
    ]


def _check_append_schema(schema: StructType, manifest: dict) -> None:
    ours = json.loads(schema.json())
    if ours != manifest["schema"]:
        added = {f["name"] for f in ours["fields"]} - {
            f["name"] for f in manifest["schema"]["fields"]
        }
        raise ValueError(
            "append schema mismatch vs current snapshot"
            + (f" (new columns: {sorted(added)})" if added else "")
        )


def _commit(
    table: str,
    added: list[FileEntry],
    schema: StructType,
    operation: str,
    parent: int,
    stream: tuple[str, int] | None = None,
) -> int:
    """Atomically publish version parent+1; ``added`` is ONLY this
    commit's new files — the previous snapshot's files are hydrated from
    the tip manifest HERE, on every attempt, so a lost version race
    rebases onto the authoritative new tip: its schema is re-validated
    and its file list (which a concurrent overwrite may have shrunk) is
    taken as-is, never resurrected from a stale pre-merge.  Publication
    uses ``os.link`` (fails EEXIST) — an exists-check + rename window
    would let two winners silently clobber each other's manifest.
    Overwrite semantics: ``added`` IS the whole table; a lost race
    raises (its remove-set assumption is stale).

    ``streams`` is copied from the same tip for appends and overwrites
    alike, and a sink commit adds its own ``stream`` = (stream_id,
    epoch), so the epoch record lands in the same ``os.link`` claim as
    the data and a lost race rebases it with the file list."""
    os.makedirs(os.path.join(table, _MANIFEST_DIR), exist_ok=True)
    overwrite = operation == "overwrite"
    version = parent + 1
    while True:
        tip = version - 1
        prev = _load_manifest(table, tip) if tip >= 1 else {}
        streams = dict(prev.get("streams", {}))
        if stream is not None:
            sid, epoch = stream
            streams[sid] = max(streams.get(sid, -1), epoch)
        if overwrite or tip < 1:
            files = list(added)
        else:
            _check_append_schema(schema, prev)
            prior = _prior_entries(prev)
            seen = {p.path for p in prior}
            files = prior + [e for e in added if e.path not in seen]
        manifest = {
            "format": "snaptable/1",
            "operation": operation,
            "committed_at": time.time(),
            "schema": json.loads(schema.json()),
            "parent": tip,
            "files": [
                {"path": e.path, "rows": e.rows, "stats": e.stats} for e in files
            ],
            "streams": streams,
        }
        tmp = os.path.join(table, _MANIFEST_DIR, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        target = _manifest_path(table, version)
        try:
            os.link(tmp, target)  # atomic claim: EEXIST when raced
        except FileExistsError:
            os.unlink(tmp)
            if overwrite:
                raise RuntimeError(
                    f"concurrent commit conflict at version {version} "
                    "(overwrite cannot auto-rebase; retry the write)"
                )
            version += 1
            continue
        os.unlink(tmp)
        # the table just gained files: fan_out's semanticHash-keyed
        # partition-count memo would otherwise keep the stale (smaller)
        # count for re-reads of the same plan shape this session
        from waddleml_spark.session import reset_fan_out_memo

        reset_fan_out_memo()
        return version


def write(
    df: DataFrame,
    table: str,
    mode: str = "append",
) -> int:
    """Commit ``df`` as a new snapshot version; returns the version number.

    mode='append' adds the new files to the parent snapshot's file list;
    mode='overwrite' makes the new files the entire table.  Either way
    every pre-existing data file is left untouched on disk — old
    versions stay readable (time travel) until ``vacuum``.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    parent = current_version(table)
    if mode == "append" and parent > 0:
        # fail fast before staging data; _commit re-validates on publish
        _check_append_schema(df.schema, _load_manifest(table, parent))
    return _stage_and_commit(df, table, uuid.uuid4().hex, mode, parent)


def _stage_and_commit(
    df: DataFrame,
    table: str,
    dir_name: str,
    operation: str,
    parent: int,
    stream: tuple[str, int] | None = None,
) -> int:
    """The one write sequence (``write`` and the streaming sink): stage
    ``df`` as parquet under the fresh ``data/<dir_name>``, read the new
    files' footer stats, then ``_commit`` them as version parent+1
    (a sink passes its (stream_id, epoch) through as ``stream``)."""
    commit_dir = os.path.join(_DATA_DIR, dir_name)
    df.write.mode("overwrite").parquet(os.path.join(table, commit_dir))
    entries = _collect_entries(table, commit_dir)
    return _commit(table, entries, df.schema, operation, parent, stream)


def delivered_epoch(table: str, stream_id: str) -> int:
    """Highest epoch of ``stream_id`` committed to the table, or -1:
    the tip manifest holds every stream's mark, so this is one read."""
    v = current_version(table)
    if v < 1:
        return -1
    return _load_manifest(table, v).get("streams", {}).get(stream_id, -1)


def _prune(files: list[dict], col: str, lo: Any, hi: Any) -> list[dict]:
    # stats JSON-normalize temporals to naive-UTC ISO strings; mirror
    # that on the caller's bounds AND (for temporal bounds only) on the
    # stored stats, so pre-canonicalization manifests with tz-aware ISO
    # stats still compare like-for-like
    temporal = isinstance(lo, (datetime, date)) or isinstance(hi, (datetime, date))
    lo, hi = _canon_temporal(lo), _canon_temporal(hi)
    if temporal:
        lo, hi = _inflate_date(lo), _inflate_date(hi)
    kept = []
    for f in files:
        st = f["stats"].get(col)
        if st is None:  # unknown stats -> cannot skip
            kept.append(f)
            continue
        mn, mx = st
        if temporal:
            mn = _inflate_date(_canon_stat(mn))
            mx = _inflate_date(_canon_stat(mx), end=True)
        try:
            if (hi is None or mn <= hi) and (lo is None or mx >= lo):
                kept.append(f)
        except TypeError:
            # bound type vs stored stat type mismatch (e.g. datetime
            # bounds against an epoch-DOUBLE column): crisp error
            # instead of an opaque mid-prune comparison crash
            raise ValueError(
                f"prune bounds for column {col!r} have type "
                f"{type(lo if lo is not None else hi).__name__} but the "
                f"stored stats are {type(mn).__name__} — pass bounds "
                "matching the column's stored type"
            ) from None
    return kept


def read(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    prune: tuple[str, Any, Any] | None = None,
) -> DataFrame:
    """Read a snapshot (latest by default; ``version=`` time-travels).

    ``prune=(col, lo, hi)`` drops files whose footer [min, max] for
    ``col`` can't intersect [lo, hi] BEFORE Spark plans the scan — the
    manifest-level skip Iceberg/Delta do; Spark's own row-group pushdown
    still applies inside the files that survive.  lo/hi of None are
    open-ended.  Pruning is an optimization only: Spark re-applies the
    real predicate, so a too-wide prune never changes results.
    """
    v = current_version(table) if version is None else version
    if v < 1 or not os.path.exists(_manifest_path(table, v)):
        raise FileNotFoundError(f"snaptable {table!r} has no version {v}")
    man = _load_manifest(table, v)
    files = man["files"]
    if prune is not None:
        files = _prune(files, *prune)
    schema = StructType.fromJson(man["schema"])
    if not files:
        return spark.createDataFrame([], schema)
    paths = [os.path.join(table, f["path"]) for f in files]
    return spark.read.schema(schema).parquet(*paths)


def history(table: str) -> list[dict]:
    """Commit log, oldest first: version/operation/time/files/rows."""
    out = []
    for v in _versions(table):
        m = _load_manifest(table, v)
        out.append(
            {
                "version": v,
                "parent": m["parent"],
                "operation": m["operation"],
                "committed_at": m["committed_at"],
                "n_files": len(m["files"]),
                "rows": sum(f["rows"] for f in m["files"]),
            }
        )
    return out


def file_list(table: str, version: int | None = None) -> list[dict]:
    """The manifest's file entries (path/rows/stats) for inspection."""
    v = current_version(table) if version is None else version
    return _load_manifest(table, v)["files"]


def vacuum(
    table: str, keep_versions: int = 1, retain_minutes: float = 30.0
) -> list[str]:
    """Delete data files unreachable from the newest ``keep_versions``
    manifests (plus orphans from crashed commits); drops the expired
    manifests too.  Returns the deleted file paths.  After vacuum,
    time travel only reaches the kept versions — that's the trade.

    ``retain_minutes`` is the concurrent-writer grace window: writers
    stage data files BEFORE claiming a manifest version, so an
    unreferenced-but-young file may belong to an in-flight commit —
    deleting it would make that commit reference missing data.  Files
    younger than the window are skipped; pass 0 only when no writer can
    be active.

    Streaming-sink epochs survive manifest expiry: every manifest carries
    the ``streams`` high-water marks of all earlier ones, so the kept
    tip alone still makes every delivered epoch a replay.
    """
    if keep_versions < 1:
        raise ValueError("keep_versions must be >= 1")
    vs = _versions(table)
    if not vs:
        return []
    keep, drop = vs[-keep_versions:], vs[:-keep_versions]
    live: set[str] = set()
    for v in keep:
        live |= {f["path"] for f in _load_manifest(table, v)["files"]}
    cutoff = time.time() - retain_minutes * 60.0
    deleted: list[str] = []
    data_root = os.path.join(table, _DATA_DIR)
    # ORDER matters (round-6 review find): unlink the expired manifests
    # BEFORE deleting data files — a crash mid-vacuum then leaves
    # harmless garbage files, never an on-disk manifest whose version
    # reads would hand Spark already-deleted paths
    for v in drop:
        os.unlink(_manifest_path(table, v))
    # capture EVERY dir mtime BEFORE any deletion: unlinking a child file
    # bumps the parent's mtime, and rmdir'ing an emptied SUBDIRECTORY
    # bumps the grandparent too (topdown=False reaches parents after
    # children), so a during-the-walk getmtime would always fail the
    # grace check and multi-level empty trees would peel one level per
    # vacuum instead of disappearing in one pass
    pre_mtimes: dict[str, float] = {}
    for dirpath, _dirs, _names in os.walk(data_root):
        try:
            pre_mtimes[dirpath] = os.path.getmtime(dirpath)
        except OSError:
            pre_mtimes[dirpath] = time.time()
    for dirpath, _dirs, names in os.walk(data_root, topdown=False):
        dir_mtime = pre_mtimes.get(dirpath, time.time())
        for n in names:
            full = os.path.join(dirpath, n)
            rel = os.path.relpath(full, table)
            if rel not in live and (n.endswith(".parquet") or n.startswith(("_", "."))):
                try:
                    if os.path.getmtime(full) > cutoff:
                        continue  # possibly an in-flight writer's staging
                except OSError:
                    continue
                os.unlink(full)
                deleted.append(rel)
        # empty-dir cleanup honors the SAME grace window: a concurrent
        # writer's freshly created (still-empty) staging dirs must
        # survive, and a file appearing between listdir and rmdir is a
        # race to tolerate, not an abort
        try:
            if (
                dirpath != data_root
                and not os.listdir(dirpath)
                and dir_mtime <= cutoff
            ):
                os.rmdir(dirpath)
        except OSError:
            pass
    return deleted
