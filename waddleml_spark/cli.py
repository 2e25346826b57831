#!/usr/bin/env python3
"""waddleml-spark CLI: init, ls, serve (ref: waddle/cli.py — same commands,
flags, discovery walk, and `ls` table format)."""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

GITIGNORE_LINES = [".waddle/"]


def cmd_init(a: argparse.Namespace) -> int:
    root = Path(a.path or ".").resolve()
    waddle_dir = root / ".waddle"
    waddle_dir.mkdir(parents=True, exist_ok=True)
    print(f"created {waddle_dir}/")
    gi = root / ".gitignore"
    txt = gi.read_text(encoding="utf-8") if gi.exists() else ""
    changed = False
    for line in GITIGNORE_LINES:
        if line not in txt:
            txt += "\n" + line
            changed = True
    if changed:
        gi.write_text(txt + "\n", encoding="utf-8")
        print(f"updated {gi}")
    print("initialized .waddle/")
    return 0


def _format_duration(started, ended) -> str:
    """<60 s → 'X.Ys', else 'X.Ym'; running when unfinished (ref cli.py:61-72)."""
    if started and ended:
        secs = ended - started
        return f"{secs:.1f}s" if secs < 60 else f"{secs / 60:.1f}m"
    if started:
        return "running"
    return ""


def _store_locked(store_root: str, e: Exception) -> int:
    """One stderr line instead of a traceback when another process holds
    the store's DuckDB file lock."""
    print(f"cannot open store {store_root}: {e}", file=sys.stderr)
    return 1


def _positive_int(s: str) -> int:
    n = int(s)
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be at least 1, got {n}")
    return n


def cmd_ls(a: argparse.Namespace) -> int:
    store_root = _find_store(a.db)
    if not store_root:
        print("no .waddle store found", file=sys.stderr)
        return 1
    # read the DuckDB mirror directly: ls must stay instant, no JVM spin-up;
    # reader_conn reuses an in-process writer's cursor (S4) or opens read_only
    import duckdb

    from waddleml_spark.store import WaddleStore

    try:
        conn = WaddleStore.reader_conn(store_root)
    except duckdb.IOException as e:
        return _store_locked(store_root, e)
    try:
        rows = conn.execute(
            "SELECT id, project, name, status, started_at, ended_at, commit_sha "
            "FROM runs ORDER BY started_at DESC LIMIT ?",
            [a.limit],
        ).fetchall()
        if not rows:
            print("no runs found")
            return 0
        print(f"{'ID':>8}  {'Project':<15} {'Name':<20} {'Status':<10} {'Duration':>10} {'Commit':>8}")
        print("-" * 85)
        for rid, project, name, status, started, ended, commit in rows:
            print(
                f"{rid[:8]}  {(project or ''):<15} {(name or ''):<20} "
                f"{(status or ''):<10} {_format_duration(started, ended):>10} "
                f"{(commit or '')[:8]:>8}"
            )
    finally:
        conn.close()
    return 0


def cmd_serve(a: argparse.Namespace) -> int:
    store_root = _find_store(a.db)
    if not store_root:
        print(
            "no .waddle store found. run a training script with waddleml_spark.init() first.",
            file=sys.stderr,
        )
        return 1
    import duckdb

    from waddleml_spark.server import make_http_server
    from waddleml_spark.store import WaddleStore

    try:
        store = WaddleStore(store_root)
    except duckdb.IOException as e:
        return _store_locked(store_root, e)
    print(f"[waddleml-spark] serving {store_root} at http://{a.host}:{a.port}")
    server = make_http_server(store, a.host, a.port, static_dir=a.static_dir)
    try:
        server.serve_forever()
    except KeyboardInterrupt:
        pass
    return 0


def cmd_explain(a: argparse.Namespace) -> int:
    """Print the physical plan for a named catalog query (or list names)."""
    from waddleml_spark import catalog
    from waddleml_spark.plans import explain_str
    from waddleml_spark.session import command_spark

    if not a.query or a.query == "list":
        for name in sorted(catalog.QUERIES):
            marker = "" if name in catalog.ORACLE else "  (rows-only)"
            print(f"{name}{marker}")
        return 0
    if a.query not in catalog.QUERIES:
        print(f"unknown query {a.query!r}; run `explain list`", file=sys.stderr)
        return 1
    with command_spark("explain") as spark:
        print(explain_str(catalog.QUERIES[a.query](spark, a.sf_dir), a.mode))
    return 0


def cmd_query(a: argparse.Namespace) -> int:
    """Run a named catalog query and print rows as JSON lines (the CLI
    face of the catalog: every operator a reference user can run from
    the shell, same names as `explain list`)."""
    import json

    from waddleml_spark import catalog
    from waddleml_spark.session import command_spark

    if a.query not in catalog.QUERIES:
        print(f"unknown query {a.query!r}; run `explain list`", file=sys.stderr)
        return 1
    with command_spark("query") as spark:
        rows = catalog.QUERIES[a.query](spark, a.sf_dir).limit(a.limit).collect()
    for r in rows:
        print(json.dumps(r.asDict(), default=str))
    print(f"({len(rows)} rows)", file=sys.stderr)
    return 0


def _find_store(explicit: str | None = None) -> str | None:
    """Find the store root: explicit path, cwd, then walk up (ref _find_db)."""
    if explicit:
        p = Path(explicit)
        if p.name == "waddle.duckdb":
            p = p.parent
        if p.exists():
            return str(p.resolve())
        return None
    p = Path.cwd()
    for _ in range(10):
        candidate = p / ".waddle"
        if (candidate / "waddle.duckdb").exists():
            return str(candidate)
        if p.parent == p:
            break
        p = p.parent
    return None


def build() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="waddleml-spark", description="PySpark-native experiment tracker"
    )
    sub = p.add_subparsers(dest="cmd", required=True)
    pi = sub.add_parser("init", help="Initialize .waddle/ directory")
    pi.add_argument("--path", help="project root (default: cwd)")
    pi.set_defaults(func=cmd_init)
    pl = sub.add_parser("ls", help="List recent runs")
    pl.add_argument("--db", help="path to store root or waddle.duckdb")
    pl.add_argument("-n", "--limit", type=_positive_int, default=20, help="max runs to show")
    pl.set_defaults(func=cmd_ls)
    ps = sub.add_parser("serve", help="Serve the dashboard API")
    ps.add_argument("--db", help="path to store root or waddle.duckdb")
    ps.add_argument("--host", default="127.0.0.1")
    ps.add_argument("--port", type=int, default=8080)  # ref default (cli.py:144)
    ps.add_argument("--static-dir", help="override bundled static assets")
    ps.set_defaults(func=cmd_serve)
    pe = sub.add_parser("explain", help="Show a catalog query's physical plan")
    pe.add_argument("query", nargs="?", default="list", help="query name or 'list'")
    pe.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    pe.add_argument("--mode", default="formatted", choices=["simple", "formatted", "extended", "cost"])
    pe.set_defaults(func=cmd_explain)
    pq = sub.add_parser("query", help="Run a catalog query, print JSON lines")
    pq.add_argument("query", help="query name (see `explain list`)")
    pq.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    pq.add_argument("--limit", type=_positive_int, default=100)
    pq.set_defaults(func=cmd_query)
    return p


def main(argv: list[str] | None = None) -> int:
    a = build().parse_args(argv)
    return a.func(a)


if __name__ == "__main__":
    raise SystemExit(main())
