"""Dead-code and layering guards, pure ``ast`` and text scans; no Spark.

Every module-level ``def``/``class`` in the package, and every method of
a module-level package class, must be referenced by Python code outside
``tests/`` and outside its own body: an ``ast.Name``, an attribute name,
an import alias, or a string constant that is exactly the identifier
(``tracer.wrap(Run, "flush", ...)``, a table of method names).  Docstrings
and comments are not callers, and neither is a test: code only tests
reach is code nothing runs.  Exempt: dunder names, catalog queries
registered with ``@_register(...)`` (reached by key through
``catalog.QUERIES``), and the names in ``KEPT``, each with the reason it
stays.

No module in the package or the test suite imports a name it never uses
(``__future__`` imports and ``# noqa: F401`` re-exports aside; a name in a
string annotation is a use).

Every top-level script and every file under ``tools/`` must be named by
file name in a live document or runner: the README, CLAUDE.md, DEPLOY.md,
a file under ``tests/`` or ``perfbench/``, or the examples runner.
History documents (SCALING.md, ROADMAP.md, CHANGES.md, ...) do not count:
a script only they mention is one nothing runs.

Every ``waddleml_spark`` import in a script outside the test suite
(examples, tools, perfbench, ``bench.py``, ``__spark_entry__.py``) must
resolve: the module exists, and each imported name is a top-level
definition of it or a submodule.  Checked from the source, never run —
those scripts otherwise run only outside pytest.

Every test COVERAGE.md cites must exist: each ``tests/<file>.py`` names
a test file, each ``tests/<file>.py::<name>`` a test function of that
file, and each bare ``test_<name>`` a test file or a test function.

``store.py`` is the one writer of a store's DuckDB file: no other package
module may take its write lock (``_duck_lock``) or call ``.duck.execute``
/ ``.duck.register`` on the store's shared connection.

Every parameter with a default, on a function or method in the same
scope as the dead-definition guard, must be passed some other value by
at least one call in the repo (tests included: a knob a test turns is a
covered configuration).  A value that only forwards an enclosing
function's own parameter sets nothing unless that parameter is set, so
the check runs to a fixpoint; a ``*args``/``**kwargs`` call sets every
parameter of its callee.  Exempt: column bindings (``*_col``/``*_cols``)
and the names in ``KEPT_PARAMS``, each with the reason it stays.  A
value nothing sets is a constant: write it as one.
"""

from __future__ import annotations

import ast
import importlib.util
import re
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "waddleml_spark"
_SKIP_DIRS = {".perfbench_work", "spark-warehouse"}
TESTS = REPO / "tests"

# definition ("name", or "Class.method" for a method) -> why it stays
# although only tests call it
KEPT: dict[str, str] = {
    "vacuum": "snapshot-table garbage collector; README, DEPLOY and "
    "MIGRATION tell an operator to run it",
    "snapshot_sink": "the micro-batch -> atomic snapshot version sink of "
    "README and MIGRATION; tests/test_format_model.py's walk drives it",
    "WaddleStore.compact": "DEPLOY's maintenance call",
    "WaddleStore.bucket_table": "DEPLOY's one-call metrics layout",
    "Run.log_metric": "the reference API's log_metric row in MIGRATION",
}


def _py_files() -> list[Path]:
    return [
        p for p in REPO.rglob("*.py")
        if not _SKIP_DIRS.intersection(p.relative_to(REPO).parts)
    ]


def _registered(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call)
        and isinstance(d.func, ast.Name)
        and d.func.id == "_register"
        for d in getattr(node, "decorator_list", ())
    )


def _code_refs(tree: ast.AST) -> Counter[str]:
    """Identifiers code under ``tree`` references; prose never counts."""
    refs: Counter[str] = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            refs[node.id] += 1
        elif isinstance(node, ast.Attribute):
            refs[node.attr] += 1
        elif isinstance(node, ast.alias):
            refs.update(node.name.split("."))
            if node.asname:
                refs[node.asname] += 1
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and node.value.isidentifier()
        ):
            refs[node.value] += 1
    return refs


def _definitions(tree: ast.Module):
    """(qualified name, node) of each module-level def/class and method."""
    defs = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    for node in tree.body:
        if isinstance(node, defs):
            yield node.name, node
        if isinstance(node, ast.ClassDef):
            for member in node.body:
                if isinstance(member, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    yield f"{node.name}.{member.name}", member


def test_no_dead_module_level_definitions():
    uses: Counter[str] = Counter()
    trees: dict[Path, ast.Module] = {}
    for path in _py_files():
        trees[path] = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
        if TESTS not in path.parents:
            uses.update(_code_refs(trees[path]))

    dead = []
    for path in sorted(p for p in trees if PKG in p.parents):
        for qualname, node in _definitions(trees[path]):
            dunder = node.name.startswith("__") and node.name.endswith("__")
            if dunder or _registered(node) or qualname in KEPT:
                continue
            # a reference inside the definition's own body (recursion,
            # a class naming itself) is not a caller
            if uses[node.name] <= _code_refs(node)[node.name]:
                dead.append(f"{path.relative_to(REPO)}:{node.lineno} {qualname}")
    assert dead == [], (
        "definitions no code outside tests/ references:\n" + "\n".join(dead)
    )


def _annotation_names(tree: ast.Module) -> set[str]:
    """Names used inside string annotations (``x: "Run"``)."""
    annotations = []
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            annotations.append(node.returns)
        elif isinstance(node, ast.arg):
            annotations.append(node.annotation)
        elif isinstance(node, ast.AnnAssign):
            annotations.append(node.annotation)
    names: set[str] = set()
    for ann in filter(None, annotations):
        for c in ast.walk(ann):
            if isinstance(c, ast.Constant) and isinstance(c.value, str):
                names.update(
                    n.id for n in ast.walk(ast.parse(c.value, mode="eval"))
                    if isinstance(n, ast.Name)
                )
    return names


def test_no_unused_imports():
    unused = []
    for path in sorted([*PKG.rglob("*.py"), *TESTS.rglob("*.py")]):
        text = path.read_text(encoding="utf-8")
        tree = ast.parse(text, filename=str(path))
        lines = text.split("\n")
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        used |= _annotation_names(tree)
        for node in ast.walk(tree):
            if not isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            if "noqa" in lines[node.lineno - 1] and "F401" in lines[node.lineno - 1]:
                continue  # a re-export
            for a in node.names:
                bound = a.asname or a.name.split(".")[0]
                if bound not in used:
                    unused.append(f"{path.relative_to(REPO)}:{node.lineno} {bound}")
    assert unused == [], "imports nothing uses:\n" + "\n".join(unused)


def _live_documents() -> dict[Path, str]:
    docs = [REPO / n for n in ("README.md", "CLAUDE.md", "DEPLOY.md")]
    docs.append(REPO / "tools" / "run_examples.sh")
    for d in ("tests", "perfbench"):
        docs += [
            p for p in (REPO / d).rglob("*")
            if p.is_file() and "__pycache__" not in p.parts
        ]
    # this guard names no script; a script naming itself does not count
    this = Path(__file__).resolve()
    return {
        p: p.read_text(encoding="utf-8", errors="replace")
        for p in docs
        if p.resolve() != this
    }


def test_every_script_is_named_by_a_live_document():
    docs = _live_documents()
    scripts = list(REPO.glob("*.py")) + [
        p for p in (REPO / "tools").iterdir() if p.is_file()
    ]
    unnamed = []
    for script in sorted(scripts):
        named = re.compile(rf"(?<![\w.]){re.escape(script.name)}(?!\w)")
        if not any(named.search(t) for d, t in docs.items() if d != script):
            unnamed.append(str(script.relative_to(REPO)))
    assert unnamed == [], "scripts no live document names:\n" + "\n".join(unnamed)


def test_every_test_coverage_cites_exists():
    tests = {
        p.name: {
            n.name for n in ast.walk(ast.parse(p.read_text(encoding="utf-8")))
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            and n.name.startswith("test_")
        }
        for p in TESTS.glob("test_*.py")
    }
    every = set().union(*tests.values())
    text = (REPO / "COVERAGE.md").read_text(encoding="utf-8")
    files = re.findall(r"tests/(\w+\.py)", text)
    qualified = re.findall(r"tests/(\w+\.py)::(\w+)", text)
    bare = re.findall(r"(?<![\w/.:])test_\w+", text)
    missing = [f"tests/{f}" for f in files if f not in tests]
    missing += [f"tests/{f}::{n}" for f, n in qualified if n not in tests.get(f, ())]
    missing += [n for n in bare if f"{n}.py" not in tests and n not in every]
    assert qualified and bare
    assert missing == [], "COVERAGE.md cites tests that do not exist:\n" + "\n".join(missing)


def _top_level_names(tree: ast.Module) -> set[str]:
    names: set[str] = set()
    stack = list(tree.body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names.update(n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name))
        elif isinstance(node, (ast.If, ast.Try, ast.With)):
            stack += node.body + getattr(node, "orelse", []) + getattr(node, "finalbody", [])
            stack += [s for h in getattr(node, "handlers", []) for s in h.body]
    return names


def test_every_script_import_of_the_package_resolves():
    scripts = [REPO / "bench.py", REPO / "__spark_entry__.py"]
    for d in ("examples", "tools", "perfbench"):
        scripts += sorted((REPO / d).glob("*.py"))
    defined: dict[str, set[str]] = {}

    def names_of(module: str) -> set[str]:
        if module not in defined:
            origin = importlib.util.find_spec(module).origin
            defined[module] = _top_level_names(ast.parse(Path(origin).read_text(encoding="utf-8")))
        return defined[module]

    def exists(module: str) -> bool:
        try:
            return importlib.util.find_spec(module) is not None
        except ModuleNotFoundError:  # a missing parent package
            return False

    checked, broken = 0, []
    for script in scripts:
        where = script.relative_to(REPO)
        for node in ast.walk(ast.parse(script.read_text(encoding="utf-8"))):
            if isinstance(node, ast.Import):
                pairs = [(a.name, None) for a in node.names]
            elif isinstance(node, ast.ImportFrom) and not node.level and node.module:
                pairs = [(node.module, a.name) for a in node.names]
            else:
                continue
            for module, name in pairs:
                if module.split(".")[0] != "waddleml_spark":
                    continue
                checked += 1
                if not exists(module):
                    broken.append(f"{where}: {module}")
                elif name not in (None, "*") and name not in names_of(module) and not exists(
                    f"{module}.{name}"
                ):
                    broken.append(f"{where}: {module}.{name}")
    assert checked > 0
    assert broken == [], "script imports that do not resolve:\n" + "\n".join(broken)


def test_store_is_the_one_duckdb_writer():
    # a store's DuckDB file has one writer, store.py: no other package
    # module takes its write lock or executes on / registers with the
    # store's shared connection (readers take a cursor of their own)
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path == PKG / "store.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            lock = isinstance(node, ast.Attribute) and node.attr == "_duck_lock"
            call = (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("execute", "register")
                and isinstance(node.func.value, ast.Attribute)
                and node.func.value.attr == "duck"
            )
            if lock or call:
                offenders.append(f"{path.relative_to(REPO)}:{node.lineno}")
    assert offenders == [], "DuckDB writes outside store.py:\n" + "\n".join(offenders)


# "func.param" (or "Class.method.param") with a default that no call
# sets -> why it stays a parameter
KEPT_PARAMS: dict[str, str] = {
    "connected_components.id_a": "column binding: the edge table's first id",
    "connected_components.id_b": "column binding: the edge table's second id",
    "asof_join.suffix": "column binding: the suffix of the right side's clashing names",
    "canonical_url_subquery_sql.url_expr": "column binding: the url's SQL expression",
    "init.db_path": "MIGRATION's alias of the reference tracker's db_path",
    "snapshot_sink.stream_id": "MIGRATION's replay key for a restarted stream",
    "neardup_snapshot_sink.stream_id": "MIGRATION's replay key for a restarted stream",
    "WaddleStore.compact.table": "DEPLOY's maintenance call names its table",
    "WaddleStore.bucket_table.keys": "DEPLOY's one-call metrics layout names its keys",
    "WaddleStore.bucket_table.name": "DEPLOY's one-call metrics layout names its table",
    "vacuum.*": "the snapshot-table garbage collector's options README and DEPLOY name",
    "file_list.version": "time travel: the snapshot version to list",
    "serve_dashboard.host": "MIGRATION's run.serve_dashboard(host, port) row",
    "Run.serve_dashboard.host": "MIGRATION's run.serve_dashboard(host, port) row",
}


def _defaulted(fn: ast.FunctionDef | ast.AsyncFunctionDef):
    """(index among positional parameters or None, name, default) of
    each parameter of ``fn`` with a default."""
    a = fn.args
    positional = [*a.posonlyargs, *a.args]
    first = len(positional) - len(a.defaults)
    for i, (arg, default) in enumerate(zip(positional[first:], a.defaults), first):
        yield i, arg.arg, default
    for arg, default in zip(a.kwonlyargs, a.kw_defaults):
        if default is not None:
            yield None, arg.arg, default


def _param_names(fn) -> list[str]:
    a = fn.args
    names = [x.arg for x in (*a.posonlyargs, *a.args, *a.kwonlyargs)]
    return names + [x.arg for x in (a.vararg, a.kwarg) if x]


def _bound_self(fn, in_class: bool) -> int:
    """How many leading parameters a call through ``obj.name(...)`` or
    ``Class(...)`` binds implicitly (``self``/``cls``)."""
    static = any(
        isinstance(d, ast.Name) and d.id == "staticmethod" for d in fn.decorator_list
    )
    return int(in_class and not static)


def single_value_parameters() -> list[str]:
    """Every defaulted parameter in scope that no call sets, to a fixpoint.

    A call sets a parameter when it passes it (by keyword or position) a
    value whose ``ast`` differs from the default's. A value that is a
    parameter of an enclosing function forwards it: it sets the callee's
    parameter only if that one is set. A call with ``*args``/``**kwargs``
    sets every parameter of its callee.
    """
    trees = {
        p: ast.parse(p.read_text(encoding="utf-8"), filename=str(p))
        for p in _py_files()
    }
    # simple name -> [(qualname, fn node, implicit leading params)]
    by_name: dict[str, list] = {}
    params: dict[str, tuple[Path, int]] = {}  # "qual.param" -> where
    defaults: dict[str, str] = {}  # "qual.param" -> ast.dump(default)
    scoped: dict[ast.AST, str] = {}  # in-scope fn node -> qualname
    for path in sorted(p for p in trees if PKG in p.parents):
        for qualname, node in _definitions(trees[path]):
            if isinstance(node, ast.ClassDef):
                init = next(
                    (
                        m for m in node.body
                        if isinstance(m, ast.FunctionDef) and m.name == "__init__"
                    ),
                    None,
                )
                if init is not None:
                    by_name.setdefault(node.name, []).append(
                        (f"{qualname}.__init__", init, 1)
                    )
                continue
            implicit = _bound_self(node, "." in qualname)
            by_name.setdefault(node.name, []).append((qualname, node, implicit))
            scoped[node] = qualname
            for _, name, default in _defaulted(node):
                key = f"{qualname}.{name}"
                params[key] = (path.relative_to(REPO), node.lineno)
                defaults[key] = ast.dump(default)

    def exempt(key: str) -> bool:
        qual, name = key.rsplit(".", 1)
        return (
            name.endswith(("_col", "_cols"))
            or key in KEPT_PARAMS
            or f"{qual}.*" in KEPT_PARAMS
        )

    # (callee "qual.param", value) pairs: value is None (always sets), or
    # the "qual.param" of the enclosing parameter it forwards
    edges: list[tuple[str, str | None]] = []

    def visit(node: ast.AST, enclosing: list) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            enclosing = [*enclosing, node]
        if isinstance(node, ast.Call):
            func = node.func
            name = func.id if isinstance(func, ast.Name) else getattr(func, "attr", "")
            for qual, fn, implicit in by_name.get(name, ()):
                record(node, qual, fn, implicit, enclosing)
        for child in ast.iter_child_nodes(node):
            visit(child, enclosing)

    def origin(value: ast.AST, enclosing: list) -> str | None:
        """The "qual.param" a forwarded value names, else None."""
        if not isinstance(value, ast.Name):
            return None
        for fn in reversed(enclosing):
            if value.id in _param_names(fn):
                qual = scoped.get(fn)
                return f"{qual}.{value.id}" if qual else None
        return None

    def record(call: ast.Call, qual: str, fn, implicit: int, enclosing: list) -> None:
        spread = any(isinstance(a, ast.Starred) for a in call.args) or any(
            k.arg is None for k in call.keywords
        )
        if spread:
            edges.extend((f"{qual}.{name}", None) for _, name, _ in _defaulted(fn))
        positional = [*fn.args.posonlyargs, *fn.args.args][implicit:]
        passed = [(p.arg, v) for p, v in zip(positional, call.args)]
        passed += [(k.arg, k.value) for k in call.keywords if k.arg]
        for name, value in passed:
            key = f"{qual}.{name}"
            if key in defaults and ast.dump(value) != defaults[key]:
                edges.append((key, origin(value, enclosing)))

    for tree in trees.values():
        visit(tree, [])

    def sets(source: str | None) -> bool:
        """Whether a value from ``source`` is a real setting: a literal or
        expression (None), a required or exempt parameter, or a set one."""
        return source is None or source not in params or exempt(source) or source in set_

    set_: set[str] = set()
    changed = True
    while changed:
        changed = False
        for key, source in edges:
            if key not in set_ and sets(source):
                set_.add(key)
                changed = True
    return [
        f"{params[k][0]}:{params[k][1]} {k}"
        for k in sorted(params, key=lambda k: (params[k], k))
        if k not in set_ and not exempt(k)
    ]


def test_no_single_value_parameters():
    unset = single_value_parameters()
    assert unset == [], (
        "parameters with a default that no call sets to another value "
        "(make each one its default, or name it in KEPT_PARAMS):\n" + "\n".join(unset)
    )
