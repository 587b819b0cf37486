"""Every top-level def, class and constant in ``etl_batch_spark/`` is
reached from a root: a registered query, the CLI, the batch runners,
``bench.py``, ``tools/`` or ``perfbench/``.  The reference has no
unreachable code (every procedure in body.sql is called by a batch), and
neither may the engine, except the entries of ``KEEP``: reference entry
points a batch calls but no query does, each named with its body.sql
range.

The rule is name-based and purely syntactic (no Spark session):

- a def is reached when its name is referenced from reached code, as an
  ``ast.Name``, an ``ast.Attribute``, an import alias or a string
  constant that is a bare identifier (``getattr`` targets, registry
  keys);
- roots are every module-level statement that is not itself a def, the
  ``@query``-registered builders, and ``KEEP``;
- imports in a package ``__init__.py`` do not count: a re-export makes a
  name importable, not used;
- the walk repeats until nothing changes, so a def referenced only from
  unreached defs is unreached too.

Run as a script to list what is unreached.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

KEEP = {
    "register_sql_functions": "body.sql:17-123, 729-857 (SQL-callable functions)",
    "translate": "body.sql:133-1197 (embedded Oracle SQL)",
    "run_oracle_sql": "body.sql:133-1197 (embedded Oracle SQL)",
    "daily000": "body.sql:877-992 (func_daily000)",
    "get_run_command": "body.sql:994-1009 (func_get_run_command)",
    "Notifier": "body.sql:1011-1161 (proc_send_mail_group)",
    "get_loader_file_name": "body.sql:1163-1251 (func_get_loader_file_name)",
}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")


def _sources(repo: Path) -> list[Path]:
    files = sorted((repo / "etl_batch_spark").rglob("*.py"))
    files += sorted((repo / "tools").glob("*.py"))
    files += sorted(
        p for p in (repo / "perfbench").glob("*.py") if not p.name.startswith("test_")
    )
    return files + [repo / "bench.py", repo / "__spark_entry__.py"]


def _refs(nodes) -> set[str]:
    out = set()
    for top in nodes:
        for n in ast.walk(top):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.alias):
                out.add(n.name.rsplit(".", 1)[-1])
            elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                if _IDENT.match(n.value):
                    out.add(n.value)
    return out


def _defined(stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        names = [stmt.name]
    elif isinstance(stmt, ast.Assign):
        names = [t.id for t in stmt.targets if isinstance(t, ast.Name)]
    elif isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        names = [stmt.target.id]
    else:
        return []
    return [n for n in names if not (n.startswith("__") and n.endswith("__"))]


def _registered(stmt) -> bool:
    for d in getattr(stmt, "decorator_list", []):
        f = d.func if isinstance(d, ast.Call) else d
        if isinstance(f, ast.Name) and f.id == "query":
            return True
    return False


def _scan(repo: Path):
    package = repo / "etl_batch_spark"
    defs, roots = [], []
    for path in _sources(repo):
        tree = ast.parse(path.read_text(), filename=str(path))
        in_pkg = path.is_relative_to(package)
        init = in_pkg and path.name == "__init__.py"
        for stmt in tree.body:
            names = _defined(stmt) if in_pkg and not init else []
            if names and not _registered(stmt):
                mod = str(path.relative_to(repo))
                defs.extend((mod, n, stmt) for n in names)
            elif init and isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            else:
                roots.append(stmt)
    return defs, roots


def unreached(repo: Path = REPO, keep=KEEP) -> list[tuple[str, str]]:
    """``(module path, name)`` of every def no root reaches."""
    defs, roots = _scan(repo)
    seen = _refs(roots) | set(keep)
    live: set[int] = set()
    while True:
        new = {i for i, (_, name, _) in enumerate(defs) if name in seen} - live
        if not new:
            break
        live |= new
        seen |= _refs(defs[i][2] for i in new)
    return [(mod, name) for i, (mod, name, _) in enumerate(defs) if i not in live]


def test_every_package_def_is_reached():
    assert unreached() == []


def test_keep_entries_are_defined_and_needed():
    # a keep entry that no longer exists, or that something now reaches,
    # is stale: the set must name exactly the reference-only entry points
    names = {name for _, name, _ in _scan(REPO)[0]}
    assert set(KEEP) <= names
    without = {name for _, name in unreached(keep={})}
    assert set(KEEP) <= without


if __name__ == "__main__":
    for mod, name in unreached():
        print(f"{mod}: {name}")
