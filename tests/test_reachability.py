"""Every def in ``etl_batch_spark/`` is reached from a root, and every
optional parameter is set by some caller.  Roots are a registered query,
the CLI, the batch runners, ``bench.py``, ``tools/`` and ``perfbench/``.
The reference has no unreachable code (every procedure in body.sql is
called by a batch), and neither may the engine, except the entries of
``KEEP``: reference entry points a batch calls but no query does, each
named with its body.sql range.

The rules are name-based and purely syntactic (no Spark session):

- a top-level def is reached when its name is referenced from reached
  code, as an ``ast.Name``, an ``ast.Attribute``, an import alias or a
  string constant that is a bare identifier (``getattr`` targets,
  registry keys);
- a method is reached the same way once its class is; dunder methods and
  the UDTF protocol methods (``eval``, ``terminate``) are reached with
  their class;
- roots are every module-level statement that is not itself a def, the
  ``@query``-registered builders, and ``KEEP``;
- imports in a package ``__init__.py`` do not count: a re-export makes a
  name importable, not used;
- the walk repeats until nothing changes, so a def referenced only from
  unreached defs is unreached too;
- an optional parameter (one with a default) is set when a non-test call
  to the def's name passes it, by keyword or by position.  A call with
  ``*args`` or ``**kwargs``, and a function used as a value (passed,
  stored, decorated), set every option.  A class used as a value sets
  none: it is read for attributes (``_wrap_attr(BatchRunner, ...)``),
  subclassed, or called with no arguments (``default_factory=``).  A
  call to a subclass that inherits ``__init__`` passes its arguments to
  the base's.  An option no caller sets is a constant
  and is written as one, unless ``KEEP_OPTIONS`` names it with a reason.
  The byte codecs are out of scope: their encoder and parser options
  generate the inputs the decoder tests and ``tools/fuzz_codecs.py``
  feed in.

Run as a script to list what is unreached and what is unset.
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
    "Notifier.send_mail_group": "body.sql:1011-1161 (proc_send_mail_group)",
    "get_loader_file_name": "body.sql:1163-1251 (func_get_loader_file_name)",
    "BatchRunner.resume": "body.sql:632-645 (proc_resume)",
    "RunContext.success": "body.sql:650-664 (proc_success)",
}

_SEAM = "test seam or fault-path bound"
_REFERENCE = "the reference's own signature"
KEEP_OPTIONS = {
    "main": (("argv",), _SEAM),
    "TxTable.vacuum": (("orphan_age_seconds",), _SEAM),
    "TxTable.merge": (("max_retries",), _SEAM),
    "get_spark": (("master",), "deployment address"),
    "SmtplibTransport.__init__": (("host", "port"), "deployment address"),
    "BatchRunner.__init__": (
        ("poll_interval", "max_polls", "user"), f"{_SEAM}: the poll bound and login id"
    ),
    "RunContext.finish": (("metrics",), f"{_REFERENCE}, body.sql:671-722"),
    "daily000": (("*",), f"{_REFERENCE}, body.sql:877-992"),
}

# reached with their class: Python's data model and the UDTF protocol
_PROTOCOL = {"eval", "terminate"}
# byte codecs whose options generate decoder test inputs
_CODECS = {"jpeg", "png", "gif", "bmp", "pnm", "wav", "flac", "mp3", "oggv", "webp", "mp4"}
# decorators that leave a def called by its own name
_TRANSPARENT = {"staticmethod", "classmethod", "property", "contextmanager", "wraps"}

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


def _dunder(name: str) -> bool:
    return name.startswith("__") and name.endswith("__")


def _decorators(stmt) -> set[str]:
    out = set()
    for d in getattr(stmt, "decorator_list", []):
        f = d.func if isinstance(d, ast.Call) else d
        out.add(f.id if isinstance(f, ast.Name) else getattr(f, "attr", ""))
    return out


class _Def:
    """One top-level def or method: ``owner`` is its class's ``_Def``."""

    def __init__(self, mod, name, node, owner=None):
        self.mod, self.name, self.node, self.owner = mod, name, node, owner
        self.qualname = f"{owner.name}.{name}" if owner else name
        self.body = node  # what the def refers to once reached

    @property
    def function(self) -> bool:
        return isinstance(self.node, (ast.FunctionDef, ast.AsyncFunctionDef))


def _class_defs(mod, stmt, cls):
    """The class's methods as ``_Def``s; ``cls.body`` keeps the rest."""
    methods, rest = [], []
    for s in stmt.body:
        fn = isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef))
        if fn and not _dunder(s.name) and s.name not in _PROTOCOL:
            methods.append(_Def(mod, s.name, s, cls))
        else:
            rest.append(s)
    cls.body = ast.Module(body=stmt.bases + stmt.decorator_list + rest, type_ignores=[])
    return methods


def _scan(repo: Path):
    package = repo / "etl_batch_spark"
    defs, roots = [], []
    for path in _sources(repo):
        tree = ast.parse(path.read_text(), filename=str(path))
        in_pkg = path.is_relative_to(package)
        init = in_pkg and path.name == "__init__.py"
        for stmt in tree.body:
            names = _defined(stmt) if in_pkg and not init else []
            if names and "query" not in _decorators(stmt):
                mod = str(path.relative_to(repo))
                for n in names:
                    d = _Def(mod, n, stmt)
                    defs.append(d)
                    if isinstance(stmt, ast.ClassDef):
                        defs.extend(_class_defs(mod, stmt, d))
            elif init and isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            else:
                roots.append(stmt)
    return defs, roots


def unreached(repo: Path = REPO, keep=KEEP) -> list[tuple[str, str]]:
    """``(module path, qualified name)`` of every def no root reaches."""
    defs, roots = _scan(repo)
    seen = _refs(roots) | set(keep)
    live: set[int] = set()
    while True:
        new = {
            id(d) for d in defs
            if (d.name in seen or d.qualname in keep)
            and (d.owner is None or id(d.owner) in live)
        } - live
        if not new:
            break
        live |= new
        seen |= _refs(d.body for d in defs if id(d) in new)
    return [(d.mod, d.qualname) for d in defs if id(d) not in live]


# -- options -----------------------------------------------------------------

def _locals(fn) -> set[int]:
    """Loads of ``fn``'s own parameters, assigned names and nested defs:
    a local that shares a package def's name is not that def."""
    a = fn.args
    bound = {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}
    bound |= {p.arg for p in (a.vararg, a.kwarg) if p is not None}
    inner = list(ast.walk(fn))[1:]
    names = [n for n in inner if isinstance(n, ast.Name)]
    bound |= {n.id for n in names if isinstance(n.ctx, ast.Store)}
    bound |= {n.name for n in inner if isinstance(n, (ast.FunctionDef, ast.ClassDef))}
    return {id(n) for n in names if isinstance(n.ctx, ast.Load) and n.id in bound}


def _calls(files) -> tuple[dict[str, set], set[str]]:
    """What the call sites in ``files`` pass, by callee name: positional
    counts and keyword names (``"*"`` for an unpacked call); a call to a
    class that inherits ``__init__`` counts for its bases too.  Also the
    names used as values: neither called, nor the base of an attribute
    access, nor a local, nor a type in an annotation, ``isinstance`` or
    ``except``."""
    passed: dict[str, set] = {}
    values: set[str] = set()
    inherits: dict[str, list[str]] = {}  # class without __init__ -> bases
    for path in files:
        tree = ast.parse(path.read_text(), filename=str(path))
        not_values: set[int] = set()  # ids of Name/Attribute nodes
        for n in ast.walk(tree):
            if isinstance(n, ast.Call):
                f = n.func
                not_values.add(id(f))
                if isinstance(f, ast.Name) and f.id in ("isinstance", "issubclass"):
                    not_values.update(id(a) for a in ast.walk(n.args[-1]))
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name is None:
                    continue
                got = passed.setdefault(name, set())
                if any(isinstance(a, ast.Starred) for a in n.args) or any(
                    k.arg is None for k in n.keywords
                ):
                    got.add("*")
                got.add(len(n.args))
                got.update(k.arg for k in n.keywords)
            elif isinstance(n, ast.Attribute):
                not_values.add(id(n.value))  # a namespace, not a value: ``mod.f``
            elif isinstance(n, (ast.arg, ast.AnnAssign)) and n.annotation is not None:
                not_values.update(id(a) for a in ast.walk(n.annotation))
            elif isinstance(n, ast.ExceptHandler) and n.type is not None:
                not_values.update(id(a) for a in ast.walk(n.type))
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if n.returns is not None:
                    not_values.update(id(a) for a in ast.walk(n.returns))
                if _decorators(n) - _TRANSPARENT:
                    values.add(n.name)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                not_values.update(_locals(n))
            if isinstance(n, ast.ClassDef) and not any(
                getattr(s, "name", None) == "__init__" for s in n.body
            ):
                inherits[n.name] = [getattr(b, "id", getattr(b, "attr", "")) for b in n.bases]
        for n in ast.walk(tree):
            if id(n) in not_values or not isinstance(getattr(n, "ctx", None), ast.Load):
                continue
            if isinstance(n, ast.Name):
                values.add(n.id)
            elif isinstance(n, ast.Attribute):
                values.add(n.attr)
    for _ in inherits:  # one pass per link of the longest chain
        for sub, bases in inherits.items():
            for base in bases:
                passed.setdefault(base, set()).update(passed.get(sub, ()))
    return passed, values


def _options(d: _Def) -> list[tuple[int | None, str]]:
    """``(position, name)`` of each optional parameter; ``None`` for a
    keyword-only one.  Positions count from the first argument a call
    passes, so a method's ``self`` is skipped."""
    a = d.node.args
    pos = a.posonlyargs + a.args
    skip = 1 if d.owner and "staticmethod" not in _decorators(d.node) else 0
    out = [(i - skip, p.arg) for i, p in enumerate(pos) if i >= len(pos) - len(a.defaults)]
    out += [(None, p.arg) for p, dft in zip(a.kwonlyargs, a.kw_defaults) if dft is not None]
    return out


def _callables(repo: Path):
    """Every function and method in scope, with the name callers use."""
    for d in _scan(repo)[0]:
        if Path(d.mod).stem in _CODECS:
            continue
        if d.function:
            yield d, d.name
        elif isinstance(d.node, ast.ClassDef):
            for s in d.node.body:
                if isinstance(s, ast.FunctionDef) and s.name == "__init__":
                    init = _Def(d.mod, "__init__", s, d)
                    yield init, d.name


def options_in_scope(repo: Path = REPO) -> int:
    return sum(len(_options(d)) for d, _ in _callables(repo))


def unset_options(repo: Path = REPO, keep=KEEP_OPTIONS, files=None) -> list[tuple]:
    """``(module path, qualified name, parameter)`` of every option no
    call in ``files`` (default: the non-test sources) sets."""
    passed, values = _calls(_sources(repo) if files is None else files)
    out = []
    for d, name in _callables(repo):
        if name in values and d.name != "__init__":
            continue
        got = passed.get(name, set())
        if "*" in got:
            continue
        npos = max((g for g in got if isinstance(g, int)), default=0)
        kept = keep.get(d.qualname, ((),))[0]
        for pos, param in _options(d):
            if pos is not None and pos < npos or param in got:
                continue
            if param in kept or "*" in kept:
                continue
            out.append((d.mod, d.qualname, param))
    return out


def test_every_package_def_is_reached():
    assert unreached() == []


def test_keep_entries_are_defined_and_needed():
    # a keep entry that no longer exists, or that something now reaches,
    # is stale: the set must name exactly the reference-only entry points
    names = {d.qualname for d in _scan(REPO)[0]}
    assert set(KEEP) <= names
    without = {name for _, name in unreached(keep={})}
    assert set(KEEP) <= without


def test_every_option_is_set():
    assert unset_options() == []


def test_keep_options_are_defined_and_needed():
    unset = {(q, p) for _, q, p in unset_options(keep={})}
    for qualname, (params, _) in KEEP_OPTIONS.items():
        for p in params:
            hit = {(q, x) for q, x in unset if q == qualname and (p == "*" or x == p)}
            assert hit, f"KEEP_OPTIONS {qualname}({p}) is set by a caller or gone"


if __name__ == "__main__":
    dead = unreached()
    methods = [(m, q) for m, q in dead if "." in q]
    tops = [(m, q) for m, q in dead if "." not in q]
    unset_by_tests = {
        hit[1:] for hit in unset_options(files=sorted((REPO / "tests").glob("*.py")))
    }
    unset = unset_options()
    print(f"unreached defs: {len(tops)}")
    for mod, name in tops:
        print(f"  {mod}: {name}")
    print(f"unreached methods: {len(methods)}")
    for mod, name in methods:
        print(f"  {mod}: {name}")
    print(f"unset options: {len(unset)} of {options_in_scope()} in scope")
    for mod, qualname, param in unset:
        tag = "" if (qualname, param) in unset_by_tests else "  (only tests set it)"
        print(f"  {mod}: {qualname}({param}){tag}")
