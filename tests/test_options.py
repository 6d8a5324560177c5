"""An option exists only where a caller sets it: every default-valued
parameter of a function or method in unraveldocs_spark/*.py is set by
some call outside tests/, by keyword, by position or through a ``**``
splat.  A value no caller changes is a module constant (tests that need
another value monkeypatch it) or is inlined at its one use.

Calls resolve leniently by name: ``f(...)`` and ``x.f(...)`` both count
for every function or method named ``f``, and a call of a class name
counts for its ``__init__``.  Attribute and class-name calls skip a
method's ``self``; a ``*`` splat sets every positional parameter."""

import ast
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "unraveldocs_spark"
CALLERS = ("unraveldocs_spark", "tools", "jobs", "perfbench", "bench.py",
           "__spark_entry__.py")

# options kept while an open ROADMAP direction reworks the code they steer
ALLOWED = {
    "checkpoint.DirCheckpointStore.maybe_compact:threshold":
        "D9 changes compaction's commit",
    "checkpoint.DirCheckpointStore.maybe_compact:expire":
        "D9 changes compaction's commit",
    "streaming_state.stateful_rollup_stream:idle_timeout_ms":
        "D4 replaces the eviction fork",
    "streaming_state.stateful_rollup_stream:trigger":
        "D4 replaces the eviction fork",
}


def _sources(root, callers):
    for name in callers:
        path = root / name
        yield from sorted(path.rglob("*.py")) if path.is_dir() else [path]


def _defs(pkg):
    """{name: [(module.qualname, params, defaulted, is_method)]} for every
    def in ``pkg``; a class's ``__init__`` is also listed under the
    class name."""
    found = {}
    for path in sorted(pkg.glob("*.py")):
        tree = ast.parse(path.read_text())
        stack = [(tree, "", False)]
        while stack:
            node, prefix, in_class = stack.pop()
            for child in ast.iter_child_nodes(node):
                if isinstance(child, ast.ClassDef):
                    stack.append((child, f"{prefix}{child.name}.", True))
                    continue
                if not isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    stack.append((child, prefix, in_class))
                    continue
                a = child.args
                positional = [p.arg for p in a.posonlyargs + a.args]
                defaulted = positional[len(positional) - len(a.defaults):]
                defaulted += [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults)
                              if d is not None]
                static = any(getattr(d, "id", None) == "staticmethod"
                             for d in child.decorator_list)
                entry = (f"{path.stem}.{prefix}{child.name}", positional,
                         defaulted, in_class and not static)
                names = [child.name]
                if in_class and child.name == "__init__":
                    names.append(prefix.rstrip(".").rsplit(".", 1)[-1])
                for name in names:
                    found.setdefault(name, []).append(entry)
                stack.append((child, f"{prefix}{child.name}.", False))
    return found


def _set_by(call, positional, defaulted, skip_self):
    """The parameter names ``call`` sets of a def with ``positional``
    parameters; a bound call (``skip_self``) fills them from the second."""
    if any(k.arg is None for k in call.keywords):  # ** splat
        return set(defaulted)
    names = {k.arg for k in call.keywords}
    if any(isinstance(a, ast.Starred) for a in call.args):  # * splat
        return names | set(positional)
    return names | set(positional[skip_self:skip_self + len(call.args)])


def unset_options(pkg=PKG, root=ROOT, callers=CALLERS):
    """Sorted ``module.qualname:param`` of every defaulted parameter no
    call in ``callers`` (files or directories under ``root``) sets."""
    defs = _defs(pkg)
    setters = {}
    for path in _sources(root, callers):
        for call in ast.walk(ast.parse(path.read_text())):
            if not isinstance(call, ast.Call):
                continue
            f = call.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            for qual, positional, defaulted, is_method in defs.get(name, []):
                # obj.method(...) and ClassName(...) both bind self
                bound = isinstance(f, ast.Attribute) or not qual.endswith(f".{name}")
                setters.setdefault(qual, set()).update(
                    _set_by(call, positional, defaulted, int(is_method and bound)))
    unique = {e[0]: e for entries in defs.values() for e in entries}
    return sorted(
        f"{qual}:{p}"
        for qual, _, defaulted, _ in unique.values()
        for p in defaulted
        if p not in setters.get(qual, ())
    )


def test_every_option_has_a_caller():
    unset = [o for o in unset_options() if o not in ALLOWED]
    assert unset == [], (
        f"{len(unset)} defaulted parameters no non-test call sets; make each "
        "a module constant or inline it:\n  " + "\n  ".join(unset))


def test_allowed_options_are_still_unset():
    """An allowlisted option that a caller starts to set needs no entry."""
    assert set(ALLOWED) <= set(unset_options())


@pytest.fixture
def planted(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "m.py").write_text(
        "def f(a, b=1, *, c=2, d=3):\n    pass\n"
        "def g(a, b=1):\n    pass\n"
        "def h(x=0, y=0):\n    pass\n"
        "class Store:\n"
        "    def __init__(self, root, keys=None, spark=None):\n        pass\n"
        "    def put(self, rows, run_id=None):\n        pass\n"
        "    @staticmethod\n"
        "    def pure(a, b=1):\n        pass\n"
        "def unused(z=9):\n    pass\n"
    )
    (tmp_path / "caller.py").write_text(
        "from pkg.m import f, g, h, Store\n"
        "f(0, c=5)\n"
        "g(0, 1)\n"
        "h(**opts)\n"
        "s = Store('/r', None)\n"
        "s.put(rows)\n"
        "Store.pure(1, 2)\n"
    )
    tests = tmp_path / "tests"
    tests.mkdir()
    (tests / "test_m.py").write_text("from pkg.m import unused\nunused(z=1)\n")
    return tmp_path


def test_the_scan_sees_planted_options(planted):
    assert unset_options(planted / "pkg", planted, ("pkg", "caller.py")) == [
        "m.Store.__init__:spark",
        "m.Store.put:run_id",
        "m.f:b",
        "m.f:d",
        "m.unused:z",
    ]
