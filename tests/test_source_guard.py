"""Source guard: the core modules hold no function, class or option that
only tests reach.

Scope: every top-level function and class of ``engine.py``,
``operators/generic_codec.py``, ``codecs/*.py``, ``tokengen.py``,
``session.py`` and ``_daemon.py``, checked against the
non-test source (the package, ``jobs/``, ``perfbench/``, ``tools/`` and
``__spark_entry__.py``).  Both rules read the AST, so docstrings,
comments and ``__all__`` strings name nothing:

(a) every definition is referenced as a ``Name``, an ``Attribute`` or an
    import alias somewhere other than its own ``def`` / ``class``;
(b) every parameter with a default is passed by at least one call of its
    function, by position, by keyword or through ``*`` / ``**``.  A
    parameter nobody sets is a constant.

``functions/converted.py`` and ``reference_decoder.py`` are out of scope:
they re-express the reference's converted types and serve as test
oracles.
"""

from __future__ import annotations

import ast
import functools
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "parquet_python_spark"
CORE = [
    PKG / "engine.py",
    PKG / "operators" / "generic_codec.py",
    *sorted((PKG / "codecs").glob("*.py")),
    PKG / "tokengen.py",
    PKG / "session.py",
    PKG / "_daemon.py",
]


@functools.cache
def _non_test_trees() -> tuple[ast.Module, ...]:
    paths = [
        *PKG.rglob("*.py"),
        *(ROOT / "jobs").rglob("*.py"),
        *(ROOT / "perfbench").rglob("*.py"),
        *(ROOT / "tools").rglob("*.py"),
        ROOT / "__spark_entry__.py",
    ]
    return tuple(ast.parse(p.read_text(), filename=str(p)) for p in paths)


def _core_defs():
    """(label, node) for every top-level function and class of CORE."""
    for path in CORE:
        for node in ast.parse(path.read_text()).body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                yield f"{path.relative_to(ROOT)}:{node.name}", node


def _referenced_names() -> set[str]:
    names: set[str] = set()
    for tree in _non_test_trees():
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias):
                names.add(node.name.rsplit(".", 1)[-1])
    return names


def _callee(call: ast.Call) -> str | None:
    f = call.func
    if isinstance(f, ast.Name):
        return f.id
    if isinstance(f, ast.Attribute):
        return f.attr
    return None


def _passed(fn: ast.FunctionDef, calls: list[ast.Call]) -> set[str]:
    """Names of ``fn``'s parameters that at least one of ``calls`` sets."""
    positional = [a.arg for a in (*fn.args.posonlyargs, *fn.args.args)]
    keyword_only = [a.arg for a in fn.args.kwonlyargs]
    out: set[str] = set()
    for call in calls:
        n_pos = 0
        for arg in call.args:
            if isinstance(arg, ast.Starred):  # *args may fill any position
                out.update(positional[n_pos:])
                break
            n_pos += 1
        out.update(positional[:n_pos])
        for kw in call.keywords:
            if kw.arg is None:  # **kwargs may set any parameter
                out.update(positional[n_pos:], keyword_only)
            else:
                out.add(kw.arg)
    return out


def test_core_definitions_have_a_non_test_reference():
    names = _referenced_names()
    unreferenced = [
        label for label, node in _core_defs() if node.name not in names
    ]
    assert not unreferenced, unreferenced


def test_core_defaulted_parameters_are_set_by_a_non_test_call():
    calls: dict[str, list[ast.Call]] = {}
    for tree in _non_test_trees():
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and (name := _callee(node)):
                calls.setdefault(name, []).append(node)
    unset = []
    for label, fn in _core_defs():
        if isinstance(fn, ast.ClassDef):
            continue
        a = fn.args
        positional = [*a.posonlyargs, *a.args]
        defaulted = [
            *(p.arg for p in positional[len(positional) - len(a.defaults):]),
            *(p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d),
        ]
        passed = _passed(fn, calls.get(fn.name, []))
        unset += [f"{label}({p})" for p in defaulted if p not in passed]
    assert not unset, unset
