"""Source guard: the core modules hold no function or class that only
tests reach.

Every top-level function and class of ``engine.py``,
``operators/generic_codec.py`` and ``codecs/*.py`` must be named somewhere
in the non-test source (the package, ``jobs/``, ``perfbench/``, ``tools/``
or ``__spark_entry__.py``) other than on its own ``def`` / ``class`` line.
``functions/converted.py`` and ``reference_decoder.py`` are out of scope:
they re-express the reference's converted types and serve as test
oracles.
"""

from __future__ import annotations

import ast
import pathlib
import re
from collections import Counter

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "parquet_python_spark"
CORE = [
    PKG / "engine.py",
    PKG / "operators" / "generic_codec.py",
    *sorted((PKG / "codecs").glob("*.py")),
]
_WORD = re.compile(r"\w+")


def _non_test_words() -> Counter:
    """Occurrences of every word (identifier-shaped token) in the
    non-test source."""
    paths = [
        *PKG.rglob("*.py"),
        *(ROOT / "jobs").rglob("*.py"),
        *(ROOT / "perfbench").rglob("*.py"),
        *(ROOT / "tools").rglob("*.py"),
        ROOT / "__spark_entry__.py",
    ]
    return Counter(w for p in paths for w in _WORD.findall(p.read_text()))


def test_core_definitions_have_a_non_test_reference():
    words = _non_test_words()
    unreferenced = []
    for path in CORE:
        text = path.read_text()
        lines = text.splitlines()
        for node in ast.parse(text).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            own_line = _WORD.findall(lines[node.lineno - 1]).count(node.name)
            if words[node.name] <= own_line:
                unreferenced.append(f"{path.relative_to(ROOT)}:{node.name}")
    assert not unreferenced, unreferenced
