"""Python daemon entry point that ``session.get_spark`` installs through
``spark.python.daemon.module`` (see the session module docstring for why).

Spark starts it as ``python -m parquet_python_spark._daemon pyspark.worker``.
It drops Spark's own archives from ``PYTHONPATH`` when a directory install
of the same pyspark can replace them, then execs ``python -m pyspark.daemon``
with the same arguments. Exec, not ``runpy``: the daemon keeps this pid, its
stdout port handshake and a ``pyspark.daemon`` command line. Nothing here
imports pyspark.
"""

from __future__ import annotations

import fnmatch
import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""__version__\s*(?::\s*str\s*)?=\s*['"]([^'"]+)['"]""")


def _is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return (
        name == "pyspark.zip"
        or fnmatch.fnmatch(name, "py4j-*-src.zip")
        or name.endswith(".jar")
    )


def _dir_package(name: str, search: list[str]) -> str | None:
    """Directory of package ``name`` as the import system would find it on
    ``search``; None when it is missing or would load from an archive."""
    spec = PathFinder.find_spec(name, search)
    if spec is None or not spec.origin or not os.path.isfile(spec.origin):
        return None
    return os.path.dirname(spec.origin)


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _worker_pythonpath(entries: list[str], base: list[str]) -> list[str]:
    """``entries`` (a PYTHONPATH split on os.pathsep) without Spark's
    archives, or ``entries`` unchanged unless the result still imports
    pyspark and py4j from directories — searching the kept entries, then
    ``base`` (the interpreter's own path) — at the pyspark zip's version."""
    kept = [e for e in entries if not _is_spark_archive(e)]
    zips = [e for e in entries if os.path.basename(e) == "pyspark.zip"]
    if not zips:
        return entries
    search = kept + [p for p in base if not _is_spark_archive(p)]
    pyspark_dir = _dir_package("pyspark", search)
    if pyspark_dir is None or _dir_package("py4j", search) is None:
        return entries
    try:
        with zipfile.ZipFile(zips[0]) as z:
            zip_version = _version(z.read("pyspark/version.py").decode())
        with open(os.path.join(pyspark_dir, "version.py")) as f:
            dir_version = _version(f.read())
    except (OSError, KeyError, UnicodeDecodeError, zipfile.BadZipFile):
        return entries
    if zip_version is None or zip_version != dir_version:
        return entries
    return kept


if __name__ == "__main__":
    entries = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    kept = _worker_pythonpath(entries, sys.path)
    if kept != entries:
        os.environ["PYTHONPATH"] = os.pathsep.join(kept)
    os.execv(
        sys.executable, [sys.executable, "-m", "pyspark.daemon", *sys.argv[1:]]
    )
