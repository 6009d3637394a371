"""get_spark's Python daemon module: the PYTHONPATH filter on fake
installs (no Spark), and a live worker that imports pyspark from a
directory at the JVM's version under an exec'd ``pyspark.daemon``."""

import os
import zipfile

from parquet_python_spark._daemon import _worker_pythonpath


def _pkg(root, name, version=None):
    d = root / name
    d.mkdir(parents=True)
    (d / "__init__.py").write_text("")
    if version is not None:
        (d / "version.py").write_text(f'__version__: str = "{version}"\n')
    return root


def _spark_path(tmp_path):
    """A Spark-style PYTHONPATH: the repo root, Spark's three archives and
    a user --py-files zip."""
    lib = tmp_path / "lib"
    lib.mkdir()
    pyspark_zip = lib / "pyspark.zip"
    with zipfile.ZipFile(pyspark_zip, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", '__version__: str = "4.1.2"\n')
    py4j_zip = lib / "py4j-0.10.9.9-src.zip"
    with zipfile.ZipFile(py4j_zip, "w") as z:
        z.writestr("py4j/__init__.py", "")
    jar = lib / "spark-core_2.13-4.1.2.jar"
    with zipfile.ZipFile(jar, "w") as z:
        z.writestr("org/apache/spark/SparkContext.class", b"")
    deps = tmp_path / "deps.zip"
    with zipfile.ZipFile(deps, "w") as z:
        z.writestr("mydeps/__init__.py", "")
    repo = tmp_path / "repo"
    repo.mkdir()
    return [str(repo), str(pyspark_zip), str(py4j_zip), str(deps), str(jar)]


def test_worker_pythonpath_drops_spark_archives(tmp_path):
    entries = _spark_path(tmp_path)
    site = _pkg(_pkg(tmp_path / "site", "pyspark", "4.1.2"), "py4j")
    assert _worker_pythonpath(entries, [str(site)]) == [entries[0], entries[3]]


def test_worker_pythonpath_keeps_path_on_version_mismatch(tmp_path):
    entries = _spark_path(tmp_path)
    site = _pkg(_pkg(tmp_path / "site", "pyspark", "4.0.0"), "py4j")
    assert _worker_pythonpath(entries, [str(site)]) == entries


def test_worker_pythonpath_keeps_path_without_directory_install(tmp_path):
    entries = _spark_path(tmp_path)
    no_pyspark = _pkg(tmp_path / "a", "py4j")
    no_py4j = _pkg(tmp_path / "b", "pyspark", "4.1.2")
    for base in ([], [str(no_pyspark)], [str(no_py4j)]):
        assert _worker_pythonpath(entries, base) == entries


def _descendant_cmdlines(root_pid):
    children = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                out.append(f.read().replace(b"\0", b" "))
        except OSError:
            pass
        todo.extend(children.get(pid, []))
    return out


def test_workers_import_pyspark_from_directory(spark):
    def probe(batches):
        import sys

        import pyarrow as pa
        import pyspark

        for _ in batches:
            yield pa.RecordBatch.from_pydict({
                "file": [pyspark.__file__],
                "version": [pyspark.__version__],
                "path": [list(sys.path)],
            })

    row = (
        spark.range(1, numPartitions=1)
        .mapInArrow(probe, "file string, version string, path array<string>")
        .collect()[0]
    )
    assert ".zip" + os.sep not in row["file"]
    assert row["version"] == spark.version
    assert not [
        p for p in row["path"]
        if os.path.basename(p) == "pyspark.zip" or p.endswith(".jar")
    ]
    assert any(
        b"-m pyspark.daemon" in c for c in _descendant_cmdlines(os.getpid())
    )
