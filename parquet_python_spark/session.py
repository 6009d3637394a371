"""SparkSession factory with engine defaults (local-mode stand-in for a
multi-executor cluster; parallelism via SPARK_GRAFT_CPUS).

Python workers start from ``parquet_python_spark._daemon``
(``spark.python.daemon.module``). Spark puts ``pyspark.zip``, the py4j
source zip and the spark-core jar on the workers' PYTHONPATH. pyspark's
worker calls ``importlib.invalidate_caches()`` on every task, and under
Python 3.11 each zipimporter built from those archives then re-reads its
whole archive directory: a fixed cost of about 0.2 CPU-s per Python task.
The daemon module drops the three archives from PYTHONPATH, keeping every
other entry (user ``--py-files`` zips included), so workers import pyspark
from the interpreter's site-packages. It leaves PYTHONPATH alone unless
pyspark and py4j then import from directories and that pyspark's
``version.py`` names the same version as the zip's: an executor that
ships only the zip, or a mismatched install, keeps Spark's own path. The
module then execs ``python -m pyspark.daemon``, so the daemon keeps its
pid, port handshake and command line.

Most of what remains of a reused worker's cost per task is the full
``gc.collect()`` the daemon runs after each task over every object the
imports left behind. ``engine.map_tasks`` freezes each worker's heap after
the worker's first task (``engine._freeze_worker_heap``); the daemon itself
is left as it is."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_SESSION_TMPDIRS: list[str] = []


def session_tmpdir(prefix: str) -> str:
    """A fresh directory on the driver's local disk that lives until the
    driver process exits (atexit removes it), so a lazy DataFrame
    returned over its files can still read them whenever the caller
    collects.  generic_codec.roundtrip_filtered writes each call's blocks
    into one, which it removes itself when its result is a local relation
    that reads no file; the engine round-trips of ``__spark_entry__``
    write their inputs and blocks into them instead of collecting to the
    driver."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    if not _SESSION_TMPDIRS:
        atexit.register(
            lambda: [shutil.rmtree(p, ignore_errors=True) for p in _SESSION_TMPDIRS]
        )
    _SESSION_TMPDIRS.append(d)
    return d


def get_spark(
    app_name: str = "parquet-python-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cpus, 32)
    # Keep freed heap mapped in python workers (they inherit this env via the
    # JVM): the kernels allocate/free multi-MB numpy buffers per chunk, and
    # glibc's default mmap/munmap churn makes every reuse re-fault pages —
    # measured as a multi-x slowdown under 32 concurrent workers here.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "536870912")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "536870912")
    # Route pyarrow through the (retention-tuned) glibc allocator: jemalloc's
    # aggressive page purging re-faults hot buffers; measured 2x encode
    # throughput at 32 workers on this host.
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.python.daemon.module", "parquet_python_spark._daemon")
        # same allocator policy on real (non-local) executors
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "536870912")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "536870912")
        .config("spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL", "system")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
