"""Spark encode/decode pipeline: the distributed replacement for the
reference's single-threaded row-group walk (SURVEY.md §3).

Mapping (SURVEY.md §1.3):
    row group      -> one encode task (an input file or row-group range)
    column chunk   -> one row of the blocks table
    page decode    -> vectorized numpy kernels inside mapInArrow
    row pivot      -> never (Arrow-columnar end to end)

Scale design notes (targets a 1000-executor cluster; local[32] here):
  * One writer: encode_table_files_native is the only tokens encoder
    (encode_job, the streaming sink and derived tables, which are written
    to parquet first, all call it).  It is ZERO-shuffle end to end: one
    task per input file / row-group range, workers read parquet via
    pyarrow and write their own block files — token payloads never cross
    the JVM<->python Arrow IPC boundary or an exchange.  Every block file
    is therefore a blk-* file or a cmp-* concatenation of them.
  * One file-direct reader for both block schemas (here and generic_codec):
    a cached proof that each part lies in one file (_block_files) gates
    one read loop (read_block_file), run in map_tasks' tasks
    (_decode_block_files) or, for a small read, on the driver, and one
    decode function (generic_codec._decode_fn) turns each part's block
    rows into output rows.
  * Skew is bounded by task planning, not salting: a file larger than
    _MAX_TASK_BYTES splits into row-group ranges (_plan_file_tasks), so a
    dominant source simply spans more tasks.
  * Checkpoint/resume: the block files are the commit record.  A task is
    done when its atomically renamed blk-<task key>.parquet exists or its
    rows sit inside a cmp-* file; encode_table_files_native drops such
    tasks driver-side before any input is read.
  * Lineage: every block row carries (snapshot_id, part_id, codec, bytes,
    crc32 checksum); metrics/ is the per-partition rollup of those
    metadata columns, built on the driver with pyarrow after the encode
    job (the payload is never read) and never read back by the engine.
"""

from __future__ import annotations

import gc
import hashlib
import json
import os
import time
import zlib
from urllib.parse import unquote, urlparse

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .codecs import encode_column, encode_dict, params_to_json

BLOCKS_SCHEMA = T.StructType(
    [
        T.StructField("part_id", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("column", T.StringType(), False),
        T.StructField("codec", T.StringType(), False),
        T.StructField("params", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("n_values", T.LongType(), False),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("raw_bytes", T.LongType(), False),
        T.StructField("enc_bytes", T.LongType(), False),
        T.StructField("ref_dict_bytes", T.LongType(), True),
        T.StructField("checksum", T.LongType(), False),
        T.StructField("snapshot_id", T.StringType(), False),
        T.StructField("encode_ms", T.DoubleType(), False),
        # per-block min/max of the column's values (int columns only; the
        # Statistics the reference parses but never uses,
        # /root/reference/parquet/parquet.thrift:198-206) — drive the
        # zone-map prune in decode_blocks_files_pruned
        T.StructField("stat_min", T.LongType(), True),
        T.StructField("stat_max", T.LongType(), True),
    ]
)

import pyarrow as pa  # noqa: E402  (workers import lazily via kernels)

_BLOCKS_ARROW_SCHEMA = pa.schema(
    [f.with_nullable(True) for f in to_arrow_schema(BLOCKS_SCHEMA)]
)

# blk/cmp parquet compression: payload is already entropy-coded by the
# column codecs (snappy on top is pure CPU), every other column keeps
# snappy.  The dict must name EVERY column: pyarrow leaves unlisted
# columns uncompressed rather than applying the default codec.
_BLK_COMPRESSION = {
    f.name: ("none" if f.name == "payload" else "snappy")
    for f in _BLOCKS_ARROW_SCHEMA
}

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("n_tok", T.IntegerType(), False),
        T.StructField("source", T.StringType(), False),
    ]
)

# metrics/: one lineage row per part (_lineage_rollup)
METRICS_SCHEMA = pa.schema(
    [
        ("part_id", pa.string()),
        ("source", pa.string()),
        ("snapshot_id", pa.string()),
        ("n_rows", pa.int64()),
        ("n_tokens", pa.int64()),
        ("raw_bytes", pa.int64()),
        ("enc_bytes", pa.int64()),
        ("tokens_codec", pa.string()),
        ("checksum", pa.int64()),
        ("encode_ms", pa.float64()),
    ]
)


# --------------------------------------------------------------- encode

def _encode_partition_table(
    tbl: "pa.Table",
    snapshot_id: str,
    with_ref_baseline: bool,
    part_id: str,
) -> "pa.Table":
    """Encode one source chunk into one blocks row per column.

    Arrow-native: the tokens list column's values buffer IS the flattened
    token vector (zero-copy via arrow_io.list_column_flat); strings encode
    from their (offsets, data) buffers.  No per-row Python anywhere.

    ``tbl`` is one source's run of one encode task, sorted by doc_id
    (_encode_split_by_source sorts each task's table once), so the payload
    depends only on the task's input rows, never on their read order — a
    re-encode of the same task writes the same bytes.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    from .codecs.arrow_io import encode_str_column, list_column_flat

    t0 = time.perf_counter()
    source = tbl.column("source")[0].as_py()
    n_rows = tbl.num_rows

    tokens_col = tbl.column("tokens").combine_chunks()
    flat, _lens = list_column_flat(tokens_col)  # int32, zero-copy
    n_tok = tbl.column("n_tok").to_numpy(zero_copy_only=False)

    rows = []

    def add(
        col, codec, params, payload, n_values, raw_bytes,
        ref_bytes=None, stats=(None, None),
    ):
        rows.append(
            {
                "part_id": part_id,
                "source": source,
                "column": col,
                "codec": codec,
                "params": params_to_json(params),
                "payload": payload,
                "n_values": n_values,
                "n_rows": n_rows,
                "raw_bytes": raw_bytes,
                "enc_bytes": len(payload),
                "ref_dict_bytes": ref_bytes,
                "checksum": zlib.crc32(payload),
                "snapshot_id": snapshot_id,
                "encode_ms": (time.perf_counter() - t0) * 1000.0,
                "stat_min": stats[0],
                "stat_max": stats[1],
            }
        )

    for col, vals in (("tokens", flat), ("n_tok", n_tok)):
        codec, params, payload, cstats = encode_column(vals, "int")
        ref_bytes = None
        if with_ref_baseline and col == "tokens":
            # honest <=-size gate: the reference's own RLE/dict wire format
            # on the same values (dict page + hybrid indices, SURVEY.md D15/D16)
            ref_bytes = len(encode_dict(np.asarray(vals, dtype=np.int32), "int32"))
        # zone-map stats: the selector's exact min/max
        stats = (cstats["min"], cstats["max"]) if len(vals) else (None, None)
        add(col, codec, params, payload, len(vals), 4 * len(vals), ref_bytes, stats)

    for col in ("doc_id", "source"):
        arr = tbl.column(col).combine_chunks()
        codec, params, payload = encode_str_column(arr)
        raw = int(pc.sum(pc.binary_length(arr)).as_py() or 0)
        add(col, codec, params, payload, len(arr), raw)

    return pa.Table.from_pylist(rows, schema=_BLOCKS_ARROW_SCHEMA)


def file_key(path: str) -> str:
    """Content-addressed file id (64-bit hash of name:size:mtime_ns) —
    stable across snapshots and listing order; keys incremental encode +
    resume.  mtime_ns is folded in so a file rewritten IN
    PLACE with unchanged name+size gets a new key and re-encodes (Iceberg
    data files are immutable, but the bare-parquet-dir fallback makes no
    such promise).  64 bits, not crc32: at ~10^5 files a 32-bit key has
    ~birthday-odds of a collision, which would silently skip a file."""
    st = os.stat(path)
    h = hashlib.sha1(
        f"{os.path.basename(path)}:{st.st_size}:{st.st_mtime_ns}".encode()
    )
    return f"f{h.hexdigest()[:16]}"


def list_input_files(input_path: str) -> list[str]:
    """Deterministic file list (sorted names) — part_id stability for resume."""
    return sorted(
        os.path.join(input_path, f)
        for f in os.listdir(input_path)
        if f.endswith(".parquet")
    )


def resolve_input_files(input_path: str) -> list[str]:
    """Snapshot-pinned file set for iceberg-lite tables (files added after
    the snapshot are invisible until re-snapshot); sorted listing otherwise."""
    from .sources.iceberg_lite import current_snapshot_id, snapshot_files

    if current_snapshot_id(input_path) is not None:
        return snapshot_files(input_path)
    return list_input_files(input_path)


def _read_task_table(path: str, rg_start: int, rg_end: int):
    """Read one planned task's data (whole file or a row-group range).

    use_threads=False: each of N concurrent workers would otherwise spawn a
    full-width Arrow thread pool (N*cores runnable threads -> scheduler
    collapse at local[32])."""
    import pyarrow.parquet as pq

    if rg_start < 0:
        return pq.read_table(path, use_threads=False)
    return pq.ParquetFile(path).read_row_groups(
        list(range(rg_start, rg_end)), use_threads=False
    )


# Input bytes per encode task: a larger file splits into row-group-range
# tasks (_plan_file_tasks).  Task keys depend on it, so changing it
# re-plans every larger file under new keys whose rows the old keys' block
# files already hold: a blocks directory holding such files must then be
# re-encoded from scratch, into an empty directory.
_MAX_TASK_BYTES = 256 * 1024 * 1024


def encode_table_files_native(
    spark: SparkSession,
    input_path: str,
    blocks_dir: str,
    snapshot_id: str = "",
    with_ref_baseline: bool = False,
    files: list[str] | None = None,
) -> DataFrame:
    """File-direct encode with WORKER-NATIVE block writes (encode_job's path).

    One task per input file (or row-group range, _plan_file_tasks); workers
    read parquet via pyarrow directly.  The encode is UDF-dominated: over a
    JVM scan every token would be decoded by the JVM parquet reader,
    serialized to Arrow IPC and deserialized in the python worker before
    the kernels start.  Spark still owns scheduling/retries; files on
    shared storage make this cluster-valid.  part_id =
    f"{source}#{task_key}" is content-addressed per FILE (file_key), so
    resume keys survive re-snapshots and an in-place rewrite re-encodes.

    Each task writes its own parquet block file (pyarrow) under blocks_dir —
    the encoded payloads never cross the python->JVM Arrow IPC boundary nor
    the JVM parquet writer (measured here: that write-back path is both the
    wide-core bottleneck and the dominant variance source).  Commit protocol:
    deterministic per-task file names (blk-<task_key>.parquet) written to a
    temp name and atomically renamed, so an existing output proves its task
    finished.  Tasks whose output is committed — the blk file exists, or
    compact_blocks folded its rows into a cmp-* file — are skipped before
    any input is read: a re-run encodes only what is missing and never
    writes a row twice, and a retried attempt overwrites in place.  A file
    plans the same task keys on every run (_MAX_TASK_BYTES is fixed), so
    an encode never deletes or rewrites a committed blk-* or cmp-* file.
    The caller snapshots blocks_dir (iceberg_lite.write_snapshot) to commit.

    Returns the blocks *metadata* DataFrame (all columns except payload) of
    the tasks this run encodes — consuming it drives the job.
    """
    files = files if files is not None else resolve_input_files(input_path)
    os.makedirs(blocks_dir, exist_ok=True)
    committed = _compacted_task_keys(blocks_dir)
    tasks = [
        t for t in _plan_file_tasks(files)
        if t[0] not in committed
        and not os.path.exists(os.path.join(blocks_dir, f"blk-{t[0]}.parquet"))
    ]
    def enc(task):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        tkey, path, rg_start, rg_end = task
        tbl = _read_task_table(path, rg_start, rg_end)
        out_batches = list(
            _encode_split_by_source(tbl, tkey, snapshot_id, with_ref_baseline)
        )
        if not out_batches:
            return
        out = pa.Table.from_batches(out_batches, schema=_BLOCKS_ARROW_SCHEMA)
        fname = os.path.join(blocks_dir, f"blk-{tkey}.parquet")
        # attempt-unique temp name: concurrent attempts (speculation,
        # zombie retries) must never interleave writes on one inode;
        # dot prefix keeps Spark's file index and list_input_files
        # from ever seeing an in-progress or abandoned temp.
        ctx = TaskContext.get()
        attempt = ctx.taskAttemptId() if ctx is not None else os.getpid()
        tmp = os.path.join(blocks_dir, f".blk-{tkey}.parquet.inprogress-{attempt}")
        # payload bytes are already entropy-coded by the column codecs —
        # parquet-level snappy on top is pure CPU (guide §2.3: compressing
        # high-entropy payloads), measured ~35% of this write+read path
        # for a ~4% size increase.  Every OTHER column is listed
        # explicitly with snappy: pyarrow treats columns absent from a
        # compression dict as UNCOMPRESSED, not as the default codec.
        pq.write_table(out, tmp, compression=_BLK_COMPRESSION)
        os.rename(tmp, fname)
        yield from out.drop_columns(["payload"]).to_batches()

    meta_schema = T.StructType(
        [f for f in BLOCKS_SCHEMA.fields if f.name != "payload"]
    )
    return map_tasks(spark, tasks, enc, meta_schema)


def _compacted_task_keys(blocks_dir: str) -> set[str]:
    """Task keys of the rows compact_blocks folded into cmp-* files, from
    each file's cached _block_index (compaction keeps their count small,
    so resume stays metadata-cheap)."""
    return {
        pid.rsplit("#", 1)[-1]
        for name in os.listdir(blocks_dir)
        if name.startswith("cmp-") and name.endswith(".parquet")
        for pid in _block_index(os.path.join(blocks_dir, name))[2]
    }


def _plan_file_tasks(files: list[str]) -> list[tuple]:
    """One task per file; oversized files (skewed upstream writers) split
    into row-group ranges of <= _MAX_TASK_BYTES each — bounded task size
    without any shuffle.  (rg_start, rg_end) = (-1, -1) means whole file.
    Task keys stay content-addressed: f"{file_key}.rg{start}", so every
    run plans the same keys for the same file."""
    tasks: list[tuple] = []
    for f in files:
        fk = file_key(f)
        size = os.stat(f).st_size
        if size <= _MAX_TASK_BYTES:
            tasks.append((fk, f, -1, -1))
            continue
        import pyarrow.parquet as pq

        meta = pq.ParquetFile(f).metadata
        n_rg = meta.num_row_groups
        if n_rg <= 1:
            tasks.append((fk, f, -1, -1))
            continue
        group: list[int] = []
        acc = 0
        for rg in range(n_rg):
            rg_meta = meta.row_group(rg)
            rg_bytes = sum(
                rg_meta.column(j).total_compressed_size
                for j in range(rg_meta.num_columns)
            )
            if group and acc + rg_bytes > _MAX_TASK_BYTES:
                tasks.append((f"{fk}.rg{group[0]}", f, group[0], group[-1] + 1))
                group, acc = [], 0
            group.append(rg)
            acc += rg_bytes
        if group:
            tasks.append((f"{fk}.rg{group[0]}", f, group[0], group[-1] + 1))
    return tasks


def _encode_split_by_source(tbl, task_key, snapshot_id, with_ref_baseline):
    """Sort one task's table by (source, doc_id) and encode each source run
    as one partition chunk, part_id = f"{source}#{task_key}"."""
    import numpy as np
    import pyarrow.compute as pc

    if tbl.num_rows == 0:
        return  # Spark routinely writes 0-row part files; nothing to encode
    tbl = tbl.combine_chunks()
    order = pc.sort_indices(
        tbl, sort_keys=[("source", "ascending"), ("doc_id", "ascending")]
    )
    tbl = tbl.take(order)
    src_codes = tbl.column("source").combine_chunks().dictionary_encode()
    idx = src_codes.indices.to_numpy(zero_copy_only=False)
    names = src_codes.dictionary.to_pylist()
    bounds = np.concatenate(([0], np.flatnonzero(np.diff(idx)) + 1, [len(idx)]))
    for s, e in zip(bounds[:-1], bounds[1:]):
        src = names[idx[s]]
        pid = f"{src}#{task_key}"
        out = _encode_partition_table(
            tbl.slice(s, e - s), snapshot_id, with_ref_baseline, pid
        )
        yield from out.to_batches()


# --------------------------------------------------------------- decode

def _tokens_decode(prune=None):
    """The decode of tokens block rows to DECODED_SCHEMA rows (only those
    ``prune`` matches when given): generic_codec._decode_fn, whose tokens
    list takes its lengths from the n_tok chunk and its values from the
    tokens chunk."""
    from .operators.generic_codec import _decode_fn

    kinds = {"doc_id": "str", "tokens": "int_list", "n_tok": "int", "source": "str"}
    return _decode_fn(
        kinds, DECODED_SCHEMA, prune, _lists={"tokens": ("n_tok", "tokens")}
    )


def local_path(uri: str) -> str:
    """Local path of a file Spark names: ``file:`` URIs are percent-decoded
    (a directory whose name holds a space or ``%`` still resolves), bare
    paths pass through, and any other scheme raises ValueError."""
    u = urlparse(uri)
    if u.scheme == "file":
        return unquote(u.path)
    if u.scheme:
        raise ValueError(f"not a local file: {uri}")
    return uri


def local_parquet_scan_files(df: DataFrame) -> list[str] | None:
    """Sorted local paths of the files behind ``df`` when it is a bare,
    unfiltered scan of a plain parquet relation — else None.

    The scan test of every file-direct reader: the block layout proof
    _block_files raises on None, and generic_codec's round-trip, whose
    input is raw rows, keeps its scan-fed path.  The optimized plan must
    be the LogicalRelation itself (no caller filter, projection, join or
    cache), its file format exactly ParquetFileFormat (a subclass such as
    Delta's applies deletion vectors a raw pyarrow read would skip), and
    every file local (local_path).  When another DataFrame cached the same
    scan, Spark's cache manager substitutes its InMemoryRelation into this
    uncached one's optimized plan; the analyzed plan still holds the
    relation, so the scan stays file-direct.  A DataFrame cached itself
    is not a bare scan."""
    try:
        qe = df._jdf.queryExecution()
        plan = qe.optimizedPlan()
        cached = plan.getClass().getSimpleName() == "InMemoryRelation"
        if cached and not df.is_cached:
            plan = qe.analyzed()
        if plan.getClass().getSimpleName() != "LogicalRelation":
            return None
        fmt = plan.relation().fileFormat().getClass().getSimpleName()
        if fmt != "ParquetFileFormat":
            return None
        files = list(plan.relation().inputFiles())
    except Exception:  # noqa: BLE001 - internal API drift: use the safe path
        return None
    if not files:
        return None
    try:
        return sorted(local_path(f) for f in files)
    except ValueError:
        return None  # non-local filesystem: keep the generic path


def map_tasks(spark: SparkSession, tasks: list, run_task, schema) -> DataFrame:
    """One Spark task per core at most, each running a contiguous run of
    the entries of ``tasks``: ``run_task(task)`` yields each entry's Arrow
    record batches.  The one dispatch of every file-direct reader and
    writer (the tokens encode, decode and compaction here, generic_codec's
    round-trip and pruned decodes).

    Dispatch is a JVM-native spark.range, whose partitions are contiguous
    id ranges; each task resolves its entries from the list shipped in the
    function closure.  Versus createDataFrame(+repartition) this removes
    both an exchange/stage and a pickled-python-RDD deserialization hop
    per task (measured ~0.3s of fixed overhead at the bench scale).  The
    closure grows with the task count (~100 B/file) — metadata-sized up
    to ~1e6 files, the same regime every other driver-side file plan here
    assumes.  With no task the plan is limit(0), which Spark plans as an
    empty local relation: collecting it starts no job or Python task.

    Every Python task has a fixed cost, and more tasks than cores buy no
    parallelism.  After its first task a worker freezes its heap
    (_freeze_worker_heap), which removes most of that cost."""
    tasks = list(tasks)

    def run(batches):
        for batch in batches:
            for i in batch.column("id").to_pylist():
                yield from run_task(tasks[int(i)])
        _freeze_worker_heap()

    n = max(min(len(tasks), spark.sparkContext.defaultParallelism), 1)
    out = spark.range(len(tasks), numPartitions=n).mapInArrow(run, schema=schema)
    return out if tasks else out.limit(0)


def _with_min_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the cluster's default parallelism when
    the input yields FAR fewer splits (guide §2.5 input skew: one small or
    unsplittable file serializes CPU-heavy per-row work on a handful of
    tasks — measured ~2x on the single-file bench tables).  The threshold
    is a quarter of the core count, not "any shortfall": the repartition
    ships the full row payload, and the A/B measurement shows that cost
    already exceeds the extra-parallelism gain once the scan supplies a
    third of the cores (10-split input on 32 cores: +12% with the bump).
    Scale-safe by construction: at real data sizes splits >> cores and
    this is a no-op; the condition, not a constant, decides.

    Only exchange-free plans are probed: an input that already shuffled
    runs at the shuffle partition count (>= cores here), so the bump would
    buy nothing — and under AQE, touching df.rdd on such a plan would
    eagerly EXECUTE its shuffle stages at plan-build time just to read a
    partition count, doubling the upstream work."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    except Exception:  # noqa: BLE001 - internal API drift: skip the bump
        return df
    if "Exchange" in plan:
        return df
    if df.rdd.getNumPartitions() * 4 <= target:
        return df.repartition(target)
    return df


_HEAP_FROZEN = False


def _freeze_worker_heap() -> None:
    """Move everything live in this Python worker into gc's permanent
    generation, once per process, after its first map_tasks task (so the
    kernels' lazy imports are in it).  pyspark's daemon runs gc.collect()
    after every task in a reused worker, and that rescans the ~76k objects
    pyspark, pyarrow, numpy and the engine leave behind: 0.045 CPU-s per
    task on 4 vCPUs, against about 1 us once they are frozen.  Objects
    later tasks create stay collectable; the frozen set is fixed here and
    never grows."""
    global _HEAP_FROZEN
    if not _HEAP_FROZEN:
        gc.collect()
        gc.freeze()
        _HEAP_FROZEN = True


def part_runs(tbl):
    """(part_id, rows) per part of one block file's rows, in file order.
    Writers keep a part's rows contiguous; a file that interleaves parts
    is stably sorted by part_id first, so each part still decodes whole."""
    pids = tbl.column("part_id").to_pylist()
    bounds = [0] + [j for j in range(1, len(pids)) if pids[j] != pids[j - 1]]
    if len(bounds) > len(set(pids)):
        tbl = tbl.sort_by("part_id")
        pids = tbl.column("part_id").to_pylist()
        bounds = [0] + [j for j in range(1, len(pids)) if pids[j] != pids[j - 1]]
    for s, e in zip(bounds, bounds[1:] + [len(pids)]):
        if s < e:
            yield pids[s], tbl.slice(s, e - s)


# the chunk statistics every pruned read plans on: tokens blocks carry
# the first three and stat_min/stat_max, generic blocks all of them.  No
# payload, bitset or page blob enters the index
_META_COLS = (
    "part_id", "column", "n_rows", "n_nulls",
    "stat_min", "stat_max", "stat_min_str", "stat_max_str",
)

# path -> ((mtime_ns, size), *_block_index(path)); cleared when full
_BLOCK_INDEX: dict[str, tuple] = {}
_BLOCK_INDEX_MAX = 16_384


def _block_index(path: str) -> tuple:
    """({column: arrow type}, chunk-statistics rows, distinct part_ids) of
    one block file, read once per file version (mtime, size): one row per
    chunk holding the _META_COLS the file has, about the cost of the
    footer read.  The layout proof (_block_files), the tokens zone-map
    prune (decode_blocks_files_pruned) and every generic_codec pruned call
    on file-direct blocks plan from these rows."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    st = os.stat(path)
    version = (st.st_mtime_ns, st.st_size)
    hit = _BLOCK_INDEX.get(path)
    if hit is not None and hit[0] == version:
        return hit[1:]
    with pq.ParquetFile(path) as pf:
        types = {f.name: f.type for f in pf.schema_arrow}
        rows = pf.read(
            columns=[c for c in _META_COLS if c in types], use_threads=False
        )
    pids = pc.unique(rows.column("part_id")).to_pylist()
    if len(_BLOCK_INDEX) >= _BLOCK_INDEX_MAX:
        _BLOCK_INDEX.clear()
    _BLOCK_INDEX[path] = (version, types, rows, pids)
    return types, rows, pids


# the one refusal of a blocks DataFrame no decoder reads (_block_files)
_NOT_BLOCK_FILES = (
    "blocks must be a bare spark.read.parquet scan of local block files of "
    "this decoder's schema, each part's rows in one file: write the blocks "
    "with .write.parquet(dir) and pass spark.read.parquet(dir) (for a "
    "tokens blocks dir, decode_blocks_files(spark, dir), which first "
    "repairs an interrupted compaction)"
)


def _block_files(blocks: DataFrame, schema: pa.Schema) -> dict:
    """{file: (its part_ids, its _block_index rows)} of ``blocks``, a bare
    scan of local parquet files (local_parquet_scan_files) that all carry
    ``schema``'s fields (the reader's columns) with its types, and whose
    every part's rows lie in one file.  The one gate of every decode of a
    blocks DataFrame, proved on the driver from the cached _block_index
    whatever the writer or the file names; each file is statted and
    looked up once, and callers plan on the rows returned.  Any other
    blocks DataFrame raises _NOT_BLOCK_FILES: one filtered, joined,
    cached or repartitioned (parts span files), of the other block
    schema (the part_id types differ), or over an interrupted compaction
    (a visible cmp-* file next to one of its sources).  No file-count
    cap: at 4096 and 8192 one-part files (4 vCPUs) the file-direct
    decode_blocks and one-part pruned lookup cost less CPU than a
    groupBy decode, cold and cached."""
    paths = local_parquet_scan_files(blocks)
    if paths is None:
        raise ValueError(_NOT_BLOCK_FILES)
    owner, out = {}, {}
    try:
        for path in paths:
            types, rows, pids = _block_index(path)
            if any(types.get(f.name) != f.type for f in schema):
                raise ValueError(_NOT_BLOCK_FILES)
            for pid in pids:
                if owner.setdefault(pid, path) != path:
                    raise ValueError(_NOT_BLOCK_FILES)  # this part spans files
            out[path] = pids, rows
    except (OSError, pa.ArrowException) as e:
        raise ValueError(_NOT_BLOCK_FILES) from e  # unreadable or non-block file
    return out


# the blocks columns generic_codec._decode_fn reads, in both block schemas
_DECODE_COLS = (
    "part_id", "column", "codec", "params", "payload", "n_values", "n_rows",
    "checksum",
)
_DECODE_SCHEMA = pa.schema([f for f in _BLOCKS_ARROW_SCHEMA if f.name in _DECODE_COLS])


def read_block_file(task, schema: pa.Schema, decode, narrow=None):
    """The one file-direct read loop: the entry ``task`` = (path,
    filters) reads with pyarrow only ``schema``'s columns of the rows
    passing ``filters`` (every row when None: a pyarrow filter on part_id
    reads only the kept parts); part_runs splits them, and this yields
    ``decode`` of each part's rows.  A part never spans
    files (_block_files, or a blocks directory's writers), so each
    decodes whole.  ``narrow``, when given, runs first as
    ``narrow(path, filters)`` and returns the filters of the rows still
    worth reading, or None to read nothing more of the file.  Runs in a
    map_tasks task (_decode_block_files) or, for a small read, in the
    driver process (generic_codec._decode_parts)."""
    import pyarrow.parquet as pq

    path, where = task
    if narrow is not None and (where := narrow(path, where)) is None:
        return
    tbl = pq.read_table(path, columns=schema.names, filters=where, use_threads=False)
    for _, rows in part_runs(tbl):
        yield decode(rows)


def _decode_block_files(
    spark: SparkSession,
    plan: list[tuple],
    schema: pa.Schema = _DECODE_SCHEMA,
    decode=None,
    out_schema=DECODED_SCHEMA,
    narrow=None,
) -> DataFrame:
    """Every (path, filters) entry of ``plan`` read and decoded by
    read_block_file (with ``schema``, ``decode`` and ``narrow``; tokens
    blocks by default, through _tokens_decode) in map_tasks' tasks, as one
    DataFrame of ``out_schema``."""
    decode = decode or _tokens_decode()

    def read(task):
        for decoded in read_block_file(task, schema, decode, narrow):
            yield from decoded.to_batches()

    return map_tasks(spark, plan, read, out_schema)


def decode_blocks(blocks: DataFrame) -> DataFrame:
    """blocks DataFrame -> original tokens DataFrame (bit-identical rows).

    ``blocks`` must pass the one layout proof (_block_files: a bare local
    scan of tokens block files whose parts each lie in one file, whatever
    their names), else this raises ValueError.  Each file is read and
    decoded in map_tasks' tasks: the encoded payloads never cross an
    exchange (measured ~2x against a groupBy decode at the 10x bench
    scale; at 100 TB the saved payload shuffle is the job)."""
    files = _block_files(blocks, _DECODE_SCHEMA)
    return _decode_block_files(blocks.sparkSession, [(path, None) for path in files])


def decode_blocks_files_pruned(
    spark: SparkSession, blocks_path: str, column: str, lo: int, hi: int
) -> DataFrame:
    """Shuffle-free zone-map-pruned decode of a blocks directory: exactly
    the rows whose ``column`` matches — an ``n_tok`` in [lo, hi], or for
    ``tokens`` some token in [lo, hi].

    The driver plans the keep set from each file's cached zone-map rows
    (_block_index) with the generic reader's int classifier
    (generic_codec._range_keep: a bound that is not a number, or an int
    outside int64, raises before any file is read; a part with no tokens
    has no tokens statistics and is never kept, as none of its rows could
    match), and tasks run only for files holding a kept part,
    each reading and decoding just those parts' rows: no payload byte of
    a pruned part is read.  The decode task tests the rows with the same
    classifier's row tuples (generic_codec._decode_fn, through
    _tokens_decode) and ships only the matching ones; no filter runs
    after it.  At 100 TB with a range-clustered layout that is the
    difference between scanning the table and scanning the matching
    slice.
    """
    if column not in ("tokens", "n_tok"):
        raise ValueError(f"no block stats for column {column!r}")
    from .operators.generic_codec import _parts, _range_keep

    def keep(rows, _):
        return sorted(_parts(rows, _range_keep("int", rows, column, lo, hi)[0]))

    # bad bounds raise here, before any file is read
    prune = _range_keep("int", _BLOCKS_ARROW_SCHEMA.empty_table(), column, lo, hi)[1]
    return _decode_kept_parts(spark, blocks_path, keep, prune)


def _decode_kept_parts(
    spark: SparkSession, blocks_path: str, keep, prune=None
) -> DataFrame:
    """Decode, per file of a blocks directory, only the parts
    ``keep(index rows, part_ids)`` returns from the file's cached
    _block_index, to the rows ``prune`` matches (_tokens_decode); a file
    keeping none starts no task.  Interrupted compactions are repaired
    first (decode_blocks_files)."""
    _repair_compaction(blocks_path, conservative=True)
    plan = []
    for path in list_input_files(blocks_path):
        kept = keep(*_block_index(path)[1:])
        if kept:
            plan.append((path, [("part_id", "in", kept)]))
    return _decode_block_files(spark, plan, decode=_tokens_decode(prune))


def _part_file_key(part_id: str) -> str:
    """Input file key of a tokens part_id: f"{source}#{file_key}[.rgN]"
    -> file_key."""
    return part_id.rsplit("#", 1)[-1].split(".")[0]


def decode_current_blocks(
    spark: SparkSession, input_path: str, blocks_path: str
) -> DataFrame:
    """Shuffle-free decode of the blocks of the input's CURRENT file set.

    blocks/ accumulates history (incremental encodes, old snapshots of
    since-removed files); consumers that must mirror the input exactly —
    e.g. the encode job's --verify round-trip — decode through this.  The
    driver keeps, per block file, the part_ids (from its cached
    _block_index) whose input file is current, and the tasks read only
    those parts' rows (_decode_kept_parts, as decode_blocks_files_pruned
    does)."""
    keys = {file_key(f) for f in resolve_input_files(input_path)}
    return _decode_kept_parts(
        spark, blocks_path,
        lambda _, pids: [p for p in pids if _part_file_key(p) in keys],
    )


def decode_blocks_files(spark: SparkSession, blocks_path: str) -> DataFrame:
    """Shuffle-free decode of a blocks directory.

    Every encode task writes all column rows of its partitions contiguously
    into one parquet file, so a part never spans files: one decode task per
    file reads it with pyarrow and decodes part-by-part — the payload bytes
    never cross an exchange (a groupBy decode would shuffle the full
    compressed payload; at 100 TB that shuffle IS the decode job's cost).

    Every directory-reading entry point repairs interrupted compactions
    first: a crash between a bin's rename and its source deletes would
    otherwise serve that bin's rows TWICE until the next compact_blocks
    run (the sidecar protocol makes the repair exact — see
    _repair_compaction).
    """
    _repair_compaction(blocks_path, conservative=True)
    return _decode_block_files(
        spark, [(path, None) for path in list_input_files(blocks_path)]
    )


def compact_blocks(
    spark: SparkSession,
    blocks_path: str,
    target_bytes: int = 256 * 1024 * 1024,
) -> dict:
    """Small-files maintenance: bin-pack a blocks directory into
    ~``target_bytes`` parquet files (the Iceberg "rewrite data files"
    compaction analog; incremental encode_job runs produce one file per
    task, and at 10^5 input files the blocks dir inherits the small-files
    problem wholesale).

    Zero shuffle and zero decode: bins are planned driver-side from file
    sizes (metadata only); each bin task concatenates its source files
    whole with pyarrow and writes one ``cmp-<id>.parquet``.  Because whole
    files concatenate in order, decode_blocks_files' invariant — a part
    never spans files, its rows stay contiguous — is preserved, and the
    stat_min/stat_max zone maps ride along so pruned decode keeps working.
    decode_current_blocks keys on part_id VALUES, never on file names;
    resume finds a compacted task's key inside its cmp file
    (_compacted_task_keys) and still skips it.

    Crash safety: each bin writes a ``.cmp-<id>.parquet.srcs.json`` sidecar
    listing its source files before renaming the compacted file visible,
    then deletes sources, then the sidecar.  The tmp and the sidecar are
    dot-prefixed, so Spark's file index never lists an in-flight bin.  A
    crash between rename and source deletion would duplicate rows;
    ``_repair_compaction`` (run at the start of every compact_blocks)
    finishes the deletes from the sidecar instead.
    """
    _repair_compaction(blocks_path)
    files = [
        (f, os.stat(f).st_size)
        for f in list_input_files(blocks_path)
    ]
    # greedy consecutive bin-packing over the sorted listing; only bins
    # that actually merge >=2 files become tasks
    bins: list[list[str]] = []
    cur: list[str] = []
    acc = 0
    for f, sz in files:
        if cur and acc + sz > target_bytes:
            bins.append(cur)
            cur, acc = [], 0
        cur.append(f)
        acc += sz
    if cur:
        bins.append(cur)
    bins = [b for b in bins if len(b) >= 2]
    if not bins:
        return {"bins": 0, "files_removed": 0}

    def run(srcs):
        import pyarrow as pa
        import pyarrow.parquet as pq

        tables = [pq.read_table(p, use_threads=False) for p in srcs]
        out = pa.concat_tables(tables, promote_options="permissive")
        cid = hashlib.sha1(
            "".join(
                f"{os.path.basename(p)}:{os.path.getsize(p)}" for p in srcs
            ).encode()
        ).hexdigest()[:16]
        final = os.path.join(blocks_path, f"cmp-{cid}.parquet")
        sidecar = os.path.join(blocks_path, f".cmp-{cid}.parquet.srcs.json")
        tmp = os.path.join(blocks_path, f".cmp-{cid}.parquet.inprogress")
        # same payload-uncompressed policy as the blk writer
        pq.write_table(out, tmp, compression=_BLK_COMPRESSION)
        with open(sidecar, "w") as f:
            json.dump([os.path.basename(p) for p in srcs], f)
        os.rename(tmp, final)
        for p in srcs:
            os.remove(p)
        os.remove(sidecar)
        yield pa.record_batch({"n_files": pa.array([len(srcs)], type=pa.int64())})

    rows = map_tasks(spark, bins, run, "n_files long").collect()
    return {
        "bins": len(rows),
        "files_removed": int(sum(r["n_files"] for r in rows)),
    }


def _repair_compaction(blocks_path: str, conservative: bool = False) -> None:
    """Finish or roll back interrupted compaction bins (see compact_blocks).

    Sidecar present + compacted file present -> the rename happened: the
    compacted file is authoritative, delete any surviving sources.
    Sidecar present + no compacted file -> the bin never went visible:
    sources are authoritative, drop the sidecar (and any orphan tmp).

    ``conservative=True`` (the READ-path mode): only the forward half runs
    — finishing deletes for bins whose rename already happened (safe to
    race: once `final` exists its content is authoritative and the
    compactor would delete the same sources).  The rollback half (removing
    .inprogress tmps and dangling sidecars) is skipped, because against a
    LIVE compactor those are in-flight state, and deleting them would
    re-open the exact duplicate-rows window this protocol closes (tmp
    deleted under the compactor -> rename fails; sidecar deleted ->
    a later rename+crash leaves duplicates with no record to repair
    from).  compact_blocks itself runs the full repair under its
    single-maintenance-writer assumption."""
    try:
        names = os.listdir(blocks_path)
    except OSError:
        return
    for name in names:
        if name.endswith(".inprogress") and not conservative:
            try:
                os.remove(os.path.join(blocks_path, name))
            except OSError:
                pass
        if not name.endswith(".srcs.json"):
            continue
        sidecar = os.path.join(blocks_path, name)
        # .cmp-<id>.parquet.srcs.json -> cmp-<id>.parquet (lstrip also
        # resolves the undotted sidecars of older writers)
        final = os.path.join(blocks_path, name[: -len(".srcs.json")].lstrip("."))
        if os.path.exists(final):
            try:
                with open(sidecar) as f:
                    for src in json.load(f):
                        p = os.path.join(blocks_path, src)
                        if os.path.exists(p):
                            os.remove(p)
            except (OSError, json.JSONDecodeError):
                continue
        elif conservative:
            continue  # in-flight bin: not ours to roll back
        try:
            os.remove(sidecar)
        except OSError:
            pass


# ----------------------------------------------------- job with resume

def snapshot_of(path: str) -> str:
    """Snapshot id for lineage.

    Iceberg-lite tables (sources/iceberg_lite.py) use their manifest's
    current snapshot id — reads and resume are then pinned to the exact
    committed file set; bare parquet dirs fall back to a content hash of
    the listing (names + sizes).
    """
    from .sources.iceberg_lite import current_snapshot_id

    snap = current_snapshot_id(path)
    if snap is not None:
        return snap
    h = hashlib.sha1(path.encode())
    try:
        for name in sorted(os.listdir(path)):
            if not name.endswith(".parquet"):
                continue
            st = os.stat(os.path.join(path, name))
            h.update(f"{name}:{st.st_size}:{st.st_mtime_ns}".encode())
    except OSError:
        pass
    return h.hexdigest()[:16]


def _lineage_rollup(blocks_path: str, metrics_path: str) -> "pa.Table":
    """Rebuild metrics/ on the driver: one row per (part_id, source,
    snapshot_id) over the metadata columns of every block file (the payload
    is never read), written as one parquet file through a dot-prefixed temp
    and an atomic replace.  Older report files are removed after the
    replace, so metrics/ holds exactly one report.  Returns the report."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    keys = ["part_id", "source", "snapshot_id"]
    plain = ["n_rows", "raw_bytes", "enc_bytes", "encode_ms"]
    blocks = ds.dataset(
        list_input_files(blocks_path), schema=_BLOCKS_ARROW_SCHEMA, format="parquet"
    ).to_table(columns=keys + plain + ["column", "codec", "n_values", "checksum"])
    tokens = pc.equal(blocks["column"], "tokens")

    def of_tokens(col):
        return pc.if_else(tokens, blocks[col], pa.scalar(None, blocks[col].type))

    aggs = {
        "n_rows": "max", "n_tokens": "max", "raw_bytes": "sum",
        "enc_bytes": "sum", "tokens_codec": "max", "checksum": "max",
        "encode_ms": "max",
    }
    report = (
        blocks.select(keys + plain)
        .append_column("n_tokens", of_tokens("n_values"))
        .append_column("tokens_codec", of_tokens("codec"))
        .append_column("checksum", of_tokens("checksum"))
        .group_by(keys, use_threads=False)
        .aggregate(list(aggs.items()))
        .select(keys + [f"{c}_{a}" for c, a in aggs.items()])
        .rename_columns(METRICS_SCHEMA.names)
        .cast(METRICS_SCHEMA)
    )
    os.makedirs(metrics_path, exist_ok=True)
    tmp = os.path.join(metrics_path, ".lineage.parquet.inprogress")
    pq.write_table(report, tmp)
    os.replace(tmp, os.path.join(metrics_path, "lineage.parquet"))
    for name in os.listdir(metrics_path):
        if name.endswith(".parquet") and name != "lineage.parquet":
            os.remove(os.path.join(metrics_path, name))
    return report


def encode_job(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    with_ref_baseline: bool = False,
) -> dict:
    """Resumable encode job: encode the tasks whose blocks are not yet
    committed, then snapshot blocks/ and rebuild metrics/ — one Spark job.

    Zero-shuffle, python-native scan (encode_table_files_native): one task
    per input file or row-group range, workers read parquet via pyarrow and
    write their own blk-*.parquet — no JVM decode / Arrow IPC double pass.
    Resume needs no record of its own: a task whose blk file exists or whose
    rows sit in a cmp-* file is skipped by the writer, so a re-run after a
    crash at any point encodes exactly the missing tasks.  The commit runs
    on the driver: write_snapshot, then _lineage_rollup reads the blocks'
    metadata columns with pyarrow, and the returned totals come from that
    report.

    Layout under output_path:
        blocks/   parquet, one blk-<task key>.parquet per task (+ cmp-* after
                  compact_blocks), committed as an iceberg-lite snapshot;
                  the files themselves are the resume record
        metrics/  lineage.parquet, the per-part lineage report rebuilt from
                  blocks/ each run (never read back by the engine)
    """
    import pyarrow.compute as pc

    from .sources.iceberg_lite import write_snapshot

    blocks_path = os.path.join(output_path, "blocks")
    snapshot_id = snapshot_of(input_path)
    cur_files = resolve_input_files(input_path)
    # finish any compaction bin whose rename landed before its source
    # deletes: the snapshot and the rollup below then see each block row
    # exactly once (every block file here is an atomic, content-addressed
    # blk-*/cmp-* write, so this is the only duplicate-row window)
    _repair_compaction(blocks_path, conservative=True)

    meta = encode_table_files_native(
        spark, input_path, blocks_path, snapshot_id, with_ref_baseline,
        files=cur_files,
    )
    # execute: workers write blk-*.parquet themselves; the returned part
    # ids are the parts this run encoded (part_ids are content-addressed
    # per file, so parts of unchanged files stay committed across snapshots)
    written = {r[0] for r in meta.select("part_id").collect()}
    write_snapshot(blocks_path)  # commit the blocks dir as a snapshot
    report = _lineage_rollup(blocks_path, os.path.join(output_path, "metrics"))

    # totals over the CURRENT file set: parts encoded under earlier
    # snapshots count if their file is still in the table; parts of
    # removed files do not (the same rule as decode_current_blocks)
    cur_keys = {file_key(f) for f in cur_files}
    current = report.filter(
        pa.array(
            [_part_file_key(p) in cur_keys for p in report["part_id"].to_pylist()],
            pa.bool_(),
        )
    )

    def total(col):
        return int(pc.sum(current[col]).as_py() or 0)

    return {
        "snapshot_id": snapshot_id,
        "partitions": current.num_rows,
        "rows": total("n_rows"),
        "tokens": total("n_tokens"),
        "raw_bytes": total("raw_bytes"),
        "enc_bytes": total("enc_bytes"),
        "resumed_skipped": current.num_rows - len(written),
    }
