"""Blocks-directory compaction (the Iceberg "rewrite data files" analog):
bin-packing, decode equivalence (per-file decode of a compacted
directory included), zone-map preservation, crash repair,
in-flight bins hidden from Spark, files rewritten in place after
compaction, and resume over them."""

import json
import os

import pytest
from pyspark.sql import functions as F

from parquet_python_spark.engine import (
    compact_blocks,
    decode_blocks,
    decode_blocks_files,
    decode_blocks_files_pruned,
    encode_table_files_native,
    list_input_files,
)
from parquet_python_spark.tokengen import generate_tokens_df

N_ROWS = 600
SEED = 9


def _rows(df):
    rows = df.select("doc_id", "tokens", "n_tok", "source").collect()
    return sorted(
        ((r["doc_id"], tuple(r["tokens"]), r["n_tok"], r["source"]) for r in rows)
    )


def _sidecar(cmp_path):
    """Path of a compaction bin's source-list sidecar."""
    d, name = os.path.split(cmp_path)
    return os.path.join(d, f".{name}.srcs.json")


def _tmp(cmp_path):
    """Path of a compaction bin's in-progress temp."""
    d, name = os.path.split(cmp_path)
    return os.path.join(d, f".{name}.inprogress")


@pytest.fixture()
def blocks_dir(spark, tmp_path):
    df = generate_tokens_df(spark, N_ROWS, SEED)
    inp = str(tmp_path / "inp")
    df.repartition(8).write.parquet(inp)
    bdir = str(tmp_path / "blocks")
    encode_table_files_native(spark, inp, bdir, snapshot_id="t").count()
    return inp, bdir


def test_compact_reduces_files_and_preserves_decode(spark, blocks_dir):
    inp, bdir = blocks_dir
    want = _rows(decode_blocks_files(spark, bdir))
    n_before = len(list_input_files(bdir))
    stats = compact_blocks(spark, bdir, target_bytes=1 << 30)
    n_after = len(list_input_files(bdir))
    assert stats["bins"] >= 1 and stats["files_removed"] >= 2
    assert n_after < n_before
    assert _rows(decode_blocks_files(spark, bdir)) == want


def test_compacted_dir_decodes_per_file(spark, blocks_dir):
    """decode_blocks over a bare scan of a compacted directory keeps the
    shuffle-free per-file path: a cmp-* file is a whole-file concatenation
    of blk-* files, so each part is still one contiguous run."""
    inp, bdir = blocks_dir
    compact_blocks(spark, bdir, target_bytes=1 << 30)
    names = [os.path.basename(f) for f in list_input_files(bdir)]
    assert any(n.startswith("cmp-") for n in names)
    decoded = decode_blocks(spark.read.parquet(bdir))
    plan = decoded._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "FlatMapGroupsInArrow" not in plan
    assert _rows(decoded) == _rows(spark.read.parquet(inp))


def test_compact_preserves_zone_map_pruning(spark, tmp_path):
    df = generate_tokens_df(spark, N_ROWS, SEED)
    inp = str(tmp_path / "inp")
    df.repartitionByRange(6, "n_tok").write.parquet(inp)
    bdir = str(tmp_path / "blocks")
    encode_table_files_native(spark, inp, bdir, snapshot_id="t").count()
    want = _rows(df.filter(F.col("n_tok").between(16, 32)))
    compact_blocks(spark, bdir, target_bytes=1 << 30)
    got = _rows(decode_blocks_files_pruned(spark, bdir, "n_tok", 16, 32))
    assert got == want and len(want) > 0


def test_compact_respects_target_bytes(spark, blocks_dir):
    _inp, bdir = blocks_dir
    sizes = [os.path.getsize(f) for f in list_input_files(bdir)]
    # a target just above the largest file forces multiple bins
    target = max(sizes) + 1
    compact_blocks(spark, bdir, target_bytes=target)
    assert len(list_input_files(bdir)) > 1


def test_repair_finishes_interrupted_bin(spark, blocks_dir):
    """cmp file renamed visible but sources not yet deleted -> repair
    deletes the sources instead of double-counting their rows."""
    inp, bdir = blocks_dir
    want = _rows(decode_blocks_files(spark, bdir))
    compact_blocks(spark, bdir, target_bytes=1 << 30)
    cmp_files = [
        f for f in list_input_files(bdir) if os.path.basename(f).startswith("cmp-")
    ]
    assert cmp_files
    # simulate the crash window: re-create a sidecar claiming a source that
    # still exists (copy one cmp file back out as a fake leftover source)
    leftover = os.path.join(bdir, "blk-leftover.parquet")
    import shutil

    shutil.copy(cmp_files[0], leftover)
    with open(_sidecar(cmp_files[0]), "w") as f:
        json.dump([os.path.basename(leftover)], f)
    # next compaction repairs first: leftover source removed, rows not doubled
    compact_blocks(spark, bdir, target_bytes=1 << 30)
    assert not os.path.exists(leftover)
    assert _rows(decode_blocks_files(spark, bdir)) == want


def test_repair_rolls_back_invisible_bin(spark, blocks_dir):
    """Sidecar without a visible cmp file -> sources stay authoritative."""
    inp, bdir = blocks_dir
    want = _rows(decode_blocks_files(spark, bdir))
    srcs = [os.path.basename(f) for f in list_input_files(bdir)[:2]]
    ghost = os.path.join(bdir, "cmp-deadbeef.parquet")
    with open(_sidecar(ghost), "w") as f:
        json.dump(srcs, f)
    with open(_tmp(ghost), "w") as f:
        f.write("junk")
    compact_blocks(spark, bdir, target_bytes=1 << 30)
    assert not os.path.exists(_sidecar(ghost))
    assert not os.path.exists(_tmp(ghost))
    assert _rows(decode_blocks_files(spark, bdir)) == want


def test_stale_generation_rewritten_inside_compacted(spark, tmp_path):
    """After compaction, re-encoding an input file rewritten in place must
    not double-count.  The new mtime gives the file a new file key, so its
    old rows inside the cmp file are history: the current view filters
    them out."""
    import time as _time

    from parquet_python_spark.engine import decode_current_blocks, encode_job

    df = generate_tokens_df(spark, N_ROWS, SEED)
    inp = str(tmp_path / "inp")
    df.repartition(4).write.parquet(inp)
    out = str(tmp_path / "enc")
    encode_job(spark, inp, out)
    bdir = os.path.join(out, "blocks")
    compact_blocks(spark, bdir, target_bytes=1 << 30)

    # rewrite one input file in place (same name, new mtime -> new file key)
    victim = sorted(
        f for f in os.listdir(inp) if f.endswith(".parquet")
    )[0]
    vpath = os.path.join(inp, victim)
    _time.sleep(0.01)
    os.utime(vpath)

    encode_job(spark, inp, out)
    # the rewritten file's old generation is history (new file key); the
    # CURRENT view must hold exactly one generation of every row, including
    # rows that now live inside cmp files
    cur = decode_current_blocks(spark, inp, bdir)
    assert _rows(cur) == _rows(df)
    assert cur.count() == N_ROWS
    # read file-direct: no exchange moves a payload
    assert "Exchange" not in cur._jdf.queryExecution().executedPlan().toString()


def _visible_rows(spark, bdir):
    """Rows as every Spark reader of the blocks dir counts them."""
    blocks = spark.read.parquet(bdir).filter(F.col("column") == "doc_id")
    return int(blocks.agg(F.sum("n_rows")).collect()[0][0])


def test_resume_after_compaction_skips_everything(spark, tmp_path):
    """Compaction must not invalidate the resume checkpoint: a re-run over
    the unchanged input encodes zero new partitions (keys found in cmp)."""
    from parquet_python_spark.engine import encode_job

    df = generate_tokens_df(spark, N_ROWS, SEED)
    inp = str(tmp_path / "inp")
    df.repartition(4).write.parquet(inp)
    out = str(tmp_path / "enc")
    m1 = encode_job(spark, inp, out)
    bdir = os.path.join(out, "blocks")
    compact_blocks(spark, bdir, target_bytes=1 << 30)
    m2 = encode_job(spark, inp, out)
    assert m2["resumed_skipped"] == m1["partitions"]
    assert _rows(decode_blocks_files(spark, bdir)) == _rows(df)


def test_encode_job_rerun_repairs_interrupted_bin(spark, tmp_path):
    """A crash between a compaction bin's rename and its source deletes
    leaves the cmp file, its sidecar and its blk sources all visible.  A
    re-run of encode_job must repair that state before it commits and rolls
    up: nothing re-encodes, and every part is counted exactly once."""
    import shutil

    from parquet_python_spark.engine import encode_job

    df = generate_tokens_df(spark, N_ROWS, SEED)
    inp = str(tmp_path / "inp")
    df.repartition(4).write.parquet(inp)
    out = str(tmp_path / "enc")
    m1 = encode_job(spark, inp, out)
    bdir = os.path.join(out, "blocks")
    saved = str(tmp_path / "saved")
    os.makedirs(saved)
    srcs = [os.path.basename(f) for f in list_input_files(bdir)]
    for name in srcs:
        shutil.copy(os.path.join(bdir, name), saved)
    compact_blocks(spark, bdir, target_bytes=1 << 30)
    (cmp_file,) = list_input_files(bdir)
    # the crash window: sources back in place, sidecar still naming them
    for name in srcs:
        shutil.copy(os.path.join(saved, name), bdir)
    with open(_sidecar(cmp_file), "w") as f:
        json.dump(srcs, f)

    m2 = encode_job(spark, inp, out)
    assert m2["rows"] == N_ROWS
    assert m2["resumed_skipped"] == m2["partitions"] == m1["partitions"]
    assert m2["raw_bytes"] == m1["raw_bytes"]
    assert m2["enc_bytes"] == m1["enc_bytes"]
    metrics = spark.read.parquet(os.path.join(out, "metrics"))
    assert metrics.count() == metrics.select("part_id").distinct().count()
    assert list_input_files(bdir) == [cmp_file]
    assert _rows(decode_blocks_files(spark, bdir)) == _rows(df)


def test_read_path_repair_is_conservative(spark, blocks_dir):
    """Readers finish completed bins (dedup) but never touch in-flight
    state: a live compactor's .inprogress tmp and dangling sidecar must
    survive a concurrent read, while a completed bin's leftover sources
    are removed before rows are served twice."""
    import shutil

    inp, bdir = blocks_dir
    want = _rows(decode_blocks_files(spark, bdir))
    compact_blocks(spark, bdir, target_bytes=1 << 30)
    cmp_files = [
        f for f in list_input_files(bdir)
        if os.path.basename(f).startswith("cmp-")
    ]
    assert cmp_files

    # simulate a LIVE compactor mid-bin: tmp + sidecar, no final yet
    ghost = os.path.join(bdir, "cmp-feedface.parquet")
    with open(_sidecar(ghost), "w") as f:
        json.dump([os.path.basename(list_input_files(bdir)[0])], f)
    with open(_tmp(ghost), "w") as f:
        f.write("live")

    # and a completed bin whose source deletes were interrupted
    leftover = os.path.join(bdir, "blk-leftover2.parquet")
    shutil.copy(cmp_files[0], leftover)
    with open(_sidecar(cmp_files[0]), "w") as f:
        json.dump([os.path.basename(leftover)], f)

    got = _rows(decode_blocks_files(spark, bdir))
    # completed bin healed on the read path: no double rows
    assert got == want
    assert not os.path.exists(leftover)
    # in-flight bin untouched by the read path
    assert os.path.exists(_tmp(ghost))
    assert os.path.exists(_sidecar(ghost))
    # the maintenance path (full repair) then rolls it back
    compact_blocks(spark, bdir, target_bytes=1 << 30)
    assert not os.path.exists(_tmp(ghost))
    assert not os.path.exists(_sidecar(ghost))


class _InProcessSession:
    """Runs compact_blocks' bin tasks in this process (its
    ``range(n).mapInArrow(fn).collect()``), where monkeypatch reaches them;
    map_tasks reads the core count from ``sparkContext``."""

    class sparkContext:
        defaultParallelism = 1

    def range(self, n, numPartitions=None):
        import pyarrow as pa

        self.ids = pa.record_batch({"id": pa.array(range(n), pa.int64())})
        return self

    def mapInArrow(self, fn, schema):
        self.fn = fn
        return self

    def collect(self):
        return [r for b in self.fn(iter([self.ids])) for r in b.to_pylist()]


def test_inflight_bin_stays_invisible(spark, tmp_path, monkeypatch):
    """A compactor stopped after writing a bin's complete tmp and its
    sidecar, before the rename: no Spark reader of the blocks dir lists
    either file, so every row is counted once, the current view decodes to
    the input and encode_job commits over it."""
    from parquet_python_spark.engine import decode_current_blocks, encode_job

    df = generate_tokens_df(spark, N_ROWS, SEED)
    inp = str(tmp_path / "inp")
    df.repartition(4).write.parquet(inp)
    out = str(tmp_path / "enc")
    encode_job(spark, inp, out)
    bdir = os.path.join(out, "blocks")

    real_rename = os.rename

    def crash_on_cmp(src, dst):
        if os.path.basename(dst).startswith("cmp-"):
            raise OSError("simulated crash before the bin's rename")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_on_cmp)
    with pytest.raises(OSError, match="simulated crash"):
        compact_blocks(_InProcessSession(), bdir, target_bytes=1 << 30)
    monkeypatch.undo()

    def inflight():
        return sorted(
            n for n in os.listdir(bdir)
            if n.endswith(".inprogress") or n.endswith(".srcs.json")
        )

    planted = inflight()
    assert len(planted) == 2  # the bin's tmp and its sidecar
    assert _visible_rows(spark, bdir) == N_ROWS
    assert _rows(decode_current_blocks(spark, inp, bdir)) == _rows(df)
    assert encode_job(spark, inp, out)["rows"] == N_ROWS
    assert inflight() == planted  # the read path leaves in-flight state alone


def test_compact_preserves_chunk_stats_and_bloom(spark, tmp_path):
    """Round-4: per-chunk metadata survives compaction byte-for-byte —
    both the stat_min/stat_max zone maps and the generic-codec bloom
    bitsets — and both prune paths still return exact rows at the same
    selectivity on the compacted table."""
    from parquet_python_spark.operators.generic_codec import (
        _arrow_safe_schema,
        decode_df_pruned,
        decode_df_pruned_eq,
        encode_df,
    )

    df = spark.range(20_000).select(
        F.col("id").alias("k"), (F.col("id") % 911).alias("v")
    )
    kinds = {"k": "int", "v": "int"}
    bdir = str(tmp_path / "gc_blocks")
    # repartition by part_id so the write lands as several files (AQE
    # otherwise coalesces this tiny blocks table into one file and
    # compaction has nothing to merge); generic blocks decode groups by
    # part_id values, so file layout is free to choose
    encode_df(df, "k", kinds, n_parts=8, partitioning="range").repartition(
        4, "part_id"
    ).write.parquet(bdir)

    def meta_map(blocks):
        return {
            (r["part_id"], r["column"]): (
                r["stat_min"],
                r["stat_max"],
                None if r["bloom"] is None else bytes(r["bloom"]),
            )
            for r in blocks.select(
                "part_id", "column", "stat_min", "stat_max", "bloom"
            ).collect()
        }

    before = meta_map(spark.read.parquet(bdir))
    n_files_before = len(list_input_files(bdir))
    stats = compact_blocks(spark, bdir, target_bytes=1 << 30)
    assert stats["files_removed"] >= 2
    assert len(list_input_files(bdir)) < n_files_before
    blocks = spark.read.parquet(bdir)
    assert meta_map(blocks) == before  # stats AND bitsets byte-identical

    out_schema = _arrow_safe_schema(df.select(*kinds).schema, kinds)
    # range prune on the compacted table: exact rows
    dec = decode_df_pruned(blocks, "k", kinds, out_schema, "k", 500, 900)
    got = sorted(
        tuple(r) for r in dec.filter(F.col("k").between(500, 900)).collect()
    )
    exp = sorted(tuple(r) for r in df.filter(F.col("k").between(500, 900)).collect())
    assert got == exp
    # same selectivity as pre-compaction (stats rows intact per part)
    kept = blocks.filter(
        (F.col("column") == "k") & (F.col("stat_max") >= 500) & (F.col("stat_min") <= 900)
    ).count()
    assert kept < blocks.filter(F.col("column") == "k").count()
    # bloom point lookup on the compacted table: exact rows
    dec_eq = decode_df_pruned_eq(blocks, "k", kinds, out_schema, "k", 12_345)
    got_eq = sorted(tuple(r) for r in dec_eq.filter(F.col("k") == 12_345).collect())
    exp_eq = sorted(tuple(r) for r in df.filter(F.col("k") == 12_345).collect())
    assert got_eq == exp_eq and len(got_eq) == 1


def test_decode_blocks_single_layout_gate(spark, blocks_dir, monkeypatch):
    """decode_blocks reads a bare scan file-direct exactly when the one
    layout proof (engine._block_files) holds, and raises otherwise.  An
    in-flight bin (a dangling sidecar, no cmp-* file) stays file-direct;
    a visible cmp-* file next to one of its sources holds parts twice and
    raises, while decode_blocks_files repairs the compaction first and
    returns the input's rows; a block file rewritten in place is indexed
    again; a generic blocks directory raises; past one file per core the
    file tasks bundle."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark import SparkContext

    from parquet_python_spark.engine import _DECODE_SCHEMA, _block_files
    from parquet_python_spark.operators.generic_codec import encode_df

    _, bdir = blocks_dir
    want = _rows(decode_blocks_files(spark, bdir))
    files = list_input_files(bdir)
    assert len(files) == 8

    def frame():
        return decode_blocks(spark.read.parquet(bdir))

    def file_direct(df) -> bool:
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        return "MapInArrow" in plan and "FlatMapGroupsInArrow" not in plan

    refused = pytest.raises(ValueError, match=r"write\.parquet\(dir\)")
    sidecar = os.path.join(bdir, ".cmp-0123456789abcdef.parquet.srcs.json")
    with open(sidecar, "w") as f:
        json.dump([os.path.basename(p) for p in files[:2]], f)
    assert file_direct(frame()) and _rows(frame()) == want
    os.remove(sidecar)

    # an interrupted compaction: the bin is visible, one source survives
    saved = [os.path.join(os.path.dirname(bdir), f"saved{i}.parquet") for i in (0, 1)]
    for src, dst in zip(files, saved):
        shutil.copy2(src, dst)
    cmp = os.path.join(bdir, "cmp-0123456789abcdef.parquet")
    pq.write_table(pa.concat_tables([pq.read_table(p) for p in files[:2]]), cmp)
    with open(sidecar, "w") as f:
        json.dump([os.path.basename(p) for p in files[:2]], f)
    os.remove(files[1])
    with refused:
        frame()
    # the directory decode finishes the bin first: its surviving source
    # and sidecar go, and the cmp-* file holds both sources' parts
    assert _rows(decode_blocks_files(spark, bdir)) == want
    assert not os.path.exists(files[0]) and not os.path.exists(sidecar)
    assert file_direct(frame()) and _rows(frame()) == want
    os.remove(cmp)
    for src, dst in zip(saved, files):
        shutil.copy2(src, dst)
    assert file_direct(frame()) and _rows(frame()) == want

    # rewritten in place: files[0] now also holds files[1]'s parts
    original = pq.read_table(files[0])
    pq.write_table(pa.concat_tables([original, pq.read_table(files[1])]), files[0])
    with refused:
        frame()
    pq.write_table(original, files[0])
    assert file_direct(frame()) and _rows(frame()) == want

    gdir = os.path.join(os.path.dirname(bdir), "generic")
    encode_df(
        spark.range(1_000).withColumnRenamed("id", "k"), "k", {"k": "int"}, n_parts=2
    ).write.parquet(gdir)
    generic = spark.read.parquet(gdir)
    with refused:
        _block_files(generic, _DECODE_SCHEMA)
    with refused:
        decode_blocks(generic)

    for cores in (4, 1):  # 8 files, one task per core
        monkeypatch.setattr(
            SparkContext, "defaultParallelism", property(lambda sc: cores)
        )
        for dec in (decode_blocks_files(spark, bdir), frame()):
            assert dec.rdd.getNumPartitions() == cores
            assert _rows(dec) == want


def test_pruned_decode_plans_on_driver(spark, blocks_dir):
    """decode_blocks_files_pruned plans from the cached zone-map rows: a
    task runs only for a file holding a kept part, and a window no part
    reaches runs none."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    _, bdir = blocks_dir
    lo, hi = 131_067, 131_070  # the top of the random profile's ids

    def holds(path):
        t = pq.read_table(path, columns=["column", "stat_min", "stat_max"])
        t = t.filter(pc.equal(t.column("column"), "tokens"))
        hit = pc.and_(
            pc.greater_equal(t.column("stat_max"), lo),
            pc.less_equal(t.column("stat_min"), hi),
        )
        return pc.any(hit).as_py()

    kept = sum(holds(p) for p in list_input_files(bdir))
    dec = decode_blocks_files_pruned(spark, bdir, "tokens", lo, hi)
    assert 0 < kept < 8 and dec.rdd.getNumPartitions() == kept
    none = decode_blocks_files_pruned(spark, bdir, "tokens", -5, -1)
    assert none.rdd.getNumPartitions() == 0 and none.count() == 0
