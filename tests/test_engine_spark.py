"""End-to-end Spark engine tests: encode -> blocks -> decode bit-identity,
skew task splitting, resume from committed block files, the lineage
report and encode_job's single Spark job, size gate (north-rule
correctness gates)."""

import os

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from parquet_python_spark.engine import (
    decode_blocks,
    encode_job,
    encode_table_files_native,
)
from parquet_python_spark.tokengen import generate_tokens_df

N_ROWS = 800
SEED = 42


@pytest.fixture(scope="module")
def tokens_df(spark):
    df = generate_tokens_df(spark, N_ROWS, SEED).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def source_blocks(spark, tokens_df, tmp_path_factory):
    """Blocks with exactly one chunk per source: the table written as one
    input file, encoded once (with the reference size baseline)."""
    base = tmp_path_factory.mktemp("one_file")
    inp = str(base / "inp")
    tokens_df.coalesce(1).write.parquet(inp)
    blocks_dir = str(base / "blocks")
    encode_table_files_native(
        spark, inp, blocks_dir, snapshot_id="t", with_ref_baseline=True
    ).count()
    return spark.read.parquet(blocks_dir)


def _set_cells(tbl, i, **values):
    """``tbl`` with row ``i``'s cells of the named columns replaced."""
    for name, value in values.items():
        col = tbl.column(name).to_pylist()
        col[i] = value
        tbl = tbl.set_column(
            tbl.schema.get_field_index(name), name,
            pa.array(col, type=tbl.schema.field(name).type),
        )
    return tbl


def _as_sorted_rows(df):
    rows = df.select("doc_id", "tokens", "n_tok", "source").collect()
    return sorted(
        ((r["doc_id"], tuple(r["tokens"]), r["n_tok"], r["source"]) for r in rows)
    )


def test_tokengen_deterministic_across_parallelism(spark):
    a = generate_tokens_df(spark, 200, SEED, partitions=2)
    b = generate_tokens_df(spark, 200, SEED, partitions=7)
    assert _as_sorted_rows(a) == _as_sorted_rows(b)


def test_tokengen_invariants(tokens_df):
    bad = tokens_df.filter(F.size("tokens") != F.col("n_tok")).count()
    assert bad == 0
    sources = {r["source"] for r in tokens_df.select("source").distinct().collect()}
    assert sources == {"lowcard", "runny", "narrow", "texty", "random"}


def test_encode_decode_bit_identity(tokens_df, source_blocks):
    """North-rule gate: engine encode -> decode reproduces every token array
    bit-identically."""
    decoded = decode_blocks(source_blocks)
    assert _as_sorted_rows(decoded) == _as_sorted_rows(tokens_df)


def test_size_gate_vs_reference_dict(source_blocks):
    """Compressed tokens size <= the reference's RLE/dict output on every
    partition (ref_dict_bytes is the reference wire format size computed on
    the identical values)."""
    rows = source_blocks.filter(F.col("column") == "tokens").select(
        "part_id", "codec", "enc_bytes", "ref_dict_bytes"
    ).collect()
    assert rows
    for r in rows:
        assert r["enc_bytes"] <= r["ref_dict_bytes"], (
            r["part_id"], r["codec"], r["enc_bytes"], r["ref_dict_bytes"],
        )


def test_selector_matches_profiles(source_blocks):
    """Codec auto-selection per source matches FIXTURES.md expectations."""
    picks = {
        r["source"]: r["codec"]
        for r in source_blocks.filter(F.col("column") == "tokens")
        .select("source", "codec")
        .collect()
    }
    assert picks["runny"] == "rle"
    assert picks["narrow"] == "for"
    assert picks["lowcard"] == "dict"
    assert picks["random"] in ("bitpack", "for")
    assert picks["texty"] in ("fsst", "dict")


def test_encode_files_and_decode_files_bit_identity(spark, tokens_df, tmp_path):
    """File-direct encode (python-native scan) + shuffle-free decode
    round-trip."""
    from parquet_python_spark.engine import decode_blocks_files

    inp = str(tmp_path / "ftokens")
    tokens_df.repartition(5).write.parquet(inp)
    blocks_dir = str(tmp_path / "fblocks")
    encode_table_files_native(spark, inp, blocks_dir, snapshot_id="t").count()

    decoded_f = decode_blocks_files(spark, blocks_dir)
    assert _as_sorted_rows(decoded_f) == _as_sorted_rows(spark.read.parquet(inp))


def test_encode_job_resume(spark, tokens_df, tmp_path):
    """Checkpoint/resume: a second run over the same snapshot encodes zero
    new partitions; blocks stay complete and decodable."""
    inp = str(tmp_path / "input")
    out = str(tmp_path / "encoded")
    tokens_df.write.parquet(inp)

    m1 = encode_job(spark, inp, out)
    assert m1["resumed_skipped"] == 0
    assert m1["rows"] == N_ROWS

    m2 = encode_job(spark, inp, out)
    assert m2["resumed_skipped"] == m1["partitions"]
    assert m2["rows"] == N_ROWS  # no duplicates from the rerun

    blocks = spark.read.parquet(os.path.join(out, "blocks"))
    decoded = decode_blocks(blocks)
    src = spark.read.parquet(inp)
    assert _as_sorted_rows(decoded) == _as_sorted_rows(src)


def test_encode_job_resumes_from_block_files(spark, tokens_df, tmp_path):
    """The block files are the resume record.  A crash after every task
    committed its blk file but before the snapshot and metrics were written
    re-runs without encoding anything; a lost blk file re-encodes only its
    own task's parts."""
    import pyarrow.parquet as pq

    from parquet_python_spark.engine import (
        decode_blocks_files,
        list_input_files,
        snapshot_of,
    )

    inp = str(tmp_path / "input")
    out = str(tmp_path / "encoded")
    tokens_df.repartition(4).write.parquet(inp)
    bdir = os.path.join(out, "blocks")
    encode_table_files_native(spark, inp, bdir, snapshot_id=snapshot_of(inp)).count()

    def mtimes():
        return {f: os.stat(f).st_mtime_ns for f in list_input_files(bdir)}

    before = mtimes()
    m1 = encode_job(spark, inp, out)
    assert m1["rows"] == N_ROWS
    assert m1["resumed_skipped"] == m1["partitions"] > 0
    assert mtimes() == before  # no blk file rewritten
    metrics = spark.read.parquet(os.path.join(out, "metrics"))
    assert metrics.count() == m1["partitions"]
    assert metrics.select("part_id").distinct().count() == m1["partitions"]

    lost = sorted(before)[0]
    lost_parts = set(
        pq.read_table(lost, columns=["part_id"]).column("part_id").to_pylist()
    )
    os.remove(lost)
    m2 = encode_job(spark, inp, out)
    assert m2["partitions"] == m1["partitions"]
    assert m2["resumed_skipped"] == m1["partitions"] - len(lost_parts)
    after = mtimes()
    assert after.keys() == before.keys()
    assert {f: t for f, t in after.items() if f != lost} == {
        f: t for f, t in before.items() if f != lost
    }
    decoded = decode_blocks_files(spark, bdir)
    assert _as_sorted_rows(decoded) == _as_sorted_rows(spark.read.parquet(inp))


def test_metrics_lineage_columns(spark, tokens_df, tmp_path):
    inp = str(tmp_path / "input")
    out = str(tmp_path / "encoded")
    tokens_df.write.parquet(inp)
    encode_job(spark, inp, out)
    m = spark.read.parquet(os.path.join(out, "metrics"))
    cols = set(m.columns)
    assert {
        "part_id", "source", "snapshot_id", "n_rows", "n_tokens",
        "raw_bytes", "enc_bytes", "tokens_codec", "checksum", "encode_ms",
    } <= cols
    assert m.filter(F.col("snapshot_id") == "").count() == 0


def _metrics_oracle(blocks):
    """The per-part rollup as a Spark groupBy over every block row (the
    lineage report's definition)."""
    tokens = F.col("column") == "tokens"
    return blocks.groupBy("part_id", "source", "snapshot_id").agg(
        F.max("n_rows").alias("n_rows"),
        F.max(F.when(tokens, F.col("n_values"))).alias("n_tokens"),
        F.sum("raw_bytes").alias("raw_bytes"),
        F.sum("enc_bytes").alias("enc_bytes"),
        F.max(F.when(tokens, F.col("codec"))).alias("tokens_codec"),
        F.max(F.when(tokens, F.col("checksum"))).alias("checksum"),
        F.max("encode_ms").alias("encode_ms"),
    )


def test_metrics_match_spark_rollup(spark, tokens_df, tmp_path):
    """metrics/ equals the Spark groupBy over blocks/ row for row on all ten
    columns, across compaction, an appended input file and the history rows
    of a rewritten one; an older report in metrics/ is replaced, not
    appended to."""
    import time

    from parquet_python_spark.engine import compact_blocks

    inp = str(tmp_path / "input")
    out = str(tmp_path / "encoded")
    bdir = os.path.join(out, "blocks")
    mdir = os.path.join(out, "metrics")
    tokens_df.repartition(4).write.parquet(inp)
    encode_job(spark, inp, out)
    compact_blocks(spark, bdir, target_bytes=1 << 30)
    _metrics_oracle(spark.read.parquet(bdir)).write.mode("overwrite").parquet(mdir)

    first = sorted(f for f in os.listdir(inp) if f.endswith(".parquet"))[0]
    tokens_df.limit(50).write.mode("append").parquet(inp)
    time.sleep(0.01)
    os.utime(os.path.join(inp, first))  # new file key: old rows are history
    m = encode_job(spark, inp, out)

    cols = [
        "part_id", "source", "snapshot_id", "n_rows", "n_tokens",
        "raw_bytes", "enc_bytes", "tokens_codec", "checksum", "encode_ms",
    ]
    got = spark.read.parquet(mdir)
    assert got.columns == cols
    want = sorted(tuple(r) for r in _metrics_oracle(spark.read.parquet(bdir)).collect())
    assert sorted(tuple(r) for r in got.collect()) == want
    assert len({r[2] for r in want}) >= 2  # rows of more than one snapshot
    assert m["rows"] == N_ROWS + 50
    assert m["partitions"] < len(want)  # history rows are reported, not totalled


def test_encode_job_is_one_spark_job(spark, tokens_df, tmp_path):
    """A fresh encode runs one Spark job and a no-op resume runs none: the
    snapshot and the lineage report are committed on the driver."""
    import time

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    inp = str(tmp_path / "input")
    out = str(tmp_path / "encoded")
    tokens_df.repartition(4).write.parquet(inp)

    def jobs_of(group):
        sc.setJobGroup(group, group)
        try:
            encode_job(spark, inp, out)
        finally:
            # a marker job after the call: the listener bus delivers events
            # in order, so once the marker is seen finished, so is the group
            sc.setJobGroup(group + "-marker", "marker")
            sc.parallelize([0], 1).count()
            sc.setLocalProperty("spark.jobGroup.id", None)
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            marker = [
                tracker.getJobInfo(j)
                for j in tracker.getJobIdsForGroup(group + "-marker")
            ]
            if marker and all(i is not None and i.status == "SUCCEEDED" for i in marker):
                break
            time.sleep(0.05)
        return list(tracker.getJobIdsForGroup(group))

    assert len(jobs_of("encode-fresh")) == 1
    assert len(jobs_of("encode-resume")) == 0


def test_decode_detects_corruption(spark, source_blocks, tmp_path):
    """A block file rewritten on disk with one payload byte flipped, of a
    tokens chunk or of a doc_id chunk, fails the decode's crc32 check."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from parquet_python_spark.engine import local_parquet_scan_files

    for column in ("tokens", "doc_id"):
        bad = tmp_path / f"bad-{column}"
        bad.mkdir()
        for f in local_parquet_scan_files(source_blocks):
            shutil.copy(f, bad)
        victim = str(next(bad.iterdir()))
        tbl = pq.read_table(victim)
        row = pc.index(tbl.column("column"), column).as_py()
        flipped = bytearray(tbl.column("payload")[row].as_py())
        flipped[len(flipped) // 2] ^= 0xFF
        pq.write_table(_set_cells(tbl, row, payload=bytes(flipped)), victim)
        with pytest.raises(Exception, match="checksum mismatch"):
            decode_blocks(spark.read.parquet(str(bad))).collect()


def test_files_mode_splits_large_files_by_row_group(spark, tmp_path, monkeypatch):
    """Skew defense: a file bigger than _MAX_TASK_BYTES becomes several
    row-group-range tasks with content-addressed sub-keys."""
    import parquet_python_spark.engine as engine
    from parquet_python_spark.engine import _plan_file_tasks, list_input_files
    from parquet_python_spark.tokengen import generate_tokens_df

    monkeypatch.setattr(engine, "_MAX_TASK_BYTES", 96 * 1024)
    inp = str(tmp_path / "big")
    # one file, several small row groups
    (generate_tokens_df(spark, 600, 11, partitions=1)
        .coalesce(1).write.option("parquet.block.size", 64 * 1024).parquet(inp))
    files = list_input_files(inp)
    assert len(files) == 1
    tasks = _plan_file_tasks(files)
    assert len(tasks) > 1
    assert all(t[0].count(".rg") == 1 for t in tasks)

    blocks_dir = str(tmp_path / "blocks")
    encode_table_files_native(spark, inp, blocks_dir, snapshot_id="t").count()
    # every row-group-range task wrote its own block file
    assert len(list_input_files(blocks_dir)) == len(tasks)
    decoded = decode_blocks(spark.read.parquet(blocks_dir))
    src = spark.read.parquet(inp)
    assert _as_sorted_rows(decoded) == _as_sorted_rows(src)



# ------------------------------------------------- zone-map pruned decode

def test_block_stats_present(source_blocks):
    """Every int-column block row carries min/max zone-map stats."""
    rows = source_blocks.filter(F.col("column").isin("tokens", "n_tok")).select(
        "column", "stat_min", "stat_max"
    ).collect()
    assert rows
    for r in rows:
        assert r["stat_min"] is not None and r["stat_min"] <= r["stat_max"]
    # string columns carry no int stats
    s = source_blocks.filter(F.col("column") == "doc_id").select("stat_min").collect()
    assert all(r["stat_min"] is None for r in s)


@pytest.fixture(scope="module")
def clustered_blocks(spark, tokens_df, tmp_path_factory):
    """tokens table range-clustered by n_tok -> selective zone maps."""
    base = tmp_path_factory.mktemp("pruned")
    inp = str(base / "inp")
    tokens_df.repartitionByRange(6, "n_tok").write.parquet(inp)
    blocks_dir = str(base / "blocks")
    encode_table_files_native(spark, inp, blocks_dir, snapshot_id="t").count()
    return inp, blocks_dir


def test_decode_pruned_ntok_exact_and_selective(spark, tokens_df, clustered_blocks):
    from parquet_python_spark.engine import decode_blocks_files_pruned

    _inp, blocks_dir = clustered_blocks
    blocks = spark.read.parquet(blocks_dir)
    lo, hi = 16, 32
    want = _as_sorted_rows(tokens_df.filter(F.col("n_tok").between(lo, hi)))
    got = _as_sorted_rows(
        decode_blocks_files_pruned(spark, blocks_dir, "n_tok", lo, hi)
    )
    assert got == want and len(want) > 0

    # the zone maps actually prune: surviving parts < total parts
    stats = blocks.filter(F.col("column") == "n_tok")
    total = stats.select("part_id").distinct().count()
    surviving = stats.filter(
        (F.col("stat_max") >= lo) & (F.col("stat_min") <= lo + 16)
    ).select("part_id").distinct().count()
    assert surviving < total


def test_decode_files_pruned_matches_shuffled(spark, tokens_df, clustered_blocks):
    """The per-file pruned decode returns the same rows as the full decode
    of the whole blocks table, filtered afterwards."""
    from parquet_python_spark.engine import decode_blocks_files_pruned

    _inp, blocks_dir = clustered_blocks
    lo, hi = 16, 32
    want = _as_sorted_rows(tokens_df.filter(F.col("n_tok").between(lo, hi)))
    full = decode_blocks(spark.read.parquet(blocks_dir))
    assert _as_sorted_rows(full.filter(F.col("n_tok").between(lo, hi))) == want
    got = _as_sorted_rows(
        decode_blocks_files_pruned(spark, blocks_dir, "n_tok", lo, hi)
    )
    assert got == want


def test_decode_pruned_token_value_range(spark, tokens_df, clustered_blocks):
    """Pruning on token VALUES: keep rows containing a token in [lo, hi];
    blocks whose token range misses it are skipped wholesale."""
    from parquet_python_spark.engine import decode_blocks_files_pruned

    _inp, blocks_dir = clustered_blocks
    lo, hi = 0, 3
    want = _as_sorted_rows(
        tokens_df.filter(F.exists("tokens", lambda t: (t >= lo) & (t <= hi)))
    )
    got = _as_sorted_rows(
        decode_blocks_files_pruned(spark, blocks_dir, "tokens", lo, hi)
    )
    assert got == want


def test_decode_files_pruned_rows_exact_in_task(
    spark, tokens_df, tmp_path, monkeypatch
):
    """The decode tasks return exactly the rows of a plain Spark filter of
    the input, on token values and on n_tok, with no Filter after them in
    the plan; a row with no tokens matches no token range, and neither
    does a part whose rows all have none (it has no tokens statistics).
    A column without block stats, a bound that is not a number and an int
    bound outside int64 raise before any index or file is read."""
    import pyarrow.parquet as pq

    from parquet_python_spark import engine
    from parquet_python_spark.engine import decode_blocks_files_pruned

    source = tokens_df.first()["source"]
    # "empty-1" is the one row of its source: a part with zero tokens
    empty = spark.createDataFrame(
        [("empty-0", [], 0, source), ("empty-1", [], 0, "zz-no-tokens")],
        tokens_df.schema,
    )
    empties = {"empty-0", "empty-1"}
    inp = str(tmp_path / "inp")
    tokens_df.unionByName(empty).coalesce(2).write.parquet(inp)
    src = spark.read.parquet(inp)
    blocks_dir = str(tmp_path / "blocks")
    encode_table_files_native(spark, inp, blocks_dir, snapshot_id="t").count()
    meta = pq.read_table(blocks_dir, columns=["part_id", "column", "stat_min"])
    assert [
        r["stat_min"] for r in meta.to_pylist()
        if r["column"] == "tokens" and r["part_id"].startswith("zz-no-tokens#")
    ] == [None]

    cases = [
        ("tokens", 0, 3, F.exists("tokens", lambda t: (t >= 0) & (t <= 3))),
        ("n_tok", 0, 20, F.col("n_tok").between(0, 20)),
    ]
    for column, lo, hi, cond in cases:
        want = _as_sorted_rows(src.filter(cond))
        dec = decode_blocks_files_pruned(spark, blocks_dir, column, lo, hi)
        plan = dec._sc._jvm.PythonSQLUtils.explainString(
            dec._jdf.queryExecution(), "formatted"
        )
        assert "Filter" not in plan, plan
        got = _as_sorted_rows(dec)
        assert got == want and 0 < len(want) < N_ROWS + 2
        assert {r[0] for r in got} & empties == (
            empties if column == "n_tok" else set()
        )

    def no_read(*args, **kwargs):
        raise AssertionError("read before the column check")

    monkeypatch.setattr(engine, "_block_index", no_read)
    monkeypatch.setattr(engine, "list_input_files", no_read)
    monkeypatch.setattr(engine, "_repair_compaction", no_read)
    with pytest.raises(ValueError, match="no block stats"):
        decode_blocks_files_pruned(spark, blocks_dir, "doc_id", 0, 1)
    with pytest.raises(ValueError, match="numeric bounds"):
        decode_blocks_files_pruned(spark, blocks_dir, "tokens", "0", "9")
    with pytest.raises(ValueError, match="outside the int64 range"):
        decode_blocks_files_pruned(spark, blocks_dir, "n_tok", 0, 2**63)


def test_decode_pruned_empty_range(spark, clustered_blocks):
    from parquet_python_spark.engine import decode_blocks_files_pruned

    _inp, blocks_dir = clustered_blocks
    assert (
        decode_blocks_files_pruned(spark, blocks_dir, "n_tok", -10, -5).count()
        == 0
    )


def test_decode_blocks_fast_path_zero_payload_shuffle(spark, tokens_df, tmp_path):
    """decode_blocks over a bare scan of engine-written blk files takes
    the shuffle-free per-file path (no FlatMapGroupsInArrow / no payload
    exchange) and returns the input's rows; any other input raises.  No
    decoder in the package groups by part_id: only encode_df does."""
    inp = str(tmp_path / "tok")
    out = str(tmp_path / "enc")
    tokens_df.write.parquet(inp)
    encode_job(spark, inp, out)
    blocks = spark.read.parquet(os.path.join(out, "blocks"))

    fast = decode_blocks(blocks)
    fast_plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInArrow" not in fast_plan  # shuffle-free path taken
    assert "MapInArrow" in fast_plan

    assert _as_sorted_rows(fast) == _as_sorted_rows(spark.read.parquet(inp))
    with pytest.raises(ValueError, match=r"write\.parquet\(dir\)"):
        decode_blocks(blocks.filter(F.col("n_rows") >= 0))  # not bare

    import ast
    import pathlib

    import parquet_python_spark

    grouping = []
    for path in pathlib.Path(parquet_python_spark.__file__).parent.rglob("*.py"):
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, ast.FunctionDef):
                continue
            grouping += [
                (path.name, fn.name) for call in ast.walk(fn)
                if isinstance(call, ast.Call)
                and getattr(call.func, "attr", None) == "groupBy"
                and any(
                    isinstance(a, ast.Constant) and a.value == "part_id"
                    for a in call.args
                )
            ]
    assert grouping == [("generic_codec.py", "encode_df")], grouping


def test_decode_blocks_fast_path_percent_decodes_paths(spark, tokens_df, tmp_path):
    """Spark lists files as percent-encoded file: URIs; a blocks dir whose
    path holds a space must still resolve to local files and take the
    shuffle-free path; a non-local URI is refused."""
    from parquet_python_spark.engine import local_parquet_scan_files, local_path

    assert local_path("file:///a%20b/c%25d.parquet") == "/a b/c%d.parquet"
    with pytest.raises(ValueError):
        local_path("s3a://bucket/blocks/blk-x.parquet")

    inp = str(tmp_path / "tok")
    tokens_df.repartition(3).write.parquet(inp)
    blocks_dir = str(tmp_path / "blocks dir%20x")
    encode_table_files_native(spark, inp, blocks_dir, snapshot_id="t").count()
    blocks = spark.read.parquet(blocks_dir)
    files = local_parquet_scan_files(blocks)
    assert files and all(os.path.isfile(f) for f in files)
    assert all(os.path.dirname(f) == blocks_dir for f in files)

    fast = decode_blocks(blocks)
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInArrow" not in plan
    assert _as_sorted_rows(fast) == _as_sorted_rows(spark.read.parquet(inp))


def test_map_tasks_freezes_each_worker_heap_once(spark):
    """A worker freezes its heap after its first map_tasks task, and only
    then: a worker that already ran one reports one fixed freeze count in
    every later job, and the driver freezes nothing."""
    import gc

    from parquet_python_spark.engine import map_tasks

    def report(_):
        import gc
        import os

        import pyarrow as pa

        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "frozen": [gc.get_freeze_count()]}
        )

    tasks = list(range(2 * spark.sparkContext.defaultParallelism))
    assert gc.get_freeze_count() == 0
    ran, frozen = set(), {}
    for _ in range(4):
        got = map_tasks(spark, tasks, report, "pid long, frozen long").collect()
        assert len(got) == len(tasks)
        for pid, count in got:
            if pid in ran:  # its first task here has ended: frozen once
                assert count > 0 and count == frozen.setdefault(pid, count)
        ran |= {pid for pid, _ in got}
    assert frozen  # workers are reused across jobs
    assert gc.get_freeze_count() == 0


# ------------------------------------------- the tokens readers' edge cases

# one part per source: rows with no tokens beside others, a one-row part,
# and a part whose tokens zone map [10, 1000] spans the window [400, 600]
# that none of its rows meets (its decode takes the all-false early exit)
_EDGE_ROWS = [
    ("e0", [], 0, "edge-empty"),
    ("e1", [7, 8], 2, "edge-empty"),
    ("e2", [], 0, "edge-empty"),
    ("o0", [500, 501, 502], 3, "edge-one"),
    ("g0", [10, 1000], 2, "edge-gap"),
    ("g1", [20, 990], 2, "edge-gap"),
    ("g2", [30], 1, "edge-gap"),
]
_EDGE_WINDOWS = [
    ("n_tok", 0, 0),  # the empty lists only
    ("n_tok", 2, 3),
    ("tokens", 7, 8),
    ("tokens", 400, 600),  # kept edge-gap part with no matching row
    ("tokens", 10**8, 10**8 + 5),  # a window no part meets
]


@pytest.fixture(scope="module")
def edge_dirs(spark, tokens_df, tmp_path_factory):
    """(input dir, blocks dir, compacted copy of the blocks dir): the edge
    rows and the generated table as two input files, encoded by
    encode_job into two blk-* files that compact_blocks folds into one
    cmp-* file in the copy."""
    import shutil

    from parquet_python_spark.engine import compact_blocks

    base = tmp_path_factory.mktemp("edges")
    inp = str(base / "inp")
    spark.createDataFrame(_EDGE_ROWS, tokens_df.schema).coalesce(1).write.parquet(inp)
    tokens_df.coalesce(1).write.mode("append").parquet(inp)
    encode_job(spark, inp, str(base / "out"))
    blocks = str(base / "out" / "blocks")
    compacted = str(base / "compacted")
    shutil.copytree(blocks, compacted)
    assert compact_blocks(spark, compacted) == {"bins": 1, "files_removed": 2}
    assert [n for n in os.listdir(compacted) if n.endswith(".parquet")][0].startswith("cmp-")
    return inp, blocks, compacted


@pytest.mark.parametrize("layout", ["blk", "cmp"])
def test_tokens_readers_edge_cases(spark, edge_dirs, layout):
    """All four tokens readers return exactly the rows of a Spark filter of
    the input, typed as DECODED_SCHEMA, over blk-* and compacted cmp-*
    block files: rows with no tokens, a one-row part, an n_tok window, a
    token window that a part's zone map keeps but none of its rows meets,
    and a token window no part meets."""
    from parquet_python_spark.engine import (
        DECODED_SCHEMA,
        decode_blocks_files,
        decode_blocks_files_pruned,
        decode_current_blocks,
    )

    inp, blk, cmp = edge_dirs
    blocks = blk if layout == "blk" else cmp
    src = spark.read.parquet(inp)
    full = _as_sorted_rows(src)
    for dec in (
        decode_blocks(spark.read.parquet(blocks)),
        decode_blocks_files(spark, blocks),
        decode_current_blocks(spark, inp, blocks),
    ):
        assert dec.schema == DECODED_SCHEMA
        assert _as_sorted_rows(dec) == full
    for column, lo, hi in _EDGE_WINDOWS:
        cond = (
            F.col("n_tok").between(lo, hi) if column == "n_tok"
            else F.exists("tokens", lambda t: (t >= lo) & (t <= hi))
        )
        dec = decode_blocks_files_pruned(spark, blocks, column, lo, hi)
        assert dec.schema == DECODED_SCHEMA
        got = _as_sorted_rows(dec)
        assert got == _as_sorted_rows(src.filter(cond)), (column, lo, hi)
        if (column, lo) == ("n_tok", 0):
            assert {r[0] for r in got} == {"e0", "e2"}
        if (column, lo) == ("tokens", 400):
            ids = {r[0] for r in got}
            assert "o0" in ids and not ids & {"g0", "g1", "g2"}
        if lo == 10**8:
            assert got == []


def test_tokens_decode_kept_part_without_match_exits_early(edge_dirs):
    """The edge-gap part's tokens zone map keeps the window [400, 600] and
    none of its rows meets it: the decode of its block rows returns an
    empty table of DECODED_SCHEMA's Arrow types without decoding any other
    column, so a corrupt doc_id payload there goes unread."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from parquet_python_spark.engine import (
        _DECODE_SCHEMA,
        DECODED_SCHEMA,
        _tokens_decode,
        list_input_files,
    )

    _, blocks, _ = edge_dirs
    rows = pa.concat_tables(
        pq.read_table(f, columns=_DECODE_SCHEMA.names + ["stat_min", "stat_max"])
        for f in list_input_files(blocks)
    )
    rows = rows.filter(pc.starts_with(rows.column("part_id"), "edge-gap#"))
    stats = rows.filter(pc.equal(rows.column("column"), "tokens")).to_pylist()
    assert [(r["stat_min"], r["stat_max"]) for r in stats] == [(10, 1000)]
    doc = pc.index(rows.column("column"), "doc_id").as_py()
    flipped = bytes(b ^ 0xFF for b in rows.column("payload")[doc].as_py())
    rows = _set_cells(rows, doc, payload=flipped).select(_DECODE_SCHEMA.names)
    out = _tokens_decode([("tokens", 400, 600)])(rows)
    assert out.num_rows == 0 and out.schema == to_arrow_schema(DECODED_SCHEMA)
    with pytest.raises(ValueError, match="checksum mismatch in doc_id"):
        _tokens_decode()(rows)


def test_tokens_decode_refuses_a_part_past_int32_offsets():
    """A part whose n_tok chunk sums to 2^31 tokens or more raises before
    its tokens chunk decodes: int32 list offsets would wrap."""
    import zlib

    import pyarrow.compute as pc

    from parquet_python_spark.codecs import encode_column, params_to_json
    from parquet_python_spark.engine import (
        _DECODE_SCHEMA,
        _encode_partition_table,
        _tokens_decode,
    )

    tbl = pa.table({
        "doc_id": ["a", "b"],
        "tokens": pa.array([[1], [2]], type=pa.list_(pa.int32())),
        "n_tok": pa.array([1, 1], type=pa.int32()),
        "source": ["s", "s"],
    })
    rows = _encode_partition_table(tbl, "t", False, "s#x").select(_DECODE_SCHEMA.names)
    codec, params, payload, _ = encode_column(np.array([2**31 - 1, 1]), "int")
    rows = _set_cells(
        rows, pc.index(rows.column("column"), "n_tok").as_py(),
        codec=codec, params=params_to_json(params), payload=payload,
        checksum=zlib.crc32(payload),
    )
    with pytest.raises(ValueError, match="2\\^31"):
        _tokens_decode()(rows)
