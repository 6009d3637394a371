"""Block-level min/max statistics + predicate-pruned decode.

The reference parses parquet Statistics{min,max} but never consults them
(parquet.thrift:198-206, SURVEY.md §4); here they actually skip blocks.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def keyed_df(spark):
    return spark.range(20_000).select(
        F.col("id").alias("k"),
        (F.col("id") * 7 % 1000).alias("v"),
        F.concat(F.lit("row"), F.col("id").cast("string")).alias("s"),
    )


# the row step the multi-thousand-row inputs below are sized in: their
# chunks span several such steps and their predicates fall inside one
ROWS = 4096


def test_blocks_carry_minmax_stats(spark, keyed_df, written):
    from parquet_python_spark.operators.generic_codec import encode_df

    blocks = written(encode_df(
        keyed_df, "k", {"k": "int", "v": "int", "s": "str"},
        n_parts=8, partitioning="range",
    ))
    stats = {
        (r["part_id"], r["column"]): (r["stat_min"], r["stat_max"])
        for r in blocks.collect()
    }
    # int chunks have stats; string chunks don't
    assert all(
        stats[(p, c)][0] is not None
        for (p, c) in stats
        if c in ("k", "v")
    )
    assert all(stats[(p, c)][0] is None for (p, c) in stats if c == "s")
    # range partitioning: per-part key ranges are disjoint and ordered
    k_ranges = sorted(v for (p, c), v in stats.items() if c == "k")
    for (lo1, hi1), (lo2, hi2) in zip(k_ranges, k_ranges[1:]):
        assert hi1 < lo2


def test_pruned_decode_exact_and_selective(spark, keyed_df, written):
    from parquet_python_spark.operators.generic_codec import (
        decode_df_pruned,
        encode_df,
        _arrow_safe_schema,
    )

    kinds = {"k": "int", "v": "int", "s": "str"}
    blocks = written(encode_df(
        keyed_df, "k", kinds, n_parts=16, partitioning="range"
    ))
    lo, hi = 5_000, 6_000
    out_schema = _arrow_safe_schema(keyed_df.select(*kinds).schema, kinds)
    dec = decode_df_pruned(blocks, "k", kinds, out_schema, "k", lo, hi)
    # superset semantics: everything in [lo, hi] present after exact filter
    got = sorted(
        (r["k"], r["v"], r["s"])
        for r in dec.filter((F.col("k") >= lo) & (F.col("k") <= hi)).collect()
    )
    exp = sorted(
        (r["k"], r["v"], r["s"])
        for r in keyed_df.filter((F.col("k") >= lo) & (F.col("k") <= hi)).collect()
    )
    assert got == exp
    # selectivity: only blocks overlapping [lo, hi] were decoded
    decoded_parts = dec.select().count()  # rows decoded across kept parts
    kept = (
        blocks.filter(
            (F.col("column") == "k")
            & (F.col("stat_max") >= lo)
            & (F.col("stat_min") <= hi)
        ).count()
    )
    total = blocks.filter(F.col("column") == "k").count()
    assert kept < total  # pruning actually skipped blocks
    assert decoded_parts < 20_000  # and decode touched a strict subset of rows


def test_roundtrip_filtered_end_to_end(spark, keyed_df):
    from parquet_python_spark.operators.generic_codec import roundtrip_filtered

    out = roundtrip_filtered(
        keyed_df, "k", {"k": "int", "v": "int", "s": "str"},
        [("range", "k", 100, 250)],
    )
    got = sorted((r["k"], r["v"], r["s"]) for r in out.collect())
    exp = sorted(
        (r["k"], r["v"], r["s"])
        for r in keyed_df.filter((F.col("k") >= 100) & (F.col("k") <= 250)).collect()
    )
    assert got == exp


def test_pruned_decode_rejects_non_numeric_pred(spark, keyed_df):
    # r5: str predicates are now SUPPORTED (truncated string zone maps) —
    # but only with str bounds; int bounds on a str column stay loud
    from parquet_python_spark.operators.generic_codec import roundtrip_filtered

    with pytest.raises(ValueError, match="str bounds"):
        roundtrip_filtered(
            keyed_df, "k", {"k": "int", "s": "str"}, [("range", "s", 0, 10)]
        ).collect()


def test_range_partitioning_empty_input(spark, keyed_df, written):
    """Empty input encodes to no block row; written, the blocks table is
    one empty part file, which every decoder reads: zero rows, and a
    zero count from the metadata."""
    from parquet_python_spark.operators.generic_codec import (
        _arrow_safe_schema,
        count_filtered_meta,
        decode_df_pruned,
        decode_df_pruned_multi,
        encode_df,
    )

    kinds = {"k": "int", "v": "int"}
    empty = keyed_df.filter("k < 0")
    blocks = encode_df(empty, "k", kinds, n_parts=4, partitioning="range")
    assert blocks.count() == 0
    blocks = written(blocks)
    out_schema = _arrow_safe_schema(empty.select(*kinds).schema, kinds)
    assert decode_df_pruned_multi(
        blocks, "k", kinds, out_schema, [("notnull", "k")]
    ).count() == 0
    assert decode_df_pruned(blocks, "k", kinds, out_schema, "k", 1, 5).count() == 0
    assert count_filtered_meta(blocks, kinds, "k", 1, 5).first()["cnt"] == 0


# ------------------------------------------------ bloom equality pruning

def test_bloom_kernel_no_false_negatives_low_fp():
    import numpy as np

    from parquet_python_spark.operators.generic_codec import (
        bloom_build,
        bloom_might_contain,
    )

    rng = np.random.default_rng(17)
    vals = rng.integers(-(2**40), 2**40, 5000)
    blob = bloom_build(vals)
    assert blob is not None
    for v in vals[:500]:
        assert bloom_might_contain(blob, int(v))  # never a false negative
    absent = rng.integers(2**41, 2**42, 2000)
    fp = sum(bloom_might_contain(blob, int(v)) for v in absent)
    assert fp / len(absent) < 0.05, fp
    # cardinality cap: huge-card chunks return None (no index)
    assert bloom_build(np.arange(200_000)) is None


def test_bloom_pruned_equality_roundtrip(spark):
    """Point lookup through the bloom-pruned decode: exact rows, and the
    bloom+stats metadata actually prunes partitions for a rare key."""
    from pyspark.sql import functions as F

    from parquet_python_spark.operators.generic_codec import (
        bloom_might_contain,
        encode_df,
        roundtrip_filtered,
    )

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    kinds = {"l_orderkey": "int", "l_partkey": "int", "l_linenumber": "int"}
    # point lookup on the (range-)partitioning key: the value lives in
    # exactly one partition, and the zone maps and Bloom filters together
    # admit fewer partitions than exist (test_bloom_rejected_part_decodes_nothing
    # covers the filters on their own).
    value = int(li.select("l_orderkey").first()["l_orderkey"])

    got = roundtrip_filtered(
        li, "l_orderkey", kinds, [("eq", "l_orderkey", value)]
    )
    exp = li.select(*kinds).filter(F.col("l_orderkey") == value)
    a = sorted(tuple(r) for r in got.collect())
    b = sorted(tuple(r) for r in exp.collect())
    assert a == b and len(a) >= 1

    # pruning evidence: the filters admit fewer partitions than exist
    # (exactness of `got` above already proves no false negatives)
    blocks = encode_df(li, "l_orderkey", kinds, n_parts=8)
    meta = blocks.filter(F.col("column") == "l_orderkey").select(
        "part_id", "bloom", "stat_min", "stat_max"
    ).collect()
    admitted = [
        r["part_id"]
        for r in meta
        if (r["stat_min"] is None or r["stat_min"] <= value <= r["stat_max"])
        and (r["bloom"] is None or bloom_might_contain(bytes(r["bloom"]), value))
    ]
    assert len(admitted) < len(meta), (len(admitted), len(meta))


def test_bloom_prune_is_executor_side(spark, tmp_path, monkeypatch, pred_row_expr):
    """The driver never holds Bloom bitsets: the metadata table of an eq
    plan and of an IN plan (the block index) holds only the chunk
    statistics (_META_COLS), no binary column and no per-chunk hit
    column: the membership test runs in the read task."""
    import pyarrow as pa

    from parquet_python_spark.operators import generic_codec as gc

    df = spark.range(10_000).select(
        F.col("id").alias("k"),
        (F.col("id") * 3 % 500).alias("v"),
        F.concat(F.lit("s"), (F.col("id") % 300).cast("string")).alias("s"),
    )
    kinds = {"k": "int", "v": "int", "s": "str"}
    path = str(tmp_path / "blocks")
    gc.encode_df(df, "k", kinds, n_parts=4).write.parquet(path)
    # the bitsets exist on the blocks side
    assert spark.read.parquet(path).filter(
        F.col("column").isin("v", "s") & F.col("bloom").isNotNull()
    ).count() == 8
    real = gc._chunk_meta
    out_schema = gc._arrow_safe_schema(df.select(*kinds).schema, kinds)
    preds = [("in", "s", ["s1", "s2"]), ("in", "v", [3, 6])]
    blocks = spark.read.parquet(path)
    seen = []

    def spy(*args, **kwargs):
        seen.append(real(*args, **kwargs))
        return seen[-1]

    monkeypatch.setattr(gc, "_chunk_meta", spy)
    eq = gc.decode_df_pruned_eq(blocks, "k", kinds, out_schema, "v", 42)
    multi = gc.decode_df_pruned_multi(blocks, "k", kinds, out_schema, preds)
    monkeypatch.undo()
    assert [m.num_rows for _, m in seen] == [4, 8]
    for _, meta in seen:
        assert meta.column_names == list(gc._META_COLS)
        assert not any(
            pa.types.is_binary(t) or pa.types.is_large_binary(t)
            or pa.types.is_boolean(t)
            for t in meta.schema.types
        ), meta.schema
    for dec, row_pred in (
        (eq, F.col("v") == 42),
        (multi, pred_row_expr(gc._normalize_preds(preds))),
    ):
        got = sorted(tuple(r) for r in dec.filter(row_pred).collect())
        want = sorted(tuple(r) for r in df.filter(row_pred).collect())
        assert got == want and got


def test_bloom_build_flag_off_and_conservative_decode(spark, written):
    """Chunks with more than BLOOM_MAX_CARD distinct values carry no
    bitset, and the eq prune degrades conservatively over them (keeps
    every stats-admitted partition, exact rows)."""
    from pyspark.sql import functions as F

    from parquet_python_spark.operators.generic_codec import (
        BLOOM_MAX_CARD,
        _arrow_safe_schema,
        _pred_keeps,
        decode_df_pruned_eq,
        encode_df,
    )

    n = 3 * BLOOM_MAX_CARD
    df = spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") * 3 % 500).alias("v"),
        # a permutation of [0, n) (40_507 is prime to n): each range part
        # of k holds values from the whole span
        (F.col("id") * 40_507 % n).alias("u"),
    )
    kinds = {"k": "int", "v": "int", "u": "int"}
    blocks = written(encode_df(df, "k", kinds, n_parts=2))
    # ~98k distinct k and u values per chunk, over the cap -> no bitset;
    # the 500-value column still gets one
    assert blocks.filter(
        F.col("column").isin("k", "u") & F.col("bloom").isNotNull()
    ).count() == 0
    assert blocks.filter(
        (F.col("column") == "v") & F.col("bloom").isNotNull()
    ).count() == 2
    # both chunks span u's range, and no bitset can rule either out
    assert _pred_keeps(blocks, kinds, [("eq", "u", 1234)])[1][0][0] == {0, 1}
    out_schema = _arrow_safe_schema(df.select(*kinds).schema, kinds)
    dec = decode_df_pruned_eq(blocks, "k", kinds, out_schema, "u", 1234)
    got = sorted(tuple(r) for r in dec.filter(F.col("u") == 1234).collect())
    exp = sorted(tuple(r) for r in df.filter(F.col("u") == 1234).collect())
    assert got == exp and len(got) == 1


def test_bloom_build_shortcircuit_cases():
    """Over-cap chunks skip the full sort via the strided lower bound;
    low-cardinality chunks above the row threshold still build filters."""
    import numpy as np

    from parquet_python_spark.operators.generic_codec import (
        BLOOM_MAX_CARD,
        bloom_build,
        bloom_might_contain,
    )

    n = 2 * BLOOM_MAX_CARD + 50_000
    assert bloom_build(np.arange(n)) is None  # unique keys: over cap
    low = np.arange(n) % 1000  # big chunk, 1000 distinct: filter built
    blob = bloom_build(low)
    assert blob is not None
    assert bloom_might_contain(blob, 999)
    assert not bloom_might_contain(blob, 10**9 + 7)


def test_filtered_blocks_cache_union_consumes_both(spark):
    """Regression (round-3 ADVICE): a driver query that lazily unions a
    range round-trip and an eq round-trip must not have the second call
    evict the first's persisted blocks before the union is collected."""
    from pyspark.sql import functions as F

    from parquet_python_spark.operators.generic_codec import roundtrip_filtered

    df = spark.range(20_000).select(
        F.col("id").alias("k"), (F.col("id") % 700).alias("v")
    )
    kinds = {"k": "int", "v": "int"}
    rng_half = roundtrip_filtered(df, "k", kinds, [("range", "k", 100, 200)])
    eq_half = roundtrip_filtered(df, "k", kinds, [("eq", "k", 15_000)])
    got = sorted(tuple(r) for r in rng_half.unionAll(eq_half).collect())
    exp = sorted(
        tuple(r)
        for r in df.filter(
            ((F.col("k") >= 100) & (F.col("k") <= 200)) | (F.col("k") == 15_000)
        ).collect()
    )
    assert got == exp


def test_filtered_results_outlive_later_calls(spark, monkeypatch):
    """Each roundtrip_filtered call's blocks stay on disk until the driver
    exits: eight results (more than the six the old persisted-blocks
    registry kept) are built before any is collected, then collected
    newest first, and each equals a plain Spark filter.  The returned
    plan reads the block files directly: no group-by decode, exchange or
    cached-blocks scan.  These are lazy job plans (a driver-decode budget
    of 0 rows): a lookup answered on the driver reads its files when it
    is called."""
    import parquet_python_spark.operators.generic_codec as gc
    from parquet_python_spark.operators.generic_codec import roundtrip_filtered

    monkeypatch.setattr(gc, "_DRIVER_DECODE_BUDGET", 0)

    kinds = {"k": "int", "v": "int"}
    built = []
    for i in range(8):
        # a distinct input per call
        df = spark.range(2_000 + i).select(
            F.col("id").alias("k"), (F.col("id") % 13).alias("v")
        )
        lo, hi = 100 * i, 100 * i + 150
        out = roundtrip_filtered(df, "k", kinds, [("range", "k", lo, hi)])
        built.append((out, df.filter(F.col("k").between(lo, hi))))
    for out, exp in reversed(built):
        assert sorted(map(tuple, out.collect())) == sorted(
            map(tuple, exp.collect())
        )
    plan = built[0][0]._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "Scan parquet" not in plan
    for node in ("FlatMapGroupsInArrow", "Exchange", "InMemoryTableScan"):
        assert node not in plan


def test_filtered_driver_answers_leave_no_block_dir(spark, monkeypatch):
    """A roundtrip_filtered call answered on the driver returns a local
    relation that reads no file, and removes its block directory before
    returning: five identical small calls leave no pps_rtf_* directory.
    A call that takes the job path (a driver-decode budget of 0 rows)
    keeps its directory, and after five later calls its result still
    collects the rows of a plain Spark filter."""
    import glob
    import tempfile

    import parquet_python_spark.operators.generic_codec as gc
    from parquet_python_spark.operators.generic_codec import roundtrip_filtered

    def block_dirs():
        return set(glob.glob(os.path.join(tempfile.gettempdir(), "pps_rtf_*")))

    df = spark.range(3_000).select(
        F.col("id").alias("k"), (F.col("id") % 17).alias("v")
    )
    kinds = {"k": "int", "v": "int"}
    preds = [("eq", "k", 1_234)]
    exp = sorted(map(tuple, df.filter(F.col("k") == 1_234).collect()))

    with monkeypatch.context() as m:
        m.setattr(gc, "_DRIVER_DECODE_BUDGET", 0)
        before = block_dirs()
        job = roundtrip_filtered(df, "k", kinds, preds)
        (job_dir,) = block_dirs() - before
    assert "MapInArrow" in job._jdf.queryExecution().executedPlan().toString()

    before = block_dirs()
    for _ in range(5):
        out = roundtrip_filtered(df, "k", kinds, preds)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "MapInArrow" not in plan, plan
        assert sorted(map(tuple, out.collect())) == exp
    assert block_dirs() == before
    assert os.path.isdir(job_dir)
    assert sorted(map(tuple, job.collect())) == exp


# ---------------------------------------------- rows inside large chunks

def test_range_prune_in_large_chunk_exact(spark, written):
    """A narrow range inside a ~10k-row surviving chunk returns exactly
    the rows of a plain Spark filter, not the chunk: `v` (~10k distinct
    values over [0, 2^17) per chunk) selects bitpack and `w` carries
    nulls."""
    from parquet_python_spark.operators.generic_codec import (
        _arrow_safe_schema,
        decode_df_pruned,
        encode_df,
    )

    df = spark.range(20_000).select(
        F.col("id").alias("k"),
        (F.col("id") * 40_503 % (1 << 17)).alias("v"),
        F.when(F.col("id") % 5 == 0, None).otherwise(F.col("id")).alias("w"),
    )
    kinds = {"k": "int", "v": "int", "w": "int"}
    # 2 range parts -> ~10k-row chunks
    blocks = written(encode_df(df, "k", kinds, n_parts=2, partitioning="range"))
    v_codecs = {
        r["codec"] for r in blocks.filter(F.col("column") == "v").collect()
    }
    assert v_codecs == {"bitpack"}

    lo, hi = 5_000, 6_000
    out_schema = _arrow_safe_schema(df.select(*kinds).schema, kinds)
    dec = decode_df_pruned(blocks, "k", kinds, out_schema, "k", lo, hi)
    got = sorted((r["k"], r["v"], r["w"]) for r in dec.collect())
    exp = sorted(
        (r["k"], r["v"], r["w"])
        for r in df.filter((F.col("k") >= lo) & (F.col("k") <= hi)).collect()
    )
    assert got == exp and len(got) == hi - lo + 1


# ------------------------------------------------ string (truncated) zone maps

def test_str_stats_truncation_semantics():
    """Truncated bounds must never tighten: lower is a prefix of the min,
    upper is the truncated max's SUCCESSOR (>= every chunk value)."""
    import pyarrow as pa

    from parquet_python_spark.operators.generic_codec import (
        STR_STAT_CHARS,
        _str_stats,
    )

    # short values: exact bounds
    assert _str_stats(pa.array(["b", "a", "c"])) == ("a", "c")
    # long max: 16-char prefix with last char incremented
    long_max = "m" * 20
    lo, hi = _str_stats(pa.array(["alpha", long_max]))
    assert lo == "alpha" and hi == "m" * 15 + "n"
    assert len(hi) == STR_STAT_CHARS and long_max <= hi
    # long min: plain prefix (sorts <= original)
    lo, hi = _str_stats(pa.array(["a" * 30, "zz"]))
    assert lo == "a" * 16 and lo <= "a" * 30 and hi == "zz"
    # successor would land in the surrogate gap: jumps to U+E000 (still an
    # upper bound, just looser)
    v = "x" * 15 + chr(0xD7FF) + "tail"
    lo, hi = _str_stats(pa.array(["a", v]))
    assert hi == "x" * 15 + chr(0xE000) and v <= hi
    # every char at the code-point ceiling: unbounded above
    v = chr(0x10FFFF) * 20
    lo, hi = _str_stats(pa.array(["a", v]))
    assert hi is None
    # all-null / empty chunks carry no bounds
    assert _str_stats(pa.array([], type=pa.string())) == (None, None)
    assert _str_stats(pa.array([None], type=pa.string())) == (None, None)


def test_string_zone_maps_prune_and_exact(spark, written):
    """decode_df_pruned on a str predicate: chunks whose truncated bounds
    miss the range are never decoded; the filtered result is exact."""
    from parquet_python_spark.operators.generic_codec import (
        _arrow_safe_schema,
        decode_df_pruned,
        encode_df,
    )

    df = spark.range(8_000).select(
        F.col("id").alias("k"),
        F.concat(
            F.lit("key"), F.lpad(F.col("id").cast("string"), 8, "0")
        ).alias("s"),
    )
    kinds = {"k": "int", "s": "str"}
    blocks = written(encode_df(
        df, "k", kinds, n_parts=8, partitioning="range"
    ))
    srows = blocks.filter(F.col("column") == "s").collect()
    assert all(
        r["stat_min_str"] is not None and r["stat_max_str"] is not None
        for r in srows
    )
    lo, hi = "key00002000", "key00002499"
    out_schema = _arrow_safe_schema(df.select(*kinds).schema, kinds)
    dec = decode_df_pruned(blocks, "k", kinds, out_schema, "s", lo, hi).cache()
    pre = dec.count()
    # 8 range chunks of ~1000 rows: the [2000, 2499] key range lives in one
    # chunk (+1 of boundary slack) — far below the 8000-row table
    assert 500 <= pre <= 2_000, pre
    got = sorted(
        (r["k"], r["s"])
        for r in dec.filter((F.col("s") >= lo) & (F.col("s") <= hi)).collect()
    )
    exp = sorted(
        (r["k"], r["s"])
        for r in df.filter((F.col("s") >= lo) & (F.col("s") <= hi)).collect()
    )
    assert got == exp and len(got) == 500
    dec.unpersist()


def test_string_zone_maps_shared_prefix_is_conservative(spark, written):
    """Keys sharing a >16-char prefix: truncated bounds collapse to the
    same (prefix, successor) window on every chunk — NOTHING prunes, and
    the result must still be exact (truncation never loses rows)."""
    from parquet_python_spark.operators.generic_codec import (
        _arrow_safe_schema,
        decode_df_pruned,
        encode_df,
    )

    df = spark.range(2_000).select(
        F.col("id").alias("k"),
        F.concat(
            F.lit("p" * 20), F.lpad(F.col("id").cast("string"), 6, "0")
        ).alias("s"),
    )
    kinds = {"k": "int", "s": "str"}
    blocks = written(encode_df(df, "k", kinds, n_parts=4, partitioning="range"))
    lo = "p" * 20 + "000100"
    hi = "p" * 20 + "000199"
    out_schema = _arrow_safe_schema(df.select(*kinds).schema, kinds)
    dec = decode_df_pruned(blocks, "k", kinds, out_schema, "s", lo, hi)
    got = sorted(
        r["k"]
        for r in dec.filter((F.col("s") >= lo) & (F.col("s") <= hi)).collect()
    )
    assert got == list(range(100, 200))


def test_string_pruning_rejects_bad_kinds(spark, written):
    import pyarrow  # noqa: F401

    from parquet_python_spark.operators.generic_codec import (
        _arrow_safe_schema,
        decode_df_pruned,
        encode_df,
    )

    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 2 == 0).alias("b"),
        F.col("id").cast("string").alias("s"),
    )
    kinds = {"k": "int", "b": "bool", "s": "str"}
    blocks = written(encode_df(df, "k", kinds, n_parts=2))
    out_schema = _arrow_safe_schema(df.select(*kinds).schema, kinds)
    with pytest.raises(ValueError, match="min/max pruning"):
        decode_df_pruned(blocks, "k", kinds, out_schema, "b", 1, 5)
    with pytest.raises(ValueError, match="str bounds"):
        decode_df_pruned(blocks, "k", kinds, out_schema, "s", 1, 5)


# ------------------------------------------------ float (ordered-bits) zone maps

def test_float_ordered_bits_is_monotone():
    import numpy as np

    from parquet_python_spark.operators.generic_codec import (
        _float_ordered_bits,
    )

    vals = np.array(
        [-np.inf, -1e300, -1.5, -1e-300, -0.0, 0.0, 1e-300, 2.5, 1e300,
         np.inf, np.nan]
    )
    ob = _float_ordered_bits(vals)
    # strictly ordered except the -0.0/+0.0 pair (equal floats may map to
    # adjacent ints; ordering only needs monotonicity)
    assert (np.diff(ob) >= 0).all()
    assert ob[-1] > ob[-2]  # NaN sorts greatest (Spark semantics)
    assert ob[4] < ob[5]  # -0.0 below +0.0


def test_float_zone_maps_prune_and_exact(spark, written):
    """decode_df_pruned on a float64 predicate: chunk skip via the
    ordered-bits stats, and exactly the rows of a plain Spark filter."""
    from parquet_python_spark.operators.generic_codec import (
        _arrow_safe_schema,
        decode_df_pruned,
        encode_df,
    )

    df = spark.range(20_000).select(
        F.col("id").alias("k"),
        (F.col("id").cast("double") / 100.0 - 50.0).alias("x"),
    )
    kinds = {"k": "int", "x": "float64"}
    blocks = written(encode_df(
        df, "k", kinds, n_parts=4, partitioning="range"
    ))
    xrows = blocks.filter(F.col("column") == "x").collect()
    assert all(r["stat_min"] is not None for r in xrows)
    # chunks are 5k rows; x is monotone in k, so the stats are selective
    lo, hi = -10.0, -5.0  # k in [4000, 4500]: one chunk
    out_schema = _arrow_safe_schema(df.select(*kinds).schema, kinds)
    dec = decode_df_pruned(blocks, "k", kinds, out_schema, "x", lo, hi)
    got = sorted(r["k"] for r in dec.collect())
    exp = list(range(4_000, 4_501))
    assert got == exp


def test_float_zone_maps_negative_zero_boundary(spark, written):
    """-0.0 sorts below +0.0 in the bits transform but equals it in
    IEEE/Spark comparison: a chunk whose max is -0.0 must SURVIVE a
    lo=0.0 prune (the bounds widen across the ±0 pair)."""
    import pandas as pd

    from parquet_python_spark.operators.generic_codec import (
        _arrow_safe_schema,
        _float_ordered_scalar,
        decode_df_pruned,
        encode_df,
    )

    assert _float_ordered_scalar(-0.0) == -1 and _float_ordered_scalar(0.0) == 0

    pdf = pd.DataFrame(
        {"k": range(100), "x": [-0.0] * 50 + [5.0] * 50}
    )
    df = spark.createDataFrame(pdf)
    kinds = {"k": "int", "x": "float64"}
    blocks = written(encode_df(
        df, "k", kinds, n_parts=2, partitioning="range"
    ))
    # the low chunk's stats really are the ±0 edge case
    xr = sorted(
        (r["stat_min"], r["stat_max"])
        for r in blocks.filter(F.col("column") == "x").collect()
    )
    assert xr[0][1] == -1  # max(-0.0) under the bits transform
    out_schema = _arrow_safe_schema(df.select(*kinds).schema, kinds)
    dec = decode_df_pruned(blocks, "k", kinds, out_schema, "x", 0.0, 10.0)
    got = dec.filter((F.col("x") >= 0.0) & (F.col("x") <= 10.0)).count()
    assert got == 100  # -0.0 >= 0.0 is TRUE row-side: nothing may vanish


def test_float_int_routes_end_to_end(spark, tmp_path, written):
    """Lineitem-shaped doubles (integer/100 discounts, integer quantities,
    two-decimal prices, plus -0.0, NaN, ±inf and nulls) encode through the
    integer routes, round-trip bit-identically, stay within the whole
    column's reference dictionary bytes, and a pruned price range inside
    a >ROWS-row int_f64 chunk equals the pyarrow oracle."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from parquet_python_spark.codecs import encode_dict
    from parquet_python_spark.operators.generic_codec import (
        _arrow_safe_schema,
        _def_levels_blob,
        decode_df_pruned,
        decode_df_pruned_multi,
        encode_df,
    )

    n = 40_000
    rng = np.random.default_rng(21)
    k = np.arange(n)
    disc = rng.integers(0, 11, n) / 100.0
    qty = rng.integers(1, 51, n).astype(np.float64)
    # monotone in k, so a narrow price range lies inside one chunk
    price = (90_000 + k * 37 + rng.integers(0, 37, n)) / 100.0
    # specials ride the low-cardinality columns' dict over the IEEE bits; a
    # price chunk holding them would keep plain_f64 (no exceptions stored)
    disc[:4] = qty[4:8] = [-0.0, np.nan, np.inf, -np.inf]
    null = np.zeros(n, dtype=bool)
    null[12:200:7] = True
    floats = ["l_discount", "l_quantity", "l_extendedprice"]
    tbl = pa.table(
        {"k": k}
        | {c: pa.array(v, mask=null) for c, v in zip(floats, (disc, qty, price))}
    )
    path = str(tmp_path / "li.parquet")
    pq.write_table(tbl, path)
    df = spark.read.parquet(path)
    kinds = {"k": "int"} | {c: "float64" for c in floats}
    blocks = written(encode_df(df, "k", kinds, n_parts=4, partitioning="range"))
    out_schema = _arrow_safe_schema(df.schema, kinds)

    rows = blocks.filter(F.col("column").isin(floats)).collect()
    for c in floats:
        crows = [r for r in rows if r["column"] == c]
        assert crows and all(r["codec"] == "int_f64" for r in crows), c
        # enc_bytes carries the validity stream, so the reference side
        # carries the whole column's definition levels too, as a Parquet
        # PLAIN_DICTIONARY column chunk would
        present = tbl.column(c).drop_null().to_numpy()
        valid = tbl.column(c).is_valid().to_numpy(zero_copy_only=False)
        ref_bytes = len(encode_dict(present.view(np.int64), "int64")) + len(
            _def_levels_blob(valid)
        ) + 4
        assert sum(r["enc_bytes"] for r in crows) <= ref_bytes, c

    def bits_equal(got: pa.Table, want: pa.Table) -> None:
        for c in floats:
            g, w = got.column(c).combine_chunks(), want.column(c)
            gv = g.is_valid().to_numpy(zero_copy_only=False)
            assert np.array_equal(gv, w.is_valid().to_numpy(zero_copy_only=False))
            assert np.array_equal(
                g.to_numpy(zero_copy_only=False)[gv].view(np.int64),
                w.to_numpy(zero_copy_only=False)[gv].view(np.int64),
            ), c

    full = decode_df_pruned_multi(
        blocks, "k", kinds, out_schema, [("notnull", "k")]
    ).toArrow().sort_by("k")
    assert full.column("k").to_pylist() == k.tolist()
    bits_equal(full, tbl)

    # a few rows of the price chunk holding k ~ 25 000
    lo, hi = 10_150.0, 10_160.0
    assert any(
        r["column"] == "l_extendedprice" and r["stat_min"] is not None
        and "e" in r["params"] and r["n_rows"] > ROWS
        for r in rows
    )
    dec = decode_df_pruned(
        blocks, "k", kinds, out_schema, "l_extendedprice", lo, hi
    ).toArrow()
    xo = tbl.column("l_extendedprice")
    want = tbl.filter(pc.and_(pc.greater_equal(xo, lo), pc.less_equal(xo, hi)))
    assert want.num_rows > 0 and dec.num_rows == want.num_rows
    bits_equal(dec.sort_by("k"), want)


# ------------------------------------------------ string bloom point lookups

def test_string_bloom_pruned_equality_roundtrip(spark):
    """Point lookup on a STRING column: blooms are built over JVM-side
    xxhash64 (no per-row Python over string bytes), the probe literal is
    hashed through the same Spark function, and the combination of
    truncated string stats + bloom admits fewer partitions than exist."""
    from parquet_python_spark.operators.generic_codec import (
        bloom_might_contain,
        encode_df,
        roundtrip_filtered,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kinds = {"doc_id": "int", "text": "str", "lang": "str"}
    value = docs.select("text").first()["text"]

    got = roundtrip_filtered(docs, "doc_id", kinds, [("eq", "text", value)])
    exp = docs.select(*kinds).filter(F.col("text") == value)
    a = sorted(tuple(r) for r in got.collect())
    b = sorted(tuple(r) for r in exp.collect())
    assert a == b and len(a) >= 1

    # pruning evidence, evaluated the same way the executor-side test does
    blocks = encode_df(docs, "doc_id", kinds, n_parts=8)
    meta = blocks.filter(F.col("column") == "text").select(
        "part_id", "bloom", "stat_min_str", "stat_max_str"
    ).collect()
    assert all(r["bloom"] is not None for r in meta)  # low-card text chunks
    probe = int(
        spark.range(1).select(F.xxhash64(F.lit(value)).alias("h")).first()["h"]
    )
    admitted = [
        r["part_id"]
        for r in meta
        if (
            r["stat_min_str"] is not None
            and r["stat_min_str"] <= value
            and (r["stat_max_str"] is None or r["stat_max_str"] >= value)
        )
        and bloom_might_contain(bytes(r["bloom"]), probe)
    ]
    assert len(admitted) < len(meta), (len(admitted), len(meta))


def test_string_bloom_eq_rejects_non_str_value(spark, written):
    from parquet_python_spark.operators.generic_codec import (
        _arrow_safe_schema,
        decode_df_pruned_eq,
        encode_df,
    )

    df = spark.range(50).select(
        F.col("id").alias("k"), F.col("id").cast("string").alias("s")
    )
    kinds = {"k": "int", "s": "str"}
    blocks = written(encode_df(df, "k", kinds, n_parts=2))
    out_schema = _arrow_safe_schema(df.select(*kinds).schema, kinds)
    with pytest.raises(ValueError, match="str value"):
        decode_df_pruned_eq(blocks, "k", kinds, out_schema, "s", 7)


# ------------------------------------------- null-count stats (IS NULL prune)


def test_null_count_stats_and_pruned_decode(spark, written):
    """Chunks carry exact null counts, and decode_df_pruned_multi skips
    whole chunks for IS NULL / IS NOT NULL predicates — the
    Statistics.null_count consumption the reference never does.  Nulls
    are concentrated in the low key range so range partitioning makes
    the skip observable."""
    from parquet_python_spark.operators.generic_codec import (
        _arrow_safe_schema,
        decode_df_pruned_multi,
        encode_df,
    )

    df = spark.range(20_000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 5_000, None).otherwise(F.col("id")).alias("w"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("s"),
    )
    kinds = {"k": "int", "w": "int", "s": "str"}
    blocks = written(encode_df(
        df, "k", kinds, n_parts=4, partitioning="range"
    ))
    # exact per-chunk null counts, and they sum to the injected total
    wrows = blocks.filter(F.col("column") == "w").collect()
    assert sum(r["n_nulls"] for r in wrows) == 5_000
    assert all(r["n_nulls"] == 0 for r in blocks.filter(F.col("column") == "k").collect())

    out_schema = _arrow_safe_schema(df.select(*kinds).schema, kinds)
    # IS NULL: only null-bearing chunks decode (nulls live in one part)
    dec_null = decode_df_pruned_multi(
        blocks, "k", kinds, out_schema, [("isnull", "w")]
    ).cache()
    assert dec_null.count() < 20_000  # skipped the null-free chunks
    got = sorted(
        r["k"] for r in dec_null.filter(F.col("w").isNull()).collect()
    )
    assert got == list(range(5_000))
    dec_null.unpersist()
    # IS NOT NULL: the all-null chunk is skipped
    dec_nn = decode_df_pruned_multi(
        blocks, "k", kinds, out_schema, [("notnull", "w")]
    ).cache()
    assert dec_nn.count() < 20_000
    got_nn = sorted(
        (r["k"], r["w"], r["s"])
        for r in dec_nn.filter(F.col("w").isNotNull()).collect()
    )
    exp_nn = sorted(
        (r["k"], r["w"], r["s"])
        for r in df.filter(F.col("w").isNotNull()).collect()
    )
    assert got_nn == exp_nn
    dec_nn.unpersist()


def test_null_pruning_rejects_list_kind(spark, written):
    from parquet_python_spark.operators.generic_codec import (
        _arrow_safe_schema,
        decode_df_pruned_multi,
        encode_df,
    )

    df = spark.range(50).select(
        F.col("id").alias("k"),
        F.array(F.col("id").cast("int")).alias("a"),
    )
    kinds = {"k": "int", "a": "int_list"}
    blocks = written(encode_df(df, "k", kinds, n_parts=2))
    out_schema = _arrow_safe_schema(df.select(*kinds).schema, kinds)
    with pytest.raises(ValueError, match="scalar column"):
        decode_df_pruned_multi(blocks, "k", kinds, out_schema, [("isnull", "a")])
    with pytest.raises(ValueError, match="scalar column"):
        decode_df_pruned_multi(
            blocks, "k", kinds, out_schema, [("notnull", "zz")]
        )


def test_roundtrip_filtered_null_end_to_end(spark):
    from parquet_python_spark.operators.generic_codec import roundtrip_filtered

    df = spark.range(8_000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 3 == 0, None)
        .otherwise(F.concat(F.lit("v"), F.col("id").cast("string")))
        .alias("t"),
    )
    kinds = {"k": "int", "t": "str"}
    out = roundtrip_filtered(df, "k", kinds, [("isnull", "t")])
    got = sorted(r["k"] for r in out.collect())
    exp = sorted(r["k"] for r in df.filter(F.col("t").isNull()).collect())
    assert got == exp
    out2 = roundtrip_filtered(df, "k", kinds, [("notnull", "t")])
    got2 = sorted((r["k"], r["t"]) for r in out2.collect())
    exp2 = sorted(
        (r["k"], r["t"]) for r in df.filter(F.col("t").isNotNull()).collect()
    )
    assert got2 == exp2


# ------------------------------------------ string and nullable ranges


def test_string_range_in_large_chunk_exact(spark, written):
    """Spark e2e: a narrow string range inside a ~10k-row string chunk
    returns exactly the rows of a plain Spark filter."""
    from parquet_python_spark.operators.generic_codec import (
        _arrow_safe_schema,
        decode_df_pruned,
        encode_df,
    )

    df = spark.range(20_000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("d"), F.lpad(F.col("id").cast("string"), 8, "0")).alias("s"),
    )
    kinds = {"k": "int", "s": "str"}
    # 2 range parts -> ~10k-row chunks
    blocks = written(encode_df(
        df, "k", kinds, n_parts=2, partitioning="range"
    ))
    lo, hi = "d00005000", "d00006000"
    out_schema = _arrow_safe_schema(df.select(*kinds).schema, kinds)
    dec = decode_df_pruned(blocks, "k", kinds, out_schema, "s", lo, hi)
    got = sorted((r["k"], r["s"]) for r in dec.collect())
    exp = sorted(
        (r["k"], r["s"])
        for r in df.filter((F.col("s") >= lo) & (F.col("s") <= hi)).collect()
    )
    assert got == exp and len(got) == 1001


def test_nullable_ranges_in_large_chunks_exact(spark, written):
    """Null-bearing ~10k-row chunks of all three stat kinds return exactly
    the rows of a plain Spark filter for a narrow range: nulls never
    match, a float NaN *data* value is honored as greatest, and a range
    over an all-null stretch of a string chunk returns no row."""
    import math

    from parquet_python_spark.operators.generic_codec import (
        _arrow_safe_schema,
        decode_df_pruned,
        encode_df,
    )

    n = 20_000
    df = spark.range(n).select(
        F.col("id").alias("k"),
        # int: every 5th row null, values track the key
        F.when(F.col("id") % 5 == 0, None).otherwise(F.col("id")).alias("w"),
        # float: nulls scattered; a data NaN planted at a known key
        F.when(F.col("id") % 7 == 0, None)
        .when(F.col("id") == 778, F.lit(float("nan")))
        .otherwise(F.col("id").cast("double"))
        .alias("f"),
        # str: an entire aligned ROWS-row stretch is all-null
        F.when(
            (F.col("id") >= ROWS) & (F.col("id") < 2 * ROWS), None
        )
        .otherwise(F.concat(F.lit("d"), F.lpad(F.col("id").cast("string"), 8, "0")))
        .alias("s"),
    )
    kinds = {"k": "int", "w": "int", "f": "float64", "s": "str"}
    # 2 range parts -> ~10k-row chunks
    blocks = written(encode_df(df, "k", kinds, n_parts=2, partitioning="range"))

    out_schema = _arrow_safe_schema(df.select(*kinds).schema, kinds)
    # --- int nullable predicate: narrow range -> exact rows
    dec = decode_df_pruned(blocks, "k", kinds, out_schema, "w", 5_000, 6_000)
    got = sorted((r["k"], r["w"]) for r in dec.collect())
    exp = sorted(
        (r["k"], r["w"])
        for r in df.filter((F.col("w") >= 5_000) & (F.col("w") <= 6_000)).collect()
    )
    assert got == exp and len(got) == 800
    # --- float nullable predicate: exactness incl. null weave; the NaN
    # data value matches a NaN range (NaN greatest)
    dec_f = decode_df_pruned(
        blocks, "k", kinds, out_schema, "f", 5_000.0, 6_000.0
    )
    got_f = sorted((r["k"], r["f"]) for r in dec_f.collect())
    exp_f = sorted(
        (r["k"], r["f"])
        for r in df.filter((F.col("f") >= 5_000.0) & (F.col("f") <= 6_000.0)).collect()
    )
    assert got_f == exp_f
    nan_rows = decode_df_pruned(
        blocks, "k", kinds, out_schema, "f", float("nan"), float("nan")
    ).collect()
    assert [r["k"] for r in nan_rows] == [778] and math.isnan(nan_rows[0]["f"])
    # --- str: a range that targets the all-null stretch matches nothing
    lo_s = f"d{ROWS + 10:08d}"
    hi_s = f"d{ROWS + 500:08d}"
    dec_s = decode_df_pruned(blocks, "k", kinds, out_schema, "s", lo_s, hi_s)
    assert dec_s.count() == 0


def test_multi_predicate_prune_conjunction(spark, written):
    """Conjunctive pruning intersects keep sets and row masks: a
    (range AND eq AND notnull) conjunction returns exactly the rows of the
    plain Spark filter, fewer than the tightest single predicate."""
    from parquet_python_spark.operators.generic_codec import (
        _arrow_safe_schema,
        decode_df_pruned,
        decode_df_pruned_multi,
        encode_df,
    )

    n = 40_000
    df = spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 97).alias("v"),
        F.when(F.col("id") % 13 == 0, None)
        .otherwise(F.concat(F.lit("t"), F.lpad(F.col("id").cast("string"), 8, "0")))
        .alias("t"),
    )
    kinds = {"k": "int", "v": "int", "t": "str"}
    blocks = written(encode_df(df, "k", kinds, n_parts=4, partitioning="range"))
    out_schema = _arrow_safe_schema(df.select(*kinds).schema, kinds)

    preds = [
        ("range", "k", 5_000, 6_000),
        ("eq", "v", 11),
        ("notnull", "t"),
    ]
    dec = decode_df_pruned_multi(blocks, "k", kinds, out_schema, preds)
    single = decode_df_pruned(
        blocks, "k", kinds, out_schema, "k", 5_000, 6_000
    ).count()
    assert single == 1_001
    exact = (
        (F.col("k") >= 5_000) & (F.col("k") <= 6_000)
        & (F.col("v") == 11) & F.col("t").isNotNull()
    )
    got = sorted(tuple(r) for r in dec.collect())
    exp = sorted(tuple(r) for r in df.filter(exact).collect())
    assert got == exp and 0 < len(got) < single

    # two DISJOINT range predicates on the same column: the row-mask
    # intersection goes empty -> zero rows, still no error
    empty = decode_df_pruned_multi(
        blocks, "k", kinds, out_schema,
        [("range", "k", 100, 200), ("range", "k", 30_000, 30_100)],
    )
    assert empty.count() == 0

    # eq predicates bind their own probes (no late-binding across the
    # loop): two str eq preds, the second impossible -> empty
    vals = decode_df_pruned_multi(
        blocks, "k", kinds, out_schema,
        [("eq", "t", "t00005005"), ("eq", "t", "zzz-not-there")],
    )
    assert vals.count() == 0

    with pytest.raises(ValueError, match="non-empty"):
        decode_df_pruned_multi(blocks, "k", kinds, out_schema, [])
    with pytest.raises(ValueError, match="unknown predicate"):
        decode_df_pruned_multi(
            blocks, "k", kinds, out_schema, [("like", "t", "x%")]
        )


def test_in_list_prune_union_and_exact(spark, written):
    """IN-list pruning: chunk keep is any-of (stats OR'd, Bloom any-probe),
    the row mask is the UNION of each value's [v, v] range — two distant
    values of one chunk return those two rows, not the chunk; empty IN
    decodes nothing; the union group intersects with other predicates."""
    from parquet_python_spark.operators.generic_codec import (
        _arrow_safe_schema,
        decode_df_pruned_multi,
        encode_df,
    )

    n = 40_000
    df = spark.range(n).select(
        F.col("id").alias("k"),
        F.concat(F.lit("t"), F.lpad(F.col("id").cast("string"), 8, "0")).alias("t"),
    )
    kinds = {"k": "int", "t": "str"}
    # 2 range parts -> ~20k-row chunks
    blocks = written(encode_df(df, "k", kinds, n_parts=2, partitioning="range"))
    out_schema = _arrow_safe_schema(df.select(*kinds).schema, kinds)

    # two int values in the SAME chunk, far apart
    vals = [100, 17_000]
    dec = decode_df_pruned_multi(
        blocks, "k", kinds, out_schema, [("in", "k", vals)]
    )
    assert sorted(r["k"] for r in dec.collect()) == vals  # not 20k rows

    # str IN-list: probes hashed JVM-side, same union semantics
    svals = ["t00000100", "t00017000", "zzz-not-there"]
    dec_s = decode_df_pruned_multi(
        blocks, "k", kinds, out_schema, [("in", "t", svals)]
    )
    assert sorted(r["t"] for r in dec_s.collect()) == ["t00000100", "t00017000"]

    # empty IN-list: vacuously false, zero rows, no error
    assert (
        decode_df_pruned_multi(
            blocks, "k", kinds, out_schema, [("in", "k", [])]
        ).count()
        == 0
    )

    # IN intersected with a range that excludes one value
    dec_i = decode_df_pruned_multi(
        blocks, "k", kinds, out_schema,
        [("in", "k", vals), ("range", "k", 0, 1_000)],
    )
    assert [r["k"] for r in dec_i.collect()] == [100]


def test_persisted_blocks_prune_pushes_to_scan(spark, tmp_path, monkeypatch):
    """The deployment shape: blocks persisted as a parquet table, pruned
    decodes reading it back file-direct: no exchange, no join, one task
    per file holding a kept part.  Results stay exact through the parquet
    round-trip (n_nulls/str bounds survive)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    import parquet_python_spark.operators.generic_codec as gc
    from parquet_python_spark.operators.generic_codec import (
        _arrow_safe_schema,
        count_filtered_meta,
        decode_df_pruned,
        decode_df_pruned_multi,
        encode_df,
    )

    real_decode_col = gc._decode_col
    df = spark.range(20_000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 4_000, None).otherwise(F.col("id")).alias("w"),
    )
    kinds = {"k": "int", "w": "int"}
    path = str(tmp_path / "blocks_table")
    encode_df(df, "k", kinds, n_parts=4, partitioning="range").write.parquet(path)
    out_schema = _arrow_safe_schema(df.select(*kinds).schema, kinds)
    files = pq.ParquetDataset(path).files

    def files_holding(parts):
        return sum(
            bool(set(pq.read_table(f, columns=["part_id"]).column(0).to_pylist()) & parts)
            for f in files
        )

    def kept_parts(lo, hi):
        meta = pq.read_table(path, columns=["part_id", "column", "stat_min", "stat_max"])
        meta = meta.filter(pc.equal(meta.column("column"), "k")).to_pylist()
        return {r["part_id"] for r in meta if r["stat_max"] >= lo and r["stat_min"] <= hi}

    def plan(d):
        return d._sc._jvm.PythonSQLUtils.explainString(
            d._jdf.queryExecution(), "formatted"
        )

    blocks = spark.read.parquet(path)
    # the lookups' plan checks need their Spark job: a driver-decode
    # budget of 0 rows
    monkeypatch.setattr(gc, "_DRIVER_DECODE_BUDGET", 0)
    # range prune
    dec = decode_df_pruned(blocks, "k", kinds, out_schema, "k", 5_000, 6_000)
    p = plan(dec)
    assert "Join" not in p
    assert "Exchange" not in p and "FlatMapGroupsInArrow" not in p, p
    for lo, hi in ((5_000, 6_000), (0, 19_999)):
        n_tasks = decode_df_pruned(
            blocks, "k", kinds, out_schema, "k", lo, hi
        ).rdd.getNumPartitions()
        assert n_tasks == files_holding(kept_parts(lo, hi)) >= 1
    got = sorted(r["k"] for r in dec.filter(F.col("k").between(5_000, 6_000)).collect())
    assert got == list(range(5_000, 6_001))

    # null prune: the null-count keep set takes the same path
    dec_n = decode_df_pruned_multi(
        blocks, "k", kinds, out_schema, [("isnull", "w")]
    )
    p_n = plan(dec_n)
    assert "Join" not in p_n and "Exchange" not in p_n, p_n
    got_n = sorted(r["k"] for r in dec_n.filter(F.col("w").isNull()).collect())
    assert got_n == list(range(4_000))

    # conjunction over the persisted table stays exact
    dec_m = decode_df_pruned_multi(
        blocks, "k", kinds, out_schema,
        [("range", "k", 5_000, 6_000), ("notnull", "w")],
    )
    got_m = sorted(
        tuple(r)
        for r in dec_m.filter(
            (F.col("k") >= 5_000) & (F.col("k") <= 6_000) & F.col("w").isNotNull()
        ).collect()
    )
    assert got_m == [(i, i) for i in range(5_000, 6_001)]
    monkeypatch.undo()

    # metadata-first COUNT: exact; only the two boundary parts decode
    # (the two contained ones are answered from the metadata), and that
    # decode reads only the predicate column's kept chunks.  That small
    # decode runs in the driver process (an Arrow table); the plan checks
    # below force the Spark job (a budget of 0 rows)
    calls = []

    def recording_decode_col(*args):
        calls.append((args[4], real_decode_col(*args)))
        return calls[-1][1]

    monkeypatch.setattr(gc, "_decode_col", recording_decode_col)
    def count():
        return count_filtered_meta(blocks, kinds, "k", 2_500, 17_499).first()["cnt"]

    assert count() == 15_000
    assert [parts for parts, _ in calls] == [{0, 3}]
    assert isinstance(calls.pop()[1], pa.Table)
    monkeypatch.setattr(gc, "_DRIVER_DECODE_BUDGET", 0)
    assert count() == 15_000
    monkeypatch.undo()
    assert [parts for parts, _ in calls] == [{0, 3}]
    p_c = plan(calls[0][1])
    assert "Join" not in p_c and "Exchange" not in p_c, p_c
    assert calls[0][1].rdd.getNumPartitions() == files_holding({0, 3})


def test_or_predicate_prune_union_and_exact(spark, written):
    """Disjunctive pruning: OR of two distant ranges returns exactly their
    rows via the union group; an OR containing a null predicate keeps
    chunk pruning; results are exact; generator IN values survive the
    Bloom-probe + prune double read."""
    from parquet_python_spark.operators.generic_codec import (
        _arrow_safe_schema,
        decode_df_pruned_multi,
        encode_df,
        roundtrip_filtered,
    )

    n = 40_000
    df = spark.range(n).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 2_000, None).otherwise(F.col("id")).alias("w"),
    )
    kinds = {"k": "int", "w": "int"}
    blocks = written(encode_df(df, "k", kinds, n_parts=4, partitioning="range"))
    out_schema = _arrow_safe_schema(df.select(*kinds).schema, kinds)

    # OR of two distant narrow ranges on k: exactly their rows
    preds = [("range", "k", 100, 200), ("range", "k", 30_000, 30_100)]
    dec = decode_df_pruned_multi(
        blocks, "k", kinds, out_schema, preds, combine="or"
    )
    got = sorted(r["k"] for r in dec.collect())
    assert got == list(range(100, 201)) + list(range(30_000, 30_101))

    # OR with isnull: the chunk union still prunes — nulls live in the
    # first part only — and the rows are exact
    preds2 = [("isnull", "w"), ("range", "k", 30_000, 30_100)]
    dec2 = decode_df_pruned_multi(
        blocks, "k", kinds, out_schema, preds2, combine="or"
    )
    got2 = sorted(r["k"] for r in dec2.collect())
    assert got2 == list(range(2_000)) + list(range(30_000, 30_101))
    with pytest.raises(ValueError, match="combine"):
        decode_df_pruned_multi(
            blocks, "k", kinds, out_schema, preds, combine="xor"
        )

    # end-to-end wrapper with a GENERATOR In member: normalize-first means
    # the prune and the exact row filter see the same values
    out = roundtrip_filtered(
        df, "k", kinds,
        [("in", "k", (v for v in [5, 30_050])), ("eq", "k", 7)],
        combine="or",
    )
    assert sorted(r["k"] for r in out.collect()) == [5, 7, 30_050]


# ------------------------------------------- prune-algebra property tests


def test_prune_algebra_properties():
    """Hypothesis: the truncated chunk-level string bounds (_str_stats)
    stay conservative under random values, nulls and widths: the lower
    bound sorts at or below the minimum and every value sorts at or below
    a finite upper bound."""
    import pyarrow as pa
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from parquet_python_spark.operators.generic_codec import _str_stats

    text = st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
        max_size=24,
    )

    @settings(max_examples=60, deadline=None)
    @given(st.lists(st.one_of(st.none(), text), min_size=1, max_size=2 * ROWS))
    def check_str_stats(vals):
        present = [v for v in vals if v is not None]
        clo, chi = _str_stats(pa.array(vals, type=pa.string()))
        if not present:
            assert (clo, chi) == (None, None)
            return
        assert clo <= min(present)
        if chi is not None:
            assert all(v <= chi for v in present)

    check_str_stats()


def test_count_filtered_meta_exact_and_metadata_only(spark, written):
    """Metadata-first COUNT: fully-contained chunks contribute n_rows
    without decoding (evidence: the contained classifier claims chunks),
    boundary chunks decode to their matching rows; the total is exact for
    int, float and str predicates, with and without nulls."""
    from parquet_python_spark.operators.generic_codec import (
        count_filtered_meta,
        encode_df,
    )

    n = 40_000
    df = spark.range(n).select(
        F.col("id").alias("k"),
        F.col("id").cast("double").alias("f"),
        F.concat(F.lit("s"), F.lpad(F.col("id").cast("string"), 8, "0")).alias("t"),
        F.when(F.col("id") % 9 == 0, None).otherwise(F.col("id")).alias("w"),
    )
    kinds = {"k": "int", "f": "float64", "t": "str", "w": "int"}
    blocks = written(encode_df(df, "k", kinds, n_parts=8, partitioning="range"))

    # predicate spanning several whole chunks + two boundary halves
    lo, hi = 7_500, 32_499
    got = count_filtered_meta(blocks, kinds, "k", lo, hi).first()["cnt"]
    assert got == hi - lo + 1
    # metadata-only evidence: at least one chunk is fully contained
    contained = blocks.filter(
        (F.col("column") == "k")
        & (F.col("stat_min") >= lo) & (F.col("stat_max") <= hi)
        & (F.col("n_nulls") == 0)
    ).count()
    assert contained >= 1
    # float and str predicates agree with the row-level truth
    got_f = count_filtered_meta(blocks, kinds, "f", 7_500.0, 32_499.0).first()["cnt"]
    assert got_f == hi - lo + 1
    slo, shi = "s00007500", "s00032499"
    got_s = count_filtered_meta(blocks, kinds, "t", slo, shi).first()["cnt"]
    assert got_s == hi - lo + 1
    # nullable column: null-bearing chunks never claim containment, and
    # the count still matches the exact filter
    exp_w = df.filter((F.col("w") >= lo) & (F.col("w") <= hi)).count()
    got_w = count_filtered_meta(blocks, kinds, "w", lo, hi).first()["cnt"]
    assert got_w == exp_w
    # empty predicate: zero, not null
    assert count_filtered_meta(blocks, kinds, "k", -10, -5).first()["cnt"] == 0
    with pytest.raises(ValueError, match="min/max pruning"):
        count_filtered_meta(blocks, {"k": "bool"}, "k", 0, 1)
    # float-bound validation shared with the pruned decodes
    with pytest.raises(ValueError, match="numeric bounds"):
        count_filtered_meta(blocks, kinds, "f", True, 2.0)
    # a column that was never encoded fails loudly, not cnt=0
    with pytest.raises(ValueError, match="no chunks"):
        count_filtered_meta(blocks, {**kinds, "zz": "int"}, "zz", 0, 1)


def test_topk_filtered_meta_exact_and_pruned(spark, written):
    """Zone-map top-k pushdown: exact value multisets both directions,
    under nulls, ties and k > table; and the keep set is a strict subset
    of chunks under range partitioning."""
    from parquet_python_spark.operators.generic_codec import (
        encode_df,
        topk_filtered_meta,
    )

    n = 40_000
    df = spark.range(n).select(
        F.col("id").alias("k"),
        # duplicates (ties), nulls, and values uncorrelated with the key
        F.when(F.col("id") % 7 == 0, None)
        .otherwise((F.col("id") * 37) % 5_000)
        .alias("v"),
    )
    kinds = {"k": "int", "v": "int"}
    blocks = written(encode_df(df, "k", kinds, n_parts=8, partitioning="range"))
    for col in ("k", "v"):
        for asc in (True, False):
            for kk in (5, 1_000):
                got = sorted(
                    r[col]
                    for r in topk_filtered_meta(
                        blocks, kinds, col, kk, ascending=asc
                    ).collect()
                )
                exp = sorted(
                    r[col]
                    for r in df.filter(F.col(col).isNotNull())
                    .orderBy(F.col(col).asc() if asc else F.col(col).desc())
                    .limit(kk)
                    .collect()
                )
                assert got == exp, (col, asc, kk)
    # k beyond the table: every present value, still exact
    got_all = sorted(
        r["k"] for r in topk_filtered_meta(blocks, kinds, "k", n + 5).collect()
    )
    assert got_all == list(range(n))

    # prune evidence: top-5 on the key decodes a strict subset of chunks
    # (bound B lands in the first chunk)
    meta = blocks.filter(F.col("column") == "k").collect()
    by_edge = sorted(meta, key=lambda r: r["stat_max"])
    b = by_edge[0]["stat_max"]  # first chunk already holds >= 5 values
    keep = [r["part_id"] for r in meta if r["stat_min"] <= b]
    assert len(keep) < len(meta)
    with pytest.raises(ValueError, match="metadata top-k"):
        topk_filtered_meta(blocks, {"k": "float64"}, "k", 5)
    with pytest.raises(ValueError, match="positive"):
        topk_filtered_meta(blocks, kinds, "k", 0)


def test_metadata_aggregates_driver_path_equals_job_path(
    spark, tmp_path, monkeypatch
):
    """On file-direct blocks a small boundary decode of count and top-k
    runs in the driver process; its answers equal the Spark job
    path's (forced by a budget of 0 rows) and a plain Spark filter's, on
    an int and an int96_ts column: both nullable, each with an all-null
    chunk and ties; a boundary chunk where no row matches; predicates
    with no boundary chunk; k beyond the present values; both orders."""
    import pyarrow.parquet as pq
    from pyspark.sql import DataFrame

    import parquet_python_spark.operators.generic_codec as gc

    n, t0 = 8_000, 1_600_000_000_000
    df = spark.range(n).select(
        F.col("id").alias("k"),
        # even values only, each about twice, in every part; part 1
        # ([2000, 4000) under exact range bucketing) is all null
        F.when((F.col("id") % 7 == 0) | F.col("id").between(2_000, 3_999), None)
        .otherwise(F.col("id") * 37 % 3_001 * 2)
        .alias("w"),
        # clustered on the key, three rows per value; part 3 all null
        F.when((F.col("id") % 5 == 0) | (F.col("id") >= 6_000), None)
        .otherwise(F.lit(t0) + F.floor(F.col("id") / 3) * 1_000)
        .alias("ts"),
    )
    kinds = {"k": "int", "w": "int", "ts": "int96_ts"}
    path = str(tmp_path / "blocks")
    gc.encode_df(df, "k", kinds, n_parts=4, partitioning="range").write.parquet(path)
    blocks = spark.read.parquet(path)
    meta = pq.read_table(path, columns=["column", "n_rows", "n_nulls"]).to_pylist()
    for col in ("w", "ts"):
        assert any(
            r["column"] == col and r["n_nulls"] == r["n_rows"] > 0 for r in meta
        ), col
    present = {
        col: sorted(r[col] for r in df.select(col).collect() if r[col] is not None)
        for col in ("w", "ts")
    }
    ranges = {
        # two boundary parts / one value no row holds (odd), inside every
        # part's [min, max] / nothing overlaps / every present value
        "w": [(1_001, 4_999), (2_001, 2_001), (-50, -10), (0, 6_000)],
        # cuts parts 0 and 2 / strictly between two values of part 0 /
        # nothing overlaps / every present value
        "ts": [
            (t0 + 500_000, t0 + 1_500_000), (t0 + 100_001, t0 + 100_999),
            (0, t0 - 1), (t0, t0 + n * 1_000),
        ],
    }

    job_calls = []
    real_decode_col = gc._decode_col

    def recording_decode_col(*args):
        out = real_decode_col(*args)
        if isinstance(out, DataFrame):  # the Spark job, not the driver
            job_calls.append(args[4])
        return out

    monkeypatch.setattr(gc, "_decode_col", recording_decode_col)

    def answers():
        out = []
        for col, rs in ranges.items():
            for lo, hi in rs:
                out.append(gc.count_filtered_meta(blocks, kinds, col, lo, hi).first()["cnt"])
            for kk in (1, 5, 7, 999, n + 5):
                for asc in (True, False):
                    top = gc.topk_filtered_meta(blocks, kinds, col, kk, asc).collect()
                    out.append([r[col] for r in top])
        return out

    driver = answers()
    assert job_calls == []
    monkeypatch.setattr(gc, "_DRIVER_DECODE_BUDGET", 0)
    job = answers()
    assert job_calls
    assert driver == job
    # and both equal the plain Spark filter / sort
    want = []
    for col, rs in ranges.items():
        for lo, hi in rs:
            want.append(sum(lo <= v <= hi for v in present[col]))
        for kk in (1, 5, 7, 999, n + 5):
            want += [present[col][:kk], present[col][::-1][:kk]]
    assert driver == want


def test_pruned_decode_rejects_unencoded_and_str_bounds_on_int(spark, written):
    """The pruned decodes fail loudly on a predicate column with no chunk
    rows (an AND would return a definitive-looking empty result; an OR
    would silently drop that member's rows), and int columns reject
    non-numeric bounds (a str bound casts to NULL against bigint stats
    and would prune everything)."""
    from parquet_python_spark.operators.generic_codec import (
        _arrow_safe_schema,
        decode_df_pruned,
        decode_df_pruned_multi,
        encode_df,
    )

    df = spark.range(100).select(F.col("id").alias("k"))
    kinds = {"k": "int"}
    blocks = written(encode_df(df, "k", kinds, n_parts=2))
    out_schema = _arrow_safe_schema(df.select("k").schema, kinds)
    wide = {"k": "int", "zz": "int"}
    with pytest.raises(ValueError, match="no chunks"):
        decode_df_pruned(blocks, "k", wide, out_schema, "zz", 0, 10)
    with pytest.raises(ValueError, match="no chunks"):
        decode_df_pruned_multi(
            blocks, "k", wide, out_schema,
            [("range", "zz", 0, 10), ("range", "k", 0, 10)], combine="or",
        )
    with pytest.raises(ValueError, match="numeric bounds"):
        decode_df_pruned(blocks, "k", kinds, out_schema, "k", "a", "z")
    # int bounds and values outside int64 are rejected by name, not as a
    # raw JVM error from the literal
    from parquet_python_spark.operators.generic_codec import (
        count_filtered_meta,
        decode_df_pruned_eq,
    )

    with pytest.raises(ValueError, match=str(2**63)):
        count_filtered_meta(blocks, kinds, "k", 19_990, 2**63)
    with pytest.raises(ValueError, match=str(-(2**63) - 1)):
        decode_df_pruned(blocks, "k", kinds, out_schema, "k", -(2**63) - 1, 5)
    with pytest.raises(ValueError, match=str(2**64)):
        decode_df_pruned_eq(blocks, "k", kinds, out_schema, "k", 2**64)
    with pytest.raises(ValueError, match=str(-(2**63) - 1)):
        decode_df_pruned_multi(
            blocks, "k", kinds, out_schema, [("in", "k", [1, -(2**63) - 1])]
        )


def _jobs_of(spark, group, call):
    """(Spark jobs ``call`` ran, its result): the jobs are tagged with a
    job group, counted once a marker job run after the call has finished
    (the listener bus delivers events in order)."""
    import time

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup(group, group)
    try:
        result = call()
    finally:
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
    return len(tracker.getJobIdsForGroup(group)), result


def test_pruned_calls_spark_job_counts(spark, tmp_path, monkeypatch):
    """Every pruned call plans from the cached block index: a row lookup
    (range or eq) with few matching rows, a top-k, and a count with
    boundary chunks decode in the driver process and run no Spark job, as
    does a count answered from metadata alone.  With a driver-decode
    budget of 0 rows each of them runs
    exactly one Spark job, the exchange-free decode; so does a range
    lookup whose matching rows are too many to gather on the driver."""
    import parquet_python_spark.operators.generic_codec as gc
    from parquet_python_spark.operators.generic_codec import (
        _arrow_safe_schema,
        count_filtered_meta,
        decode_df_pruned,
        decode_df_pruned_eq,
        encode_df,
        topk_filtered_meta,
    )

    df = spark.range(20_000).select(
        F.col("id").alias("k"),
        (F.col("id") * 7 % 1000).alias("v"),
        F.when(F.col("id") % 3 == 0, None).otherwise(F.col("id")).alias("w"),
    )
    kinds = {"k": "int", "v": "int", "w": "int"}
    path = str(tmp_path / "blocks")
    encode_df(df, "k", kinds, n_parts=4, partitioning="range").write.parquet(path)
    out_schema = _arrow_safe_schema(df.select(*kinds).schema, kinds)
    blocks = spark.read.parquet(path)

    def jobs(name, want, call):
        n, result = _jobs_of(spark, name, call)
        assert n == want, (name, n)
        return result

    # 12_000 rows x 2 gathered columns: past the driver's gather cap
    rows = jobs("range-wide", 1, lambda: decode_df_pruned(
        blocks, "k", kinds, out_schema, "k", 2_000, 13_999
    ).filter(F.col("k").between(2_000, 13_999)).collect())
    assert len(rows) == 12_000
    for budget in (None, 0):
        if budget is not None:
            monkeypatch.setattr(gc, "_DRIVER_DECODE_BUDGET", budget)
        want, sfx = (0, "") if budget is None else (1, "-job")
        rows = jobs("range" + sfx, want, lambda: decode_df_pruned(
            blocks, "k", kinds, out_schema, "k", 5_000, 6_000
        ).filter(F.col("k").between(5_000, 6_000)).collect())
        assert len(rows) == 1_001
        rows = jobs("eq" + sfx, want, lambda: decode_df_pruned_eq(
            blocks, "k", kinds, out_schema, "v", 7
        ).filter(F.col("v") == 7).collect())
        assert len(rows) == 20
        rows = jobs("topk" + sfx, want, lambda: topk_filtered_meta(
            blocks, kinds, "k", 5, ascending=False
        ).collect())
        assert [r["k"] for r in rows] == [19_999, 19_998, 19_997, 19_996, 19_995]
        # [2_500, 17_499] contains the two middle parts and cuts the
        # outer two
        cnt = jobs("count" + sfx, want, lambda: count_filtered_meta(
            blocks, kinds, "k", 2_500, 17_499
        ).first()["cnt"])
        assert cnt == 15_000
    monkeypatch.undo()
    # [0, 19_999] contains every part: no boundary chunk decodes
    cnt = jobs("count-meta", 0, lambda: count_filtered_meta(
        blocks, kinds, "k", 0, 19_999
    ).first()["cnt"])
    assert cnt == 20_000


def test_driver_lookup_equals_job_and_filter(spark, tmp_path, monkeypatch):
    """One rule chooses the driver process or the Spark job for every
    pruned read.  An eq lookup with few matching rows is answered on the
    driver (no job): on blocks with nulls, a str column, float NaN
    payloads and ±0.0, and an int list column, its rows equal the job
    path's (a driver-decode budget of 0 rows) and a plain Spark filter's,
    floats compared by bits.  A lookup whose matching rows times gathered
    columns pass the gather cap runs the one map_tasks job: an int key
    range as its chunk statistics predict, a float range (no prediction)
    once the driver has decoded its predicate column and counted the
    rows.  The budget weighs rows by
    kind: a str count whose boundary rows are far under the budget as
    int rows but over it as str rows runs the job, and the int count
    over the same parts runs none."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    import parquet_python_spark.operators.generic_codec as gc

    n = 80_000
    ids = np.arange(n)
    f = ids / 100.0
    f[ids % 5 == 0] = np.nan
    bits = f.view(np.uint64)
    bits[ids % 15 == 0] = 0xFFF8000000000001  # NaN payloads, sign set
    bits[ids % 25 == 0] = 0x7FF0000000000123
    f[ids % 5 == 1] = -0.0
    f[ids % 5 == 2] = 0.0
    raw = pa.table({
        "k": ids,
        "v": ids * 7919 % 8_000,  # 10 rows per value, over both parts
        "s": pa.array([f"s{i:06d}" for i in ids], mask=ids % 7 == 0),
        "f": pa.array(f, mask=ids % 11 == 0),
        "w": pa.array(ids % 97, mask=ids % 13 == 0),
        "l": pa.array([list(range(i % 4)) for i in ids]),
    })
    pq.write_table(raw, str(tmp_path / "raw.parquet"))
    df = spark.read.parquet(str(tmp_path / "raw.parquet"))
    kinds = {
        "k": "int", "v": "int", "s": "str", "f": "float64", "w": "int",
        "l": "int_list",
    }
    path = str(tmp_path / "blocks")
    gc.encode_df(df, "k", kinds, n_parts=2, partitioning="range").write.parquet(path)
    blocks = spark.read.parquet(path)
    out_schema = gc._arrow_safe_schema(df.schema, kinds)

    def arrow(d):
        t = d.toArrow().sort_by("k").combine_chunks()
        i = t.schema.get_field_index("f")
        return t.set_column(i, "f", t.column(i).chunk(0).view(pa.int64()))

    def lookup(v):
        return gc.decode_df_pruned_eq(blocks, "k", kinds, out_schema, "v", v)

    for v in (0, 4_321, 7_999):
        jobs, driver = _jobs_of(spark, f"eq-driver-{v}", lambda: lookup(v).collect())
        assert jobs == 0 and len(driver) == 10
        got = arrow(lookup(v))
        assert got.equals(arrow(df.filter(F.col("v") == v).select(*kinds)))
        monkeypatch.setattr(gc, "_DRIVER_DECODE_BUDGET", 0)
        jobs, _ = _jobs_of(spark, f"eq-job-{v}", lambda: lookup(v).collect())
        assert jobs == 1 and arrow(lookup(v)).equals(got)
        monkeypatch.undo()

    # 8_001 rows x 5 gathered columns: past the cap
    wide = gc.decode_df_pruned(
        blocks, "k", kinds, out_schema, "k", 1_000, 9_000
    )
    jobs, rows = _jobs_of(spark, "range-over-cap", wide.collect)
    assert jobs == 1 and len(rows) == 8_001
    assert arrow(wide).equals(arrow(df.filter(F.col("k").between(1_000, 9_000)).select(*kinds)))
    wide_f = gc.decode_df_pruned(blocks, "k", kinds, out_schema, "f", 0.0, 500.0)
    jobs, rows = _jobs_of(spark, "float-range-over-cap", wide_f.collect)
    assert jobs == 1 and len(rows) > 20_000
    assert arrow(wide_f).equals(
        arrow(df.filter(F.col("f").between(0.0, 500.0)).select(*kinds))
    )

    # both parts are boundary parts: 80k rows, far under the budget as
    # int rows, over it as str rows
    assert n * gc._ROW_WEIGHT["str"] > gc._DRIVER_DECODE_BUDGET >= n
    jobs, cnt = _jobs_of(spark, "count-str", lambda: gc.count_filtered_meta(
        blocks, kinds, "s", "s010000", "s070000"
    ).first()["cnt"])
    assert jobs == 1
    assert cnt == df.filter(F.col("s").between("s010000", "s070000")).count()
    jobs, cnt = _jobs_of(spark, "count-int", lambda: gc.count_filtered_meta(
        blocks, kinds, "k", 10_000, 70_000
    ).first()["cnt"])
    assert jobs == 0 and cnt == 60_001


def test_null_predicates_in_large_chunk_exact(spark, written):
    """IS NULL / IS NOT NULL on one 20k-row chunk whose nulls fill a
    200-row stretch return exactly the rows of a plain Spark filter."""
    from parquet_python_spark.operators.generic_codec import (
        _arrow_safe_schema,
        decode_df_pruned_multi,
        encode_df,
    )

    n = 20_000
    df = spark.range(n).select(
        F.col("id").alias("k"),
        F.when((F.col("id") >= ROWS) & (F.col("id") < ROWS + 200), None)
        .otherwise(F.col("id"))
        .alias("w"),
    )
    kinds = {"k": "int", "w": "int"}
    blocks = written(encode_df(df, "k", kinds, n_parts=1, partitioning="range"))
    out_schema = _arrow_safe_schema(df.select(*kinds).schema, kinds)
    dec = decode_df_pruned_multi(
        blocks, "k", kinds, out_schema, [("isnull", "w")]
    )
    assert sorted(r["k"] for r in dec.collect()) == list(range(ROWS, ROWS + 200))
    nn = decode_df_pruned_multi(
        blocks, "k", kinds, out_schema, [("notnull", "w")]
    )
    assert nn.count() == n - 200


def test_blocks_with_page_index_cells_decode_exact(spark, tmp_path, pred_row_expr):
    """Block files written while the format carried a per-page index
    (``page_stats`` / ``page_nulls`` cells next to each chunk) still
    decode, and the cells play no part: with junk in every one of them —
    bytes no page-index parser accepts — range, eq and IS NULL lookups
    over a >ROWS-row chunk return exactly the rows of a plain Spark
    filter."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_python_spark.operators.generic_codec import (
        _arrow_safe_schema,
        decode_df_pruned_multi,
        encode_df,
    )

    n = 3 * ROWS + 500
    df = spark.range(n).select(
        F.col("id").alias("l_orderkey"),
        (F.col("id") * 7 % 50 + 1).alias("l_partkey"),
        (F.col("id") % 11 / 100.0).alias("l_discount"),
        F.when(F.col("id") % 9 == 0, None)
        .otherwise(F.concat(F.lit("c"), F.col("id").cast("string")))
        .alias("l_comment"),
    )
    kinds = {
        "l_orderkey": "int", "l_partkey": "int", "l_discount": "float64",
        "l_comment": "str",
    }
    tbl = encode_df(
        df, "l_orderkey", kinds, n_parts=2, partitioning="range"
    ).toArrow()
    assert max(tbl.column("n_rows").to_pylist()) > ROWS
    junk = pa.array([b"junk-page-blob"] * tbl.num_rows, pa.binary())
    for c in ("page_stats", "page_nulls"):
        if c in tbl.column_names:
            tbl = tbl.drop_columns([c])
        tbl = tbl.append_column(c, junk)
    path = tmp_path / "blocks"
    path.mkdir()
    pq.write_table(tbl, str(path / "part-0.parquet"))

    out_schema = _arrow_safe_schema(df.select(*kinds).schema, kinds)
    lookups = [
        [("range", "l_orderkey", ROWS + 10, ROWS + 900)],
        [("range", "l_discount", 0.03, 0.05)],
        [("eq", "l_partkey", 8)],
        [("eq", "l_comment", f"c{2 * ROWS + 1}")],
        [("isnull", "l_comment")],
    ]
    wants = [
        sorted(map(tuple, df.filter(pred_row_expr(p)).collect()))
        for p in lookups
    ]
    assert all(wants)
    blocks = spark.read.parquet(str(path))
    for preds, want in zip(lookups, wants):
        dec = decode_df_pruned_multi(
            blocks, "l_orderkey", kinds, out_schema, preds
        )
        assert sorted(map(tuple, dec.collect())) == want, preds


_LM_KINDS = {"k": "int", "i": "int", "s": "str", "w": "int", "f": "float64"}


@pytest.fixture(scope="module")
def lm_blocks(spark, tmp_path_factory):
    """Four-part range-clustered blocks over unclustered int/str columns,
    a null-bearing int column and a float column holding NaN payloads of
    both signs, ±0.0 and ±inf; (raw DataFrame, blocks path, the same
    blocks written with .repartition(3) so every part spans files,
    written as one file whose rows interleave the parts, and the spread
    blocks shuffled by .repartition("part_id") and written again, so each
    part lies in one file again)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_python_spark.operators.generic_codec import encode_df

    n = 24_000
    k = np.arange(n, dtype=np.int64)
    f = k * 0.5 - 3_000.0
    specials = {
        97: np.uint64(0x7FF8_0000_0000_0001).view(np.float64),
        89: np.uint64(0xFFF8_0000_0000_0002).view(np.float64),
        83: -0.0,
        79: 0.0,
        73: np.inf,
        71: -np.inf,
    }
    for m, v in specials.items():
        f[k % m == 0] = v
    w = pa.array(k, mask=(k % 5 == 0))
    s = pa.array([f"s{(x * 31) % 500:03d}" for x in k.tolist()])
    base = tmp_path_factory.mktemp("late_mat")
    pq.write_table(
        pa.table({"k": k, "i": (k * 7919) % 1_000, "s": s, "w": w, "f": f}),
        str(base / "raw.parquet"),
    )
    raw = spark.read.parquet(str(base / "raw.parquet"))
    blocks = encode_df(raw, "k", _LM_KINDS, n_parts=4, partitioning="range")
    blocks.write.parquet(str(base / "blocks"))
    blocks.repartition(3).write.parquet(str(base / "spread"))
    blocks.coalesce(1).sortWithinPartitions("column").write.parquet(
        str(base / "mixed")
    )
    spark.read.parquet(str(base / "spread")).repartition("part_id").write.parquet(
        str(base / "shuffled")
    )
    return (
        raw, str(base / "blocks"), str(base / "spread"), str(base / "mixed"),
        str(base / "shuffled"),
    )


@pytest.mark.parametrize("path", ["file_direct", "shuffle"])
@pytest.mark.parametrize(
    "preds,combine",
    [
        ([("range", "i", 100, 180)], "and"),
        ([("eq", "i", 77)], "and"),
        ([("in", "i", [3, 500, 999])], "and"),
        ([("eq", "s", "s123")], "and"),
        ([("in", "s", ["s007", "s300"])], "and"),
        ([("range", "s", "s100", "s149")], "and"),
        ([("isnull", "w")], "and"),
        ([("notnull", "w")], "and"),
        (
            [("range", "k", 1_000, 1_100), ("eq", "i", 5), ("isnull", "w")],
            "or",
        ),
        ([("range", "f", -0.0, float("inf"))], "and"),
        ([("range", "f", float("nan"), float("nan"))], "and"),
        ([("range", "f", -1e9, 0.0)], "and"),
        ([("range", "i", 99.5, 180.5)], "and"),
        ([("range", "i", 990, float("nan"))], "and"),
    ],
    ids=[
        "int_range", "int_eq", "int_in", "str_eq", "str_in", "str_range",
        "isnull", "notnull", "or", "float_range", "float_nan_bounds",
        "float_hi_zero", "int_float_bounds", "int_nan_hi",
    ],
)
def test_late_materialized_rows(spark, lm_blocks, preds, combine, path, pred_row_expr):
    """The pruned decode's output equals a plain Spark filter row for row,
    for every column kind: the predicates ran at row level inside the
    surviving chunks, and nothing filters after the decode.  Float bounds
    follow Spark's order (NaN = NaN above +inf, -0.0 = 0.0), and an int
    column compares with float bounds in double.  ``path`` "file_direct"
    decodes the blocks as encode_df's write left them; "shuffle" decodes
    them after a .repartition("part_id") shuffle and a second write, the
    remedy for blocks whose parts span files, whose files interleave the
    parts in shuffle order.  The oracle scans the raw file with parquet
    filter pushdown off: the pushed-down filter drops NaN rows for a NaN
    bound, which Spark's own comparison keeps."""
    from parquet_python_spark.operators.generic_codec import (
        _arrow_safe_schema,
        decode_df_pruned_multi,
    )

    raw = lm_blocks[0]
    blocks = spark.read.parquet(lm_blocks[1 if path == "file_direct" else 4])
    out_schema = _arrow_safe_schema(raw.select(*_LM_KINDS).schema, _LM_KINDS)
    dec = decode_df_pruned_multi(blocks, "k", _LM_KINDS, out_schema, preds, combine)
    p = dec._sc._jvm.PythonSQLUtils.explainString(
        dec._jdf.queryExecution(), "formatted"
    )
    assert "FlatMapGroupsInArrow" not in p and "Exchange" not in p, p
    got = sorted(repr(r) for r in dec.collect())
    key = "spark.sql.parquet.filterPushdown"
    pushdown = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        want = raw.filter(pred_row_expr(preds, combine)).collect()
    finally:
        spark.conf.set(key, pushdown)
    want = sorted(repr(r) for r in want)
    assert want and got == want


def test_file_direct_gate_falls_back_when_parts_span_files(
    spark, lm_blocks, tmp_path, monkeypatch
):
    """Blocks whose parts span files (written after .repartition(3)) fail
    the driver's one-file proof, which raises ValueError naming the
    remedy.  The file-direct decode of one file whose rows interleave the
    parts, and of two files holding parts {0, 2} and {1, 3}, return the
    rows of the clustered blocks.  Each file's part_ids are read once per
    file version: a repeated proof reads no file, a file rewritten in
    place is read again.  Bundled file tasks return the same rows."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    import parquet_python_spark.operators.generic_codec as gc
    from parquet_python_spark.engine import _block_files
    from parquet_python_spark.operators.generic_codec import (
        _DECODE_SCHEMA,
        _arrow_safe_schema,
        decode_df_pruned_multi,
    )

    def _part_files(blocks):
        files = _block_files(blocks, _DECODE_SCHEMA)
        return {p: sorted(pids) for p, (pids, _) in files.items()}

    raw, blocks_path, spread_path, mixed_path = lm_blocks[:4]
    tbl = pq.read_table(blocks_path)
    pid_type = tbl.schema.field("part_id").type
    two = tmp_path / "two_files"
    two.mkdir()

    def write_two(a_pids, b_pids):
        for name, pids in (("a", a_pids), ("b", b_pids)):
            keep = pc.is_in(tbl.column("part_id"), pa.array(pids, pid_type))
            pq.write_table(tbl.filter(keep), str(two / f"{name}.parquet"))
        by_file = _part_files(spark.read.parquet(str(two)))
        return {p.rsplit("/", 1)[-1]: ps for p, ps in by_file.items()}

    clustered = spark.read.parquet(blocks_path)
    spread = spark.read.parquet(spread_path)
    mixed = spark.read.parquet(mixed_path)
    assert _part_files(clustered) and _part_files(mixed)
    with pytest.raises(ValueError, match=r"write\.parquet\(dir\)"):
        _part_files(spread)
    reads = []
    real_read = pq.ParquetFile.read

    def counting_read(self, *args, **kwargs):
        reads.append(args)
        return real_read(self, *args, **kwargs)

    monkeypatch.setattr(pq.ParquetFile, "read", counting_read)
    assert _part_files(clustered)
    assert not reads  # cached per file version
    assert write_two([0, 1], [2, 3]) == {"a.parquet": [0, 1], "b.parquet": [2, 3]}
    # rewritten in place: the cached part_ids of the old files go stale
    assert write_two([0, 2], [1, 3]) == {"a.parquet": [0, 2], "b.parquet": [1, 3]}
    monkeypatch.undo()
    odd_even = spark.read.parquet(str(two))
    out_schema = _arrow_safe_schema(raw.select(*_LM_KINDS).schema, _LM_KINDS)
    preds = [("range", "k", 4_000, 14_000), ("in", "i", [7, 70])]

    def rows(blocks):
        dec = decode_df_pruned_multi(blocks, "k", _LM_KINDS, out_schema, preds)
        return sorted(repr(r) for r in dec.collect())

    got_c = rows(clustered)
    assert got_c and rows(mixed) == got_c and rows(odd_even) == got_c
    with pytest.raises(ValueError, match=r"write\.parquet\(dir\)"):
        rows(spread)

    # past one file task per core, files share a task
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "defaultParallelism", property(lambda sc: 1))
    monkeypatch.setattr(gc, "_DRIVER_DECODE_BUDGET", 0)  # the Spark job
    # both files hold a kept part: two tasks unbundled
    dec = decode_df_pruned_multi(odd_even, "k", _LM_KINDS, out_schema, preds)
    assert dec.rdd.getNumPartitions() == 1
    assert sorted(repr(r) for r in dec.collect()) == got_c


def test_pruned_decode_detects_corrupt_payload(
    spark, lm_blocks, tmp_path, monkeypatch
):
    """One flipped payload byte in a block file makes a pruned decode of
    that chunk fail its crc32 check, on the driver (when called) and in
    the Spark job (when collected)."""
    import shutil

    import parquet_python_spark.operators.generic_codec as gc

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from parquet_python_spark.operators.generic_codec import (
        _arrow_safe_schema,
        decode_df_pruned_multi,
    )

    raw, blocks_path = lm_blocks[:2]
    bad = str(tmp_path / "bad")
    # without the .crc sidecars: Hadoop would reject the rewritten file first
    shutil.copytree(blocks_path, bad, ignore=shutil.ignore_patterns("*.crc"))
    victim = next(p for p in pq.ParquetDataset(bad).files if pq.read_metadata(p).num_rows)
    tbl = pq.read_table(victim)
    row = pc.index(tbl.column("column"), "i").as_py()
    pid = tbl.column("part_id")[row].as_py()
    payloads = tbl.column("payload").to_pylist()
    buf = bytearray(payloads[row])
    buf[len(buf) // 2] ^= 0xFF
    payloads[row] = bytes(buf)
    tbl = tbl.set_column(
        tbl.schema.get_field_index("payload"), "payload",
        pa.array(payloads, type=tbl.schema.field("payload").type),
    )
    pq.write_table(tbl, victim)
    k_lo = pid * 6_000  # range partitioning: part p holds keys [6000p, 6000p + 6000)
    out_schema = _arrow_safe_schema(raw.select(*_LM_KINDS).schema, _LM_KINDS)
    for budget in (None, 0):
        if budget is not None:
            monkeypatch.setattr(gc, "_DRIVER_DECODE_BUDGET", budget)
        with pytest.raises(Exception, match="checksum mismatch in i"):
            decode_df_pruned_multi(
                spark.read.parquet(bad), "k", _LM_KINDS, out_schema,
                [("range", "k", k_lo + 10, k_lo + 20)],
            ).collect()


def _nan(bits: int) -> float:
    import numpy as np

    return float(np.array([bits], dtype=np.uint64).view(np.float64)[0])


def test_nan_zone_maps_canonical_and_old_blocks_kept():
    """Every NaN, whatever its sign bit and payload, takes one stat image
    above +inf's.  Blocks written before that hold a sign-bit NaN's
    image below -inf's: a range whose hi is NaN keeps such a chunk,
    because Spark's filter keeps its NaN rows."""
    import numpy as np
    import pyarrow as pa

    from parquet_python_spark.operators.generic_codec import (
        _float_ordered_bits,
        _float_ordered_scalar,
        _range_keep,
    )

    nans = [_nan(b) for b in (0x7FF8_0000_0000_0000, 0xFFF8_0000_0000_0001,
                              0x7FF0_0000_0000_0001, 0xFFFF_FFFF_FFFF_FFFF)]
    ob = _float_ordered_bits(np.array([*nans, np.inf]))
    assert len(set(ob[:4].tolist())) == 1 and ob[0] > ob[4]

    def old_image(v):  # the transform before NaN was canonicalized
        bits = np.array([v]).view(np.int64)
        return int(np.where(bits >= 0, bits, bits ^ np.int64(2**63 - 1))[0])

    neg_nan = nans[1]
    assert old_image(neg_nan) < _float_ordered_scalar(-np.inf)
    meta = pa.table({
        "part_id": pa.array([0, 1], pa.int32()),
        "column": ["f", "f"],
        "stat_min": [old_image(neg_nan), _float_ordered_scalar(1.0)],
        "stat_max": [_float_ordered_scalar(1.0), _float_ordered_scalar(2.0)],
    })
    nan = float("nan")
    for lo, hi, want in (
        (nan, nan, [True, False]),
        (5.0, nan, [True, False]),
        (-1.0, 1.5, [True, True]),
        (1.5, 3.0, [False, True]),
    ):
        overlap, _, _ = _range_keep("float64", meta, "f", lo, hi)
        assert overlap.to_pylist() == want, (lo, hi)


def test_sign_bit_nan_pruned_equals_spark_filter(spark, tmp_path, pred_row_expr):
    """Hypothesis: float columns holding NaNs of both signs and several
    payloads (plus ±0.0 and ±inf) return, through a pruned decode and the
    exact re-filter, the rows of a plain Spark filter, for bounds that
    may themselves be NaN, ±inf or ±0."""
    import itertools

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    from parquet_python_spark.operators.generic_codec import (
        _arrow_safe_schema,
        decode_df_pruned_multi,
        encode_df,
    )

    kinds = {"k": "int", "f": "float64"}
    specials = [
        _nan(0x7FF8_0000_0000_0000), _nan(0xFFF8_0000_0000_0000),
        _nan(0xFFF0_0000_0000_0001), _nan(0x7FFF_FFFF_FFFF_FFFF),
        _nan(0xFFFF_FFFF_FFFF_FFFF), -0.0, 0.0, float("inf"), float("-inf"),
    ]
    bound = st.one_of(
        st.sampled_from(specials), st.floats(-100.0, 100.0, allow_nan=False)
    )
    n = 9_000  # two parts of 4500 rows
    runs = itertools.count()

    @settings(max_examples=8, deadline=None)
    # a sign-bit NaN in the low part, whose finite values all lie below lo
    @example([(10, specials[1])], float("nan"), float("nan"))
    @example([(20, specials[2])], 5.0, float("nan"))
    @given(
        st.lists(
            st.tuples(st.integers(0, n - 1), st.sampled_from(specials)),
            min_size=1, max_size=12,
        ),
        bound,
        bound,
    )
    def check(placed, lo, hi):
        f = np.arange(n) / 50.0 - 90.0
        for pos, v in placed:
            f[pos] = v
        base = tmp_path / f"run{next(runs)}"
        base.mkdir()
        pq.write_table(
            pa.table({"k": np.arange(n, dtype=np.int64), "f": f}),
            str(base / "raw.parquet"),
        )
        raw = spark.read.parquet(str(base / "raw.parquet"))
        encode_df(raw, "k", kinds, n_parts=2, partitioning="range").write.parquet(
            str(base / "blocks")
        )
        preds = [("range", "f", lo, hi)]
        # unpushed: Spark's parquet row-group filter drops the NaN rows of
        # a NaN-bound range (parquet's min/max ignore NaN)
        push = "spark.sql.parquet.filterPushdown"
        prev = spark.conf.get(push)
        spark.conf.set(push, "false")
        try:
            want = sorted(r.k for r in raw.filter(pred_row_expr(preds)).collect())
        finally:
            spark.conf.set(push, prev)
        out_schema = _arrow_safe_schema(raw.schema, kinds)
        blocks = spark.read.parquet(str(base / "blocks"))
        dec = decode_df_pruned_multi(blocks, "k", kinds, out_schema, preds)
        got = sorted(r.k for r in dec.filter(pred_row_expr(preds)).collect())
        assert got == want, (lo, hi)

    check()


def test_numpy_scalar_bounds_match_python(spark, lm_blocks, pred_row_expr):
    """numpy int64/int32/float64 bounds and eq/IN values prune and answer
    exactly as the same Python numbers do; bool-like values stay
    rejected."""
    import numpy as np

    from parquet_python_spark.operators.generic_codec import (
        _arrow_safe_schema,
        count_filtered_meta,
        decode_df_pruned_multi,
    )

    raw, blocks_path = lm_blocks[:2]
    blocks = spark.read.parquet(blocks_path)
    out_schema = _arrow_safe_schema(raw.select(*_LM_KINDS).schema, _LM_KINDS)

    def rows(preds):
        dec = decode_df_pruned_multi(blocks, "k", _LM_KINDS, out_schema, preds)
        return sorted(repr(r) for r in dec.filter(pred_row_expr(preds)).collect())

    cases = [
        ([("range", "i", 100, 180)], [("range", "i", np.int64(100), np.int64(180))]),
        ([("range", "k", 900, 5_000)], [("range", "k", np.int32(900), np.int32(5_000))]),
        ([("range", "f", -10.5, 20.0)], [("range", "f", np.float64(-10.5), np.float64(20.0))]),
        ([("range", "f", -10, 20)], [("range", "f", np.int64(-10), np.int32(20))]),
        ([("eq", "i", 77)], [("eq", "i", np.int64(77))]),
        ([("in", "i", [3, 500])], [("in", "i", [np.int32(3), np.int64(500)])]),
    ]
    for py, npy in cases:
        want = rows(py)
        assert want and rows(npy) == want, py
    cnt = count_filtered_meta(blocks, _LM_KINDS, "k", 2_500, 17_499).first().cnt
    assert (
        count_filtered_meta(
            blocks, _LM_KINDS, "k", np.int64(2_500), np.int64(17_499)
        ).first().cnt
        == cnt
        == 15_000
    )
    for bad in (
        [("range", "i", np.bool_(True), 5)],
        [("range", "i", True, 5)],
        [("eq", "i", np.bool_(False))],
    ):
        with pytest.raises(ValueError, match="int pred_col needs"):
            decode_df_pruned_multi(blocks, "k", _LM_KINDS, out_schema, bad)


def test_block_index_replans_rewritten_file(spark, tmp_path):
    """A file-direct pruned call plans from the block index, in no Spark
    job; a block file rewritten in place with other statistics is indexed
    again, so the next call gets the new file's keep set and rows."""
    import shutil

    import pyarrow.parquet as pq

    from parquet_python_spark.operators.generic_codec import (
        _arrow_safe_schema,
        _pred_keeps,
        decode_df_pruned,
        encode_df,
    )

    kinds = {"k": "int", "v": "int"}
    srcs = {}
    for base in (0, 100_000):
        df = spark.range(8_000).select(
            (F.col("id") + base).alias("k"), (F.col("id") % 97).alias("v")
        )
        out = str(tmp_path / f"src{base}")
        encode_df(df, "k", kinds, n_parts=2, partitioning="range").coalesce(
            1
        ).write.parquet(out)
        (srcs[base],) = [f for f in pq.ParquetDataset(out).files]
        srcs[base, "df"] = df
    target = tmp_path / "blocks"
    target.mkdir()
    out_schema = _arrow_safe_schema(srcs[0, "df"].schema, kinds)
    pred = [("range", "k", 100_100, 100_200)]
    for base, want_keep in ((0, set()), (100_000, {0})):
        shutil.copyfile(srcs[base], target / "part.parquet")
        blocks = spark.read.parquet(str(target))
        n, (files, planned) = _jobs_of(
            spark, f"replan-{base}", lambda: _pred_keeps(blocks, kinds, pred)
        )
        assert files and n == 0
        assert planned[0][0] == want_keep
        got = sorted(
            tuple(r)
            for r in decode_df_pruned(
                blocks, "k", kinds, out_schema, "k", 100_100, 100_200
            ).collect()
        )
        want = sorted(
            tuple(r)
            for r in srcs[base, "df"].filter(F.col("k").between(100_100, 100_200))
            .collect()
        )
        assert got == want and bool(got) == bool(want_keep)


def test_bloom_rejected_part_decodes_nothing(spark, tmp_path, monkeypatch):
    """A part whose chunk statistics admit an eq value but whose Bloom
    filter rules it out has no payload read or decoded.  File-direct (the
    read loop run in this process): the task reads the parts' ``bloom``
    cells first, so a file whose every part is ruled out reads no
    payload, and a file holding a ruled-out and an admitted part reads
    the admitted part's rows only.  The admitted part yields the matching
    row."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_schema

    import parquet_python_spark.engine as engine
    from parquet_python_spark.operators import generic_codec as gc

    # v is an even-valued permutation of k: each value lives in one part,
    # yet both chunks' [min, max] span nearly all of [0, 15_998]
    df = spark.range(8_000).select(
        F.col("id").alias("k"),
        (F.col("id") * 7919 % 8000 * 2).alias("v"),
        F.concat(F.lit("s"), (F.col("id") % 300).cast("string")).alias("s"),
    )
    kinds = {"k": "int", "v": "int", "s": "str"}
    path = str(tmp_path / "blocks")
    gc.encode_df(df, "k", kinds, n_parts=2, partitioning="range").coalesce(
        1
    ).write.parquet(path)
    tbl = pq.read_table(path, columns=["part_id", "column", "stat_max", "bloom"])
    k_max = {
        r["part_id"]: r["stat_max"]
        for r in tbl.filter(pc.equal(tbl.column("column"), "k")).to_pylist()
    }
    blooms = {
        r["part_id"]: r["bloom"]
        for r in tbl.filter(pc.equal(tbl.column("column"), "v")).to_pylist()
    }
    assert len(blooms) == 2 and all(blooms.values())
    first, second = sorted(k_max, key=k_max.get)

    def ruled_out(pid, v):
        return not gc.bloom_might_contain(blooms[pid], v)

    # in neither part (odd), and in the first part only
    none_v = next(
        v for v in range(1, 15_999, 2)
        if ruled_out(first, v) and ruled_out(second, v)
    )
    one_v = next(
        v for v in (k * 7919 % 8000 * 2 for k in range(k_max[first] + 1))
        if ruled_out(second, v)
    )
    out_schema = gc._arrow_safe_schema(df.schema, kinds)
    decoded, reads = [], []

    def spy(name):
        real = getattr(gc, name)

        def wrapped(*args):
            decoded.append(name)
            return real(*args)

        monkeypatch.setattr(gc, name, wrapped)

    spy("_decode_values")
    real_read = pq.read_table

    def read_table(path, columns=None, filters=None, **kwargs):
        reads.append((tuple(columns), filters))
        return real_read(path, columns=columns, filters=filters, **kwargs)

    def in_process(spark_, tasks, run_task, schema):
        batches = [b for t in tasks for b in run_task(t)]
        return spark_.createDataFrame(
            pa.Table.from_batches(batches, to_arrow_schema(schema)), schema
        )

    monkeypatch.setattr(pq, "read_table", read_table)
    monkeypatch.setattr(engine, "map_tasks", in_process)
    direct = spark.read.parquet(path)
    # on the driver, then in the job's task (a driver budget of 0 rows)
    for budget in (None, 0):
        if budget is not None:
            monkeypatch.setattr(gc, "_DRIVER_DECODE_BUDGET", budget)
        for v, want in ((none_v, 0), (one_v, 1)):
            decoded.clear()
            reads.clear()
            out = gc.decode_df_pruned_eq(direct, "k", kinds, out_schema, "v", v)
            reads_at_call = list(reads)
            n = out.count()
            assert reads == reads_at_call  # decoded when called
            assert n == want and bool(decoded) == bool(want), (v, n, decoded)
            assert reads[0][0] == ("part_id", "column", "bloom"), reads
            payload_reads = [f for cols, f in reads if "payload" in cols]
            want_reads = [[("part_id", "in", [first])]] if want else []
            assert payload_reads == want_reads, reads
    monkeypatch.undo()
    got = gc.decode_df_pruned_eq(direct, "k", kinds, out_schema, "v", one_v)
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in df.filter(F.col("v") == one_v).collect()
    ]


def test_str_bloom_probes_hash_in_no_job(
    spark, tmp_path, pred_row_expr, monkeypatch
):
    """Str eq/IN probes are hashed on the driver through one VALUES
    query that runs no Spark job, to the same xxhash64 the encode built
    the filters over; a str eq and IN lookup on file-direct blocks then
    equals a plain Spark filter, answered on the driver with no job, or
    in one job with a driver-decode budget of 0 rows."""
    import parquet_python_spark.operators.generic_codec as gc
    from parquet_python_spark.operators.generic_codec import (
        _arrow_safe_schema,
        _bloom_probes,
        decode_df_pruned_multi,
        encode_df,
    )

    df = spark.range(6_000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("s"), (F.col("id") * 7 % 400).cast("string")).alias("s"),
    )
    kinds = {"k": "int", "s": "str"}
    path = str(tmp_path / "blocks")
    encode_df(df, "k", kinds, n_parts=3, partitioning="range").write.parquet(path)
    blocks = spark.read.parquet(path)
    out_schema = _arrow_safe_schema(df.schema, kinds)
    preds = [("eq", "s", "s17"), ("in", "s", ["s3", "zz", "s3"])]
    n, probes = _jobs_of(
        spark, "str-probes", lambda: _bloom_probes(spark, kinds, preds)
    )
    assert n == 0
    want = {
        v: spark.range(1).select(F.xxhash64(F.lit(v))).first()[0]
        for v in ("s17", "s3", "zz")
    }
    assert probes == {("s", v, v): h for v, h in want.items()}
    for budget in (None, 0):
        if budget is not None:
            monkeypatch.setattr(gc, "_DRIVER_DECODE_BUDGET", budget)
        for lookup, combine in ((preds[:1], "and"), (preds, "or")):
            n, got = _jobs_of(spark, f"str-lookup-{combine}-{budget}", lambda: sorted(
                tuple(r) for r in decode_df_pruned_multi(
                    blocks, "k", kinds, out_schema, lookup, combine
                ).collect()
            ))
            expr = pred_row_expr(lookup, combine)
            assert n == (budget == 0) and got
            assert got == sorted(tuple(r) for r in df.filter(expr).collect())


def test_file_direct_missing_pred_column_raises(spark, tmp_path):
    """On file-direct blocks the "no chunks" check is decided from the
    block index: a predicate column never encoded into non-empty blocks
    raises for the pruned decodes and the metadata aggregates."""
    from parquet_python_spark.operators.generic_codec import (
        _arrow_safe_schema,
        _block_files,
        _PLAN_SCHEMA,
        count_filtered_meta,
        decode_df_pruned,
        decode_df_pruned_multi,
        encode_df,
    )

    df = spark.range(100).select(F.col("id").alias("k"))
    kinds = {"k": "int"}
    path = str(tmp_path / "blocks")
    encode_df(df, "k", kinds, n_parts=2).write.parquet(path)
    blocks = spark.read.parquet(path)
    assert _block_files(blocks, _PLAN_SCHEMA)
    out_schema = _arrow_safe_schema(df.schema, kinds)
    wide = {"k": "int", "zz": "int"}
    with pytest.raises(ValueError, match="no chunks"):
        decode_df_pruned(blocks, "k", wide, out_schema, "zz", 0, 10)
    with pytest.raises(ValueError, match="no chunks"):
        decode_df_pruned_multi(
            blocks, "k", wide, out_schema,
            [("range", "zz", 0, 10), ("eq", "k", 3)], combine="or",
        )
    with pytest.raises(ValueError, match="no chunks"):
        count_filtered_meta(blocks, wide, "zz", 0, 10)


def test_fresh_scan_beside_a_cached_one_stays_file_direct(spark, tmp_path):
    """Once one DataFrame caches a blocks directory's scan, Spark's cache
    manager substitutes that cache into every later bare scan of the
    directory.  Such a fresh, uncached scan still decodes file-direct,
    with exactly the rows of a Spark filter; the cached DataFrame itself
    is no bare scan, and a decode of it raises.  A bare scan's file list
    is its inputFiles."""
    from parquet_python_spark.engine import local_parquet_scan_files, local_path
    from parquet_python_spark.operators.generic_codec import (
        _arrow_safe_schema,
        decode_df_pruned,
        encode_df,
    )

    df = spark.range(20_000).select(
        F.col("id").alias("k"), (F.col("id") * 7 % 1000).alias("v")
    )
    kinds = {"k": "int", "v": "int"}
    path = str(tmp_path / "blocks")
    encode_df(df, "k", kinds, n_parts=4, partitioning="range").write.parquet(path)
    out_schema = _arrow_safe_schema(df.schema, kinds)
    bare = spark.read.parquet(path)
    assert local_parquet_scan_files(bare) == sorted(
        local_path(f) for f in bare.inputFiles()
    )
    want = sorted(map(tuple, df.filter(F.col("k").between(5_000, 6_000)).collect()))

    def lookup(blocks):
        dec = decode_df_pruned(blocks, "k", kinds, out_schema, "k", 5_000, 6_000)
        plan = dec._jdf.queryExecution().executedPlan().toString()
        return "FlatMapGroupsInArrow" in plan, sorted(map(tuple, dec.collect()))

    cached = spark.read.parquet(path).cache()
    try:
        cached.count()
        fresh = spark.read.parquet(path)
        optimized = fresh._jdf.queryExecution().optimizedPlan()
        assert optimized.getClass().getSimpleName() == "InMemoryRelation"
        assert lookup(fresh) == (False, want)
        with pytest.raises(ValueError, match=r"write\.parquet\(dir\)"):
            lookup(cached)
    finally:
        cached.unpersist()


@pytest.fixture(scope="module")
def tokens_blocks(spark, tmp_path_factory):
    """(a tokens blocks dir, the same blocks written after .repartition(3)
    so every part spans files)."""
    from parquet_python_spark.engine import encode_table_files_native
    from parquet_python_spark.tokengen import generate_tokens_df

    base = tmp_path_factory.mktemp("tokens_blocks")
    generate_tokens_df(spark, 200, 7, partitions=2).write.parquet(str(base / "inp"))
    encode_table_files_native(
        spark, str(base / "inp"), str(base / "blocks"), snapshot_id="t"
    ).count()
    spark.read.parquet(str(base / "blocks")).repartition(3).write.parquet(
        str(base / "spread")
    )
    return str(base / "blocks"), str(base / "spread")


_DECODERS = {
    "decode_blocks": lambda e, g, b, s: e.decode_blocks(b),
    "decode_df_pruned_multi": lambda e, g, b, s: g.decode_df_pruned_multi(
        b, "k", _LM_KINDS, s, [("range", "k", 0, 10)]
    ),
    "count_filtered_meta": lambda e, g, b, s: g.count_filtered_meta(
        b, _LM_KINDS, "k", 0, 10
    ),
    "topk_filtered_meta": lambda e, g, b, s: g.topk_filtered_meta(
        b, _LM_KINDS, "k", 3
    ),
}


@pytest.mark.parametrize("decoder", list(_DECODERS))
@pytest.mark.parametrize(
    "shape", ["filtered", "cached", "parts_span_files", "other_schema"]
)
def test_dataframe_held_blocks_raise(spark, lm_blocks, tokens_blocks, decoder, shape):
    """Every public decoder reads block files or raises: a filtered scan,
    a cached scan, blocks whose parts span files and blocks of the other
    schema (tokens blocks handed to a generic decoder, generic ones to
    decode_blocks) raise the one ValueError, which names the remedy."""
    import re

    from parquet_python_spark import engine
    from parquet_python_spark.operators import generic_codec as gc

    own, spread = (
        tokens_blocks if decoder == "decode_blocks" else lm_blocks[1:3]
    )
    other = lm_blocks[1] if decoder == "decode_blocks" else tokens_blocks[0]
    blocks = spark.read.parquet(
        {"parts_span_files": spread, "other_schema": other}.get(shape, own)
    )
    if shape == "filtered":
        blocks = blocks.filter(F.col("n_rows") >= 0)
    elif shape == "cached":
        blocks = blocks.cache()
    out_schema = gc._arrow_safe_schema(
        lm_blocks[0].select(*_LM_KINDS).schema, _LM_KINDS
    )
    try:
        with pytest.raises(ValueError, match=re.escape(engine._NOT_BLOCK_FILES)):
            _DECODERS[decoder](engine, gc, blocks, out_schema)
    finally:
        blocks.unpersist()
