"""Generic column-codec operator tests: round-trips over driver tables,
null handling (D17), sinks (S5/S6), describe (S4), converted types (D21)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from parquet_python_spark.operators.generic_codec import roundtrip

SF = "/root/testdata/sf0.001"


def _t(spark, name):
    return spark.read.parquet(f"{SF}/{name}.parquet")


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


def _composed(written, df, key_col, kinds, **encode_kw):
    """The unfused composition: encode_df blocks, written, decoded whole
    (every row of a key with no nulls), cast back to the input's Spark
    types like roundtrip's output."""
    from parquet_python_spark.operators.generic_codec import (
        _arrow_safe_schema,
        decode_df_pruned_multi,
        encode_df,
    )

    in_schema = df.select(*list(kinds)).schema
    return decode_df_pruned_multi(
        written(encode_df(df, key_col, kinds, **encode_kw)),
        key_col,
        kinds,
        _arrow_safe_schema(in_schema, kinds),
        [("notnull", key_col)],
    ).select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in in_schema.fields]
    )


def test_roundtrip_with_nulls(spark):
    """Definition-level null weave (reference __init__.py:295-317,336-338)."""
    li = _t(spark, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_linenumber") > 2, F.col("l_suppkey")).alias("maybe_supp"),
        F.when(F.col("l_linenumber") % 2 == 0, F.col("l_returnflag")).alias("maybe_flag"),
    )
    assert li.filter(F.col("maybe_supp").isNull()).count() > 0
    rt = roundtrip(
        li,
        "l_orderkey",
        {
            "l_orderkey": "int",
            "l_linenumber": "int",
            "maybe_supp": "int",
            "maybe_flag": "str",
        },
    )
    assert _sorted(rt.select(*li.columns)) == _sorted(li)


def test_roundtrip_all_null_column(spark):
    df = _t(spark, "nation").select(
        "n_nationkey", F.lit(None).cast("string").alias("nothing")
    )
    rt = roundtrip(df, "n_nationkey", {"n_nationkey": "int", "nothing": "str"})
    assert _sorted(rt.select("n_nationkey", "nothing")) == _sorted(df)


def test_sinks_roundtrip(spark, tmp_path):
    """S5 (tab CSV) and S6 (JSON lines) sinks reproduce the table."""
    from parquet_python_spark.sources.sinks import write_csv, write_jsonl

    nation = _t(spark, "nation")
    csv_path = str(tmp_path / "nation_csv")
    json_path = str(tmp_path / "nation_json")
    write_csv(nation, csv_path)
    write_jsonl(nation, json_path)
    csv_back = (
        spark.read.option("sep", "\t").option("header", True)
        .schema(nation.schema).csv(csv_path)
    )
    json_back = spark.read.schema(nation.schema).json(json_path)
    assert _sorted(csv_back) == _sorted(nation)
    assert _sorted(json_back) == _sorted(nation)


def test_describe_table(spark):
    from parquet_python_spark.sources.sinks import describe_table

    d = {r["column_name"]: r for r in describe_table(_t(spark, "nation")).collect()}
    assert d["n_nationkey"]["n_rows"] == 25
    assert d["n_nationkey"]["n_distinct"] == 25
    assert d["n_nationkey"]["n_nulls"] == 0
    assert d["n_regionkey"]["n_distinct"] == 5


def test_converted_types(spark):
    """D21 parity: decimal scaling, date-from-days, timestamp-millis, uints,
    json — checked against exact expected values."""
    from parquet_python_spark.functions import converted as C

    df = spark.createDataFrame(
        [(12345, 19000, 1_600_000_000_000, -1, '{"k": 7}')],
        "unscaled long, days int, millis long, b int, js string",
    )
    row = df.select(
        C.decimal_from_unscaled(F.col("unscaled"), 10, 2).alias("dec"),
        C.date_from_days(F.col("days")).alias("dt"),
        C.timestamp_from_millis(F.col("millis")).alias("ts"),
        C.uint8(F.col("b").cast("tinyint")).alias("u8"),
        C.uint32(F.col("b")).alias("u32"),
        C.json_field(F.col("js"), "$.k").alias("k"),
    ).collect()[0]
    assert str(row["dec"]) == "123.45"
    assert str(row["dt"]) == "2022-01-08"  # 19000 days after 1970-01-01
    assert row["ts"].year == 2020
    assert row["u8"] == 255
    assert row["u32"] == 2**32 - 1
    assert row["k"] == "7"


def test_embeddings_float_bit_exact(spark):
    emb = _t(spark, "embeddings")
    rt = roundtrip(emb, "vec_id", {"vec_id": "int", "embedding": "f32_list"})
    a = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float32) for r in rt.collect()}
    b = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float32) for r in emb.collect()}
    assert a.keys() == b.keys()
    for k in a:
        assert np.array_equal(a[k], b[k])  # bit-exact, not approx


def test_range_partitioning_wide_key_span(spark, written):
    """Hash-derived int64 keys spanning most of the int64 range: the exact
    integer bucketing formula would overflow (key-lo)*n_parts; the double
    fallback must keep part ids in [0, n_parts) and the round-trip exact."""
    from pyspark.sql import functions as F

    from parquet_python_spark.operators.generic_codec import encode_df, roundtrip

    df = spark.range(0, 500).select(
        (F.xxhash64(F.col("id").cast("string"))).alias("k"),
        F.col("id").alias("v"),
    )
    blocks = encode_df(
        df, "k", {"k": "int", "v": "int"}, n_parts=8, partitioning="range"
    )
    pids = [r["part_id"] for r in blocks.select("part_id").distinct().collect()]
    assert all(0 <= p < 8 for p in pids)
    rt = roundtrip(df, "k", {"k": "int", "v": "int"})
    exp = _sorted(df)
    assert _sorted(rt) == exp
    composed = _composed(written, df, "k", {"k": "int", "v": "int"}, n_parts=8)
    assert _sorted(composed) == exp


@pytest.mark.parametrize("key_type", ["string", "double"])
def test_encode_df_rejects_a_key_it_cannot_range_partition(spark, key_type):
    """encode_df range-partitions on integral keys only: a string key (even
    of numeric strings) or a double key raises a ValueError naming the
    column before any Spark job runs; so does any other layout."""
    from parquet_python_spark.operators.generic_codec import encode_df

    sc = spark.sparkContext
    df = spark.range(10).select(
        F.col("id").cast(key_type).alias("key"), F.col("id").alias("v")
    )
    kinds = {"key": "int", "v": "int"}
    sc.setJobGroup("encode_df_key_check", "encode_df key check")
    try:
        with pytest.raises(ValueError, match="'key'"):
            encode_df(df, "key", kinds, n_parts=2)
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("encode_df_key_check") == []
    with pytest.raises(ValueError, match="partitioning 'hash'"):
        encode_df(df.select(F.col("v").alias("key"), "v"), "key", kinds,
                  partitioning="hash")


def test_roundtrip_fused_single_exchange(spark, written):
    """Round-6 optimization: roundtrip runs encode+decode in ONE fused
    python pass (MapInArrow) with no content-hash grouping — the unfused
    plan had two group-map nodes and two exchanges, shuffling every input
    row AND every encoded payload.  Rows must equal the unfused
    encode_df -> write -> decode composition bit-for-bit.  (The only exchange the
    fused plan may carry is the conditional round-robin parallelism bump
    for few-split scans — never a hash partitioning.)"""
    li = _t(spark, "lineitem")
    kinds = {"l_orderkey": "int", "l_partkey": "int", "l_quantity": "float64"}
    fused = roundtrip(li, "l_orderkey", kinds)
    plan = fused._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInArrow" not in plan
    assert "MapInArrow" in plan
    assert "hashpartitioning" not in plan

    unfused = _composed(written, li, "l_orderkey", kinds)
    assert _sorted(fused) == _sorted(unfused)


def test_roundtrip_file_direct_fast_path(spark, written):
    """Round-6 optimization: a bare local parquet scan round-trips via
    file-direct pyarrow reads (range dispatch, one task per row-group
    piece) — Spark's scan->Arrow conversion, which dominated the fused
    path, is gone from the plan entirely.  Rows must equal the unfused
    encode_df -> write -> decode composition bit-for-bit."""
    from parquet_python_spark.operators.generic_codec import (
        _bare_local_parquet_units,
    )

    li = _t(spark, "lineitem")
    kinds = {"l_orderkey": "int", "l_partkey": "int", "l_quantity": "float64"}
    sel = list(kinds)
    assert _bare_local_parquet_units(li, sel) is not None

    fast = roundtrip(li, "l_orderkey", kinds)
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    assert "Range" in plan  # file-direct dispatch, not a parquet scan
    assert "Scan parquet" not in plan
    assert "Exchange" not in plan

    composed = _composed(written, li, "l_orderkey", kinds, n_parts=4)
    assert _sorted(fast) == _sorted(composed)


def test_roundtrip_file_direct_fallbacks(spark):
    """The fast path must refuse anything that is not a bare local parquet
    scan: filtered/derived inputs keep the scan-fed fused path (plan
    retains the parquet scan), and timestamp columns are excluded because
    Spark's Arrow conversion applies session-timezone semantics."""
    from parquet_python_spark.operators.generic_codec import (
        _bare_local_parquet_units,
    )

    li = _t(spark, "lineitem")
    # filtered input: optimized plan is Filter(LogicalRelation) — no fast
    filtered = li.filter(F.col("l_orderkey") > 100)
    assert _bare_local_parquet_units(filtered, ["l_orderkey"]) is None
    kinds = {"l_orderkey": "int", "l_partkey": "int"}
    rt = roundtrip(filtered, "l_orderkey", kinds)
    plan = rt._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" in plan  # generic fused path kept
    assert _sorted(rt) == _sorted(filtered.select("l_orderkey", "l_partkey"))

    # derived input: Project with a computed column — no fast
    derived = li.select(
        "l_orderkey", (F.col("l_partkey") * 2).alias("double_pk")
    )
    assert _bare_local_parquet_units(derived, ["l_orderkey"]) is None

    # timestamp column in the file: value semantics differ through Spark's
    # Arrow conversion — the whole file is refused
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        li.select(
            "l_orderkey",
            F.to_timestamp(F.lit("2024-01-02 03:04:05")).alias("ts"),
        ).write.parquet(f"{d}/ts_table")
        ts_df = spark.read.parquet(f"{d}/ts_table")
        assert _bare_local_parquet_units(ts_df, ["l_orderkey", "ts"]) is None
        # the shared scan gate refuses any relation whose file format is
        # not exactly ParquetFileFormat, before a footer is ever opened
        from parquet_python_spark.engine import local_parquet_scan_files

        li.select("l_orderkey").write.orc(f"{d}/orc_table")
        orc_df = spark.read.orc(f"{d}/orc_table")
        assert local_parquet_scan_files(orc_df) is None
        assert local_parquet_scan_files(ts_df) is not None
        # ...but a timestamp column NOT requested by the round-trip is fine
        units = _bare_local_parquet_units(ts_df, ["l_orderkey"])
        assert units is not None
        rt2 = roundtrip(ts_df, "l_orderkey", {"l_orderkey": "int"})
        assert _sorted(rt2) == _sorted(ts_df.select("l_orderkey"))


def test_roundtrip_file_direct_row_group_split(spark, tmp_path):
    """In the few-row-group regime the fast path splits a large row group
    into ~TARGET_ROWS_PER_PART pieces so a single-file table does not
    serialize the codec pass on one task; values stay identical."""
    import parquet_python_spark.operators.generic_codec as gc

    df = spark.range(0, 3000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    path = str(tmp_path / "one_file")
    df.coalesce(1).write.parquet(path)
    back = spark.read.parquet(path)
    old = gc.TARGET_ROWS_PER_PART
    gc.TARGET_ROWS_PER_PART = 1000  # force splitting on the small fixture
    try:
        _paths, units = gc._bare_local_parquet_units(back, ["k", "v"])
        assert len(units) == 1  # one file, one row group
        parallelism = spark.sparkContext.defaultParallelism
        assert len(gc._file_direct_tasks(units, parallelism)) > 1
        rt = gc.roundtrip(back, "k", {"k": "int", "v": "int"})
        assert _sorted(rt) == _sorted(back.select("k", "v"))
    finally:
        gc.TARGET_ROWS_PER_PART = old


def test_file_direct_refuses_legacy_dates(spark, tmp_path):
    """Dates written in Spark's LEGACY (julian) calendar are rebased by
    Spark's scan but not by a raw pyarrow read, so the file-direct path
    must refuse date columns and leave them to the scan-fed path."""
    import datetime

    import pyarrow.parquet as pq

    from parquet_python_spark.operators.generic_codec import (
        _bare_local_parquet_units,
    )

    path = str(tmp_path / "legacy_dates")
    key = "spark.sql.parquet.datetimeRebaseModeInWrite"
    spark.conf.set(key, "LEGACY")
    try:
        df = spark.sql("SELECT 1L AS k, DATE '1500-01-01' AS d")
        df.coalesce(1).write.parquet(path)
    finally:
        spark.conf.unset(key)
    back = spark.read.parquet(path)
    want = datetime.date(1500, 1, 1)
    assert back.collect()[0]["d"] == want
    assert pq.read_table(path).column("d")[0].as_py() != want  # no rebase
    assert _bare_local_parquet_units(back, ["d"]) is None
    assert _bare_local_parquet_units(back, ["k"]) is not None


def test_encode_sort_skip_byte_identical(spark):
    """The already-sorted check before the per-chunk sort must be a pure
    skip: blocks encoded from a pre-sorted chunk equal the always-sort
    wire byte-for-byte (stable sort of sorted input is the identity), and
    unsorted/null-key chunks still sort."""
    import pyarrow as pa

    import parquet_python_spark.operators.generic_codec as gc

    li = _t(spark, "lineitem")
    kinds = {"l_orderkey": "int", "l_partkey": "int", "l_quantity": "float64"}
    enc = gc._chunk_encoder("l_orderkey", kinds, build_stats=False)
    pdf = li.select(*kinds).toPandas()
    t_sorted = pa.Table.from_pandas(
        pdf.sort_values("l_orderkey", kind="mergesort"), preserve_index=False
    )
    t_shuffled = pa.Table.from_pandas(
        pdf.sample(frac=1.0, random_state=7), preserve_index=False
    )
    assert gc._is_sorted_by(t_sorted, "l_orderkey")
    assert not gc._is_sorted_by(t_shuffled, "l_orderkey")
    # the skip's premise, on real data WITH duplicate keys: a stable sort
    # of already-sorted input is the identity permutation, so skipping it
    # cannot change a single byte of the encode
    assert t_sorted.sort_by("l_orderkey").equals(t_sorted)
    a = enc(t_sorted, part_id=0).to_pylist()
    b = enc(t_sorted.sort_by("l_orderkey"), part_id=0).to_pylist()
    assert [r["payload"] for r in a] == [r["payload"] for r in b]
    assert [r["checksum"] for r in a] == [r["checksum"] for r in b]
    # an unsorted chunk still goes through the sort and round-trips to the
    # same multiset of rows
    out_schema = gc._arrow_safe_schema(li.select(*kinds).schema, kinds)
    dec = gc._decode_fn(kinds, out_schema)
    got = dec(enc(t_shuffled, part_id=0)).to_pandas()
    exp = pdf.astype({"l_partkey": "int64"})
    key = ["l_orderkey", "l_partkey", "l_quantity"]
    assert (
        got.sort_values(key).reset_index(drop=True).equals(
            exp.astype(got.dtypes.to_dict())
            .sort_values(key)
            .reset_index(drop=True)
        )
    )
    # null keys defer to sort_by (nulls go last) — the check must not
    # claim sortedness
    t_nulls = pa.table(
        {
            "l_orderkey": pa.array([1, None, 3], type=pa.int64()),
            "l_partkey": pa.array([1, 2, 3], type=pa.int64()),
            "l_quantity": pa.array([1.0, 2.0, 3.0]),
        }
    )
    assert not gc._is_sorted_by(t_nulls, "l_orderkey")


def test_roundtrip_key_not_in_output_columns(spark):
    """Round-6 review fix: the zero-shuffle fused path must carry the sort
    key along even when the caller excludes it from col_kinds (the
    pre-round-6 path selected [key_col] + cols; the first fused version
    dropped it and crashed in the per-chunk sort)."""
    li = _t(spark, "lineitem")
    rt = roundtrip(li, "l_orderkey", {"l_partkey": "int", "l_suppkey": "int"})
    assert _sorted(rt) == _sorted(li.select("l_partkey", "l_suppkey"))
