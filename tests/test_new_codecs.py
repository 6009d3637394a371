"""D7 FIXED_LEN_BYTE_ARRAY, D4 int96, and BSON converted type.

Golden semantics from the reference:
  - FLBA: encoding.py:72-74 (raw fixed_length bytes, no prefixes)
  - int96: encoding.py:51-54 (struct '<qi' pairs, value = q << 32 | i)
  - BSON: converted_types.py:85-86 (bytes -> dict via the bson package)
"""

from __future__ import annotations

import struct

import numpy as np
import pytest


# ----------------------------------------------------------------- FLBA D7

def test_flba_roundtrip_bytes_list():
    from parquet_python_spark.codecs.plain import (
        decode_plain_flba,
        encode_plain_flba,
        flba_matrix_to_bytes_list,
    )

    vals = [bytes([i, i + 1, i + 2, i + 3]) for i in range(0, 40, 4)]
    payload = encode_plain_flba(vals, 4)
    assert payload == b"".join(vals)  # reference wire: raw bytes, no prefixes
    mat = decode_plain_flba(payload, len(vals), 4)
    assert flba_matrix_to_bytes_list(mat) == vals


def test_flba_width_mismatch_raises():
    from parquet_python_spark.codecs.plain import encode_plain_flba

    with pytest.raises(ValueError):
        encode_plain_flba([b"abc", b"de"], 3)


def test_flba_registry_roundtrip():
    from parquet_python_spark.codecs import decode_column, encode_column

    vals = [bytes.fromhex(f"{i:032x}") for i in range(100)]  # 16-byte uuids
    codec, params, payload, stats = encode_column(vals, "flba")
    assert codec == "plain_flba" and params["width"] == 16
    assert len(payload) == 1600
    out = decode_column(codec, payload, 100, params, "flba")
    assert out == vals


def test_flba_empty():
    from parquet_python_spark.codecs import decode_column, encode_column

    codec, params, payload, _ = encode_column([], "flba")
    assert decode_column(codec, payload, 0, params, "flba") == []


# ---------------------------------------------------------------- int96 D4

def test_int96_reference_golden():
    """Byte-for-byte parity with the reference's int96 layout: the stream
    is built with struct '<qi' exactly as the reference reads it
    (encoding.py:54), q the nanoseconds of the day and i the julian day,
    and every golden pair that is a valid Impala timestamp (0 <= q < one
    day; the reference's (-3, 7) is not) reads as its epoch millis."""
    from parquet_python_spark.codecs.plain import epoch_millis_from_int96

    pairs = [(0, 0), (1, 5), (2**40, 123456), (86399999999999, 2440588)]
    data = b"".join(struct.pack("<qi", q, i) for q, i in pairs)
    expected = [(i - 2440588) * 86_400_000 + q // 1_000_000 for q, i in pairs]
    assert epoch_millis_from_int96(data, len(pairs)).tolist() == expected


def test_int96_encode_decode_roundtrip():
    """The golden pairs' epoch millis encode to the reference layout (the
    time of day truncated to whole milliseconds) and decode back."""
    from parquet_python_spark.codecs.plain import (
        epoch_millis_from_int96,
        int96_from_epoch_millis,
    )

    pairs = [(0, 0), (1, 5), (2**40, 123456), (86399999999999, 2440588)]
    millis = [(i - 2440588) * 86_400_000 + q // 1_000_000 for q, i in pairs]
    data = int96_from_epoch_millis(np.array(millis))
    assert data == b"".join(
        struct.pack("<qi", q - q % 1_000_000, i) for q, i in pairs
    )
    assert epoch_millis_from_int96(data, len(millis)).tolist() == millis


def test_int96_epoch_millis_vectorized():
    from parquet_python_spark.codecs.plain import (
        epoch_millis_from_int96,
        int96_from_epoch_millis,
    )

    millis = np.array(
        [0, 1, 86_400_000, 1_700_000_000_123, -86_400_000, -1], dtype=np.int64
    )
    data = int96_from_epoch_millis(millis)
    assert len(data) == 12 * len(millis)
    np.testing.assert_array_equal(epoch_millis_from_int96(data, len(millis)), millis)


def test_int96_wire_is_impala_layout():
    """Epoch 1970-01-01T00:00:00 must encode as (nanos=0, julian=2440588)."""
    from parquet_python_spark.codecs.plain import int96_from_epoch_millis

    data = int96_from_epoch_millis(np.array([0], dtype=np.int64))
    q, i = struct.unpack("<qi", data)
    assert (q, i) == (0, 2440588)


def test_int96_registry_roundtrip():
    from parquet_python_spark.codecs import decode_column, encode_column

    millis = np.arange(0, 10**12, 10**10, dtype=np.int64) + 123
    codec, params, payload, _ = encode_column(millis, "int96_ts")
    assert codec == "int96" and len(payload) == 12 * len(millis)
    out = decode_column(codec, payload, len(millis), params, "int96_ts")
    np.testing.assert_array_equal(out, millis)


# ------------------------------------------------------------------- BSON

def test_bson_roundtrip_scalars():
    from parquet_python_spark.functions.converted import bson_dumps, bson_loads

    doc = {
        "s": "hello",
        "i": 42,
        "big": 2**40,
        "d": 3.5,
        "t": True,
        "f": False,
        "z": None,
    }
    assert bson_loads(bson_dumps(doc)) == doc


def test_bson_nested_and_array():
    from parquet_python_spark.functions.converted import bson_dumps, bson_loads

    doc = {"outer": {"inner": [1, "two", 3.0]}, "n": -7}
    assert bson_loads(bson_dumps(doc)) == doc


def test_bson_known_bytes():
    """Hand-built golden: {'a': 1} per the public BSON spec."""
    from parquet_python_spark.functions.converted import bson_loads

    blob = b"\x0c\x00\x00\x00\x10a\x00\x01\x00\x00\x00\x00"
    assert bson_loads(blob) == {"a": 1}


def test_bson_to_json_udf(spark):
    from pyspark.sql import functions as F

    from parquet_python_spark.functions.converted import bson_dumps, bson_to_json

    docs = [{"k": i, "name": f"row{i}"} for i in range(5)]
    df = spark.createDataFrame(
        [(i, bson_dumps(d)) for i, d in enumerate(docs)], "id long, payload binary"
    )
    out = {
        r["id"]: r["j"]
        for r in df.select("id", bson_to_json(F.col("payload")).alias("j")).collect()
    }
    assert out[3] == '{"k":3,"name":"row3"}'
    assert len(out) == 5


# ---------------------------------------------- Spark-level flba/int96 rt

def _composed(written, df, key_col, kinds, **encode_kw):
    """The unfused composition: encode_df blocks, written, decoded whole
    (every row of a key with no nulls), in the decoder's Arrow-widened
    types (the rows below compare Python values)."""
    from parquet_python_spark.operators.generic_codec import (
        _arrow_safe_schema,
        decode_df_pruned_multi,
        encode_df,
    )

    schema = _arrow_safe_schema(df.select(*list(kinds)).schema, kinds)
    return decode_df_pruned_multi(
        written(encode_df(df, key_col, kinds, **encode_kw)), key_col, kinds,
        schema, [("notnull", key_col)],
    )


def test_generic_codec_flba_int96_roundtrip(spark, written):
    from pyspark.sql import functions as F

    from parquet_python_spark.operators.generic_codec import roundtrip

    df = (
        spark.range(200)
        .select(
            F.col("id"),
            F.unhex(F.md5(F.col("id").cast("string"))).alias("digest"),
            (F.col("id") * 86_400_000 + 123).alias("ts_millis"),
        )
    )
    kinds = {"id": "int", "digest": "flba", "ts_millis": "int96_ts"}

    def rows(out):
        return {
            r["id"]: (bytes(r["digest"]), r["ts_millis"]) for r in out.collect()
        }

    exp = rows(df)
    assert rows(roundtrip(df, "id", kinds)) == exp
    assert rows(_composed(written, df, "id", kinds, n_parts=4)) == exp


def test_arrow_kernel_null_edges():
    """All-null / empty partitions through the Arrow encode kernels (no
    Spark): flba, int, str — null weave must survive degenerate chunks."""
    import pyarrow as pa

    from parquet_python_spark.operators.generic_codec import (
        _decode_values,
        _encode_values,
    )

    cases = [
        (pa.array([None, None], type=pa.binary()), "flba", 2),
        (pa.array([], type=pa.binary()), "flba", 0),
        (pa.array([None, None], type=pa.int64()), "int", 2),
        (pa.array([None, "x", None], type=pa.utf8()), "str", 3),
        (pa.array([b"abcd", None, b"wxyz"], type=pa.binary()), "flba", 3),
    ]
    for arr, kind, n in cases:
        c, p, payload, nv = _encode_values(arr, kind, None)
        out = _decode_values(payload, n, nv, c, p, kind)
        assert len(out) == n
        assert out.null_count == arr.null_count
        got = [v.as_py() for v in out]
        exp = [v.as_py() for v in arr]
        if kind == "str":
            exp = [None if v is None else v for v in exp]
        assert got == exp


def test_int_list_int32_roundtrip(spark, written):
    """ArrayType(IntegerType) list columns survive the Arrow round-trip
    (regression: decode built list<int64> while the output schema kept the
    input's int32 element type, and applyInArrow rejects the mismatch)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from parquet_python_spark.operators.generic_codec import roundtrip

    df = spark.range(100).select(
        "id",
        F.transform(
            F.sequence(F.lit(0), (F.col("id") % 5).cast("int")),
            lambda i: (i * 3).cast("int"),
        ).alias("arr"),
    )
    assert isinstance(df.schema["arr"].dataType.elementType, T.IntegerType)
    kinds = {"id": "int", "arr": "int_list"}

    def rows(out):
        return {r["id"]: list(r["arr"]) for r in out.collect()}

    exp = rows(df)
    assert rows(roundtrip(df, "id", kinds)) == exp
    assert rows(_composed(written, df, "id", kinds, n_parts=4)) == exp


def test_flba_zero_width_and_unequal_widths():
    from parquet_python_spark.codecs import decode_column, encode_column
    from parquet_python_spark.codecs.plain import encode_plain_flba

    # zero-width values: n empty byte strings round-trip
    codec, params, payload, _ = encode_column([b"", b"", b""], "flba")
    assert params["width"] == 0 and payload == b""
    assert decode_column(codec, payload, 3, params, "flba") == [b"", b"", b""]
    # unequal widths that sum to width*n must raise, not corrupt
    with pytest.raises(ValueError):
        encode_plain_flba([b"ab", b"abcd", b""], 2)


# ---------------------------- reference-unhandled converted types (D21+)

def test_interval_flba_roundtrip(spark):
    from pyspark.sql import functions as F

    from parquet_python_spark.functions.converted import (
        interval_from_flba,
        interval_to_flba,
    )

    rows = [(0, 0, 0), (1, 30, 86399999), (119, 2, 4000000000), (7, 31, 1)]
    df = spark.createDataFrame(rows, ["m", "d", "ms"])
    iv = interval_from_flba(
        interval_to_flba(F.col("m"), F.col("d"), F.col("ms"))
    )
    out = df.select(
        "m", "d", "ms",
        iv["months"].alias("m2"), iv["days"].alias("d2"),
        iv["millis"].alias("ms2"),
    ).collect()
    for r in out:
        assert (r["m"], r["d"], r["ms"]) == (r["m2"], r["d2"], r["ms2"])


def test_int8_int16_micros_enum(spark):
    from pyspark.sql import functions as F

    from parquet_python_spark.functions.converted import (
        enum_str,
        int_8,
        int_16,
        time_micros,
        timestamp_from_micros,
    )

    df = spark.createDataFrame(
        [(0,), (127,), (128,), (255,), (256,), (40000,), (70000,)], ["v"]
    )
    out = {r["v"]: r for r in df.select(
        "v",
        int_8(F.col("v")).alias("i8"),
        int_16(F.col("v")).alias("i16"),
    ).collect()}
    assert out[127]["i8"] == 127 and out[128]["i8"] == -128
    assert out[255]["i8"] == -1 and out[256]["i8"] == 0
    assert out[40000]["i16"] == 40000 - 65536
    assert out[70000]["i16"] == 70000 - 65536  # 70000 % 65536 = 4464 < 32768
    assert out[70000]["i16"] == 4464

    ts = df.select(
        "v",
        F.unix_micros(timestamp_from_micros(F.col("v") * 1000000)).alias("us"),
    ).collect()
    assert all(r["us"] == r["v"] * 1000000 for r in ts)

    ed = spark.createDataFrame([(b"RED",), (b"GREEN",)], ["e"])
    vals = {r[0] for r in ed.select(enum_str(F.col("e"))).collect()}
    assert vals == {"RED", "GREEN"}

    # exact interval values: 1_000_000 us == 1 s, 90_061_000_000 us ==
    # 1d 1h 1m 1s (a raw integral->interval cast would read the value as
    # SECONDS and be 1e6x off)
    import datetime

    td = {r["v"]: r["t"] for r in df.select(
        "v", time_micros(F.col("v") * F.lit(1000000)).alias("t")
    ).collect()}
    assert td[127] == datetime.timedelta(seconds=127)
    big = spark.range(1).select(
        time_micros(F.lit(90061000000)).alias("t")
    ).collect()[0]["t"]
    assert big == datetime.timedelta(days=1, hours=1, minutes=1, seconds=1)


def test_time_millis_unit(spark):
    import datetime

    from pyspark.sql import functions as F

    from parquet_python_spark.functions.converted import time_millis

    out = spark.range(1).select(
        time_millis(F.lit(1500)).alias("a"),
        time_millis(F.lit(86400000)).alias("b"),
    ).collect()[0]
    assert out["a"] == datetime.timedelta(seconds=1, milliseconds=500)
    assert out["b"] == datetime.timedelta(days=1)


def test_interval_to_flba_out_of_range_wraps(spark):
    from pyspark.sql import functions as F

    from parquet_python_spark.functions.converted import (
        interval_from_flba,
        interval_to_flba,
    )

    # values wrap mod 2^32 (the uint32 wire) instead of silently keeping
    # high-order hex digits; negatives wrap to their two's-complement image
    iv = interval_from_flba(
        interval_to_flba(F.lit(2**32 + 5), F.lit(-1), F.lit(7))
    )
    r = spark.range(1).select(
        iv["months"].alias("m"), iv["days"].alias("d"), iv["millis"].alias("ms")
    ).collect()[0]
    assert (r["m"], r["d"], r["ms"]) == (5, 2**32 - 1, 7)


def test_for_wide_width_unaligned_count():
    """FOR at widths 58..62 (selector-admissible) with counts that are not
    multiples of 8: the >57-bit pack fallback must zero-pad the tail group
    itself (reference zero-fill grammar) instead of raising."""
    import numpy as np

    from parquet_python_spark.codecs.forpack import decode_for, encode_for

    rng = np.random.default_rng(5)
    for n in (1, 7, 62, 100):
        vals = rng.integers(-(2**61), 2**61, n).astype(np.int64)
        payload, params = encode_for(vals)
        assert 58 <= params["width"] <= 62 or n == 1
        back = decode_for(payload, n, params)
        assert np.array_equal(back, vals)


def test_bool_kind_registry_roundtrip():
    """D1 PLAIN boolean through the codec registry (counts not multiples
    of 8: the tail group zero-pads on the wire, truncates on decode)."""
    import numpy as np

    from parquet_python_spark.codecs import decode_column, encode_column

    for n in (0, 1, 7, 8, 13, 100):
        vals = (np.arange(n) % 3 == 0)
        codec, params, payload, _ = encode_column(vals, "bool")
        assert codec == "plain_bool"
        assert len(payload) == (n + 7) // 8
        out = decode_column(codec, payload, n, params, "bool")
        assert np.array_equal(np.asarray(out), vals)


def test_bool_generic_roundtrip_with_nulls(spark, written):
    from pyspark.sql import functions as F

    from parquet_python_spark.operators.generic_codec import roundtrip

    df = spark.range(100).select(
        "id",
        (F.col("id") % 2 == 0).alias("b"),
        F.when(F.col("id") % 7 == 0, F.lit(None))
        .otherwise(F.col("id") % 3 == 0)
        .alias("bn"),
    )
    kinds = {"id": "int", "b": "bool", "bn": "bool"}

    def rows(out):
        return {r["id"]: (r["b"], r["bn"]) for r in out.collect()}

    exp = rows(df)
    assert rows(roundtrip(df, "id", kinds)) == exp
    assert rows(_composed(written, df, "id", kinds, n_parts=4)) == exp


# ----------------------------------------- DELTA_BINARY_PACKED (wire layout)

def test_delta_bp_roundtrip_shapes():
    import numpy as np

    from parquet_python_spark.codecs.delta_bp import (
        decode_delta_bp,
        encode_delta_bp,
    )

    rng = np.random.default_rng(11)
    cases = [
        np.array([], dtype=np.int64),
        np.array([42], dtype=np.int64),
        np.array([-7, -7, -7], dtype=np.int64),
        np.arange(5000, dtype=np.int64) * 3 + 10**12,
        np.cumsum(rng.integers(-5, 50, 4097)).astype(np.int64),
        rng.integers(-(2**40), 2**40, 2500),
        # exact block/miniblock boundaries
        np.cumsum(rng.integers(0, 3, 1024)).astype(np.int64),
        np.cumsum(rng.integers(0, 3, 1023)).astype(np.int64),
        np.cumsum(rng.integers(0, 3, 1025)).astype(np.int64),
        np.cumsum(rng.integers(0, 3, 256)).astype(np.int64),
        # descending (negative deltas)
        np.arange(3000, 0, -1, dtype=np.int64),
    ]
    for v in cases:
        payload, params = encode_delta_bp(v)
        out = decode_delta_bp(payload, len(v), params)
        assert np.array_equal(out, v), f"n={len(v)}"


def test_delta_bp_wire_header_is_spec_shaped():
    """Independent parse of the header/block grammar (ULEB128 + zigzag),
    not via the decoder: spec-layout check, same spirit as the reference's
    golden-vector tests (test_encoding.py)."""
    import numpy as np

    from parquet_python_spark.codecs.bitstream import decode_varint
    from parquet_python_spark.codecs.delta_bp import (
        DELTA_BP_BLOCK,
        DELTA_BP_MINIS,
        encode_delta_bp,
    )

    vals = np.array([100, 103, 106, 110, 90], dtype=np.int64)
    payload, _ = encode_delta_bp(vals)
    block, pos = decode_varint(payload, 0)
    minis, pos = decode_varint(payload, pos)
    total, pos = decode_varint(payload, pos)
    zz_first, pos = decode_varint(payload, pos)
    assert (block, minis, total) == (DELTA_BP_BLOCK, DELTA_BP_MINIS, 5)
    assert zz_first == 100 << 1  # zigzag(100)
    zz_md, pos = decode_varint(payload, pos)
    assert zz_md == (20 << 1) - 1  # zigzag(min delta) = zigzag(-20)
    widths = payload[pos : pos + minis]
    # deltas normalized: [23, 23, 24, 0] -> width 5 in the first miniblock,
    # trailing miniblocks empty (width 0, no payload)
    assert widths[0] == 5 and all(w == 0 for w in widths[1:])
    vpm = DELTA_BP_BLOCK // DELTA_BP_MINIS
    assert len(payload) == pos + minis + vpm * 5 // 8


def test_delta_bp_selector_picks_it_on_monotone():
    """Monotone keys: narrow deltas, wide absolute range -> delta_bp must
    beat FOR/bitpack in the cost model AND in actual bytes."""
    import numpy as np

    from parquet_python_spark.codecs.forpack import encode_for
    from parquet_python_spark.codecs.registry import (
        chunk_stats,
        decode_column,
        encode_column,
        select_codec,
    )

    mono = np.arange(50_000, dtype=np.int64) * 7 + 10**9
    assert select_codec(chunk_stats(mono)) == "delta_bp"
    codec, params, payload, _ = encode_column(mono, "int")
    assert codec == "delta_bp"
    for_payload, _ = encode_for(mono)
    assert len(payload) < len(for_payload)
    out = decode_column(codec, payload, len(mono), params, "int")
    assert np.array_equal(np.asarray(out), mono)
    # random data must NOT regress to delta_bp
    rnd = np.random.default_rng(5).integers(0, 1 << 17, 50_000)
    assert select_codec(chunk_stats(rnd)) != "delta_bp"


def test_delta_bp_span_guard():
    import numpy as np
    import pytest as _pytest

    from parquet_python_spark.codecs.delta_bp import encode_delta_bp

    wide = np.array([-(2**62), 2**62 - 1], dtype=np.int64)
    with _pytest.raises(ValueError, match="span"):
        encode_delta_bp(wide)


# --------------------------- BYTE_STREAM_SPLIT + DELTA_LENGTH_BYTE_ARRAY

def test_bss_roundtrip_and_outer_win():
    """A forced BSS round-trips bit-exactly (Parquet BYTE_STREAM_SPLIT
    layout); without a forced codec these chunks stay PLAIN."""
    import numpy as np

    from parquet_python_spark.codecs import decode_column, encode_column

    rng = np.random.default_rng(9)
    for kind, dt in (("float32", np.float32), ("float64", np.float64)):
        v = (rng.standard_normal(20011) * 3).astype(dt)
        # forced
        c, p, blob, _ = encode_column(v, kind, codec="bss")
        assert c.startswith("bss_")
        out = decode_column(c, blob, len(v), p, kind)
        assert np.asarray(out).dtype == v.dtype
        assert np.array_equal(
            np.asarray(out).view(np.uint8), v.view(np.uint8)
        )
        # without outer, plain stays the choice (BSS alone buys nothing)
        c3, _, _, _ = encode_column(v, kind)
        assert c3.startswith("plain_")


@pytest.mark.parametrize("kind", ["float32", "float64"])
def test_float_int_routes_selected(kind):
    """Without a forced or outer codec, floats go through the integer
    selector: repeated values (with NaN / -0.0 / inf) as a dict over the
    IEEE bits, high-cardinality two-decimal prices as the decimal image,
    and both beat PLAIN's bytes."""
    from parquet_python_spark.codecs import decode_column, encode_column

    dt = np.dtype(kind)
    rng = np.random.default_rng(11)
    pool = np.array([0.05, -0.0, np.nan, np.inf, -np.inf, 3.0], dtype=dt)
    low = pool[rng.integers(0, len(pool), 20_000)]
    prices = (rng.integers(90_000, 10_500_000, 20_000) / 100).astype(dt)
    for vals, want_e in ((low, False), (prices, True)):
        c, p, blob, _ = encode_column(vals, kind)
        assert c == f"int_{'f32' if dt.itemsize == 4 else 'f64'}"
        assert ("e" in p) == want_e
        assert len(blob) < vals.nbytes
        out = np.asarray(decode_column(c, blob, len(vals), p, kind))
        assert out.dtype == dt
        assert np.array_equal(out.view(np.uint8), vals.view(np.uint8))
    assert p["e"] == 2
    # no exceptions are stored: one NaN drops the decimal image
    prices[7] = np.nan
    c, p, blob, _ = encode_column(prices, kind)
    assert "e" not in p
    out = np.asarray(decode_column(c, blob, len(prices), p, kind))
    assert np.array_equal(out.view(np.uint8), prices.view(np.uint8))


@pytest.mark.parametrize("kind", ["float32", "float64"])
def test_forced_float_codec_overrides_auto_selection(kind):
    """A forced plain / bss float codec is honoured even where the auto
    selector would take an integer route; an unknown one raises."""
    from parquet_python_spark.codecs import decode_column, encode_column

    suffix = "f32" if kind == "float32" else "f64"
    vals = np.tile(np.array([0.25, 0.5, 0.75], dtype=kind), 4000)
    assert encode_column(vals, kind)[0] == f"int_{suffix}"
    for forced in ("plain", "bss", f"plain_{suffix}", f"bss_{suffix}"):
        c, p, blob, _ = encode_column(vals, kind, codec=forced)
        assert c == f"{forced.split('_')[0]}_{suffix}"
        assert len(blob) == vals.nbytes
        out = np.asarray(decode_column(c, blob, len(vals), p, kind))
        assert np.array_equal(out.view(np.uint8), vals.view(np.uint8))
    with pytest.raises(KeyError):
        encode_column(vals, kind, codec="dict")


def test_str_dlba_wire_and_roundtrip():
    """DELTA_LENGTH_BYTE_ARRAY shape: delta_bp-encoded lengths + raw
    concatenated bytes; lengths parse with the delta_bp decoder alone."""
    import numpy as np

    import pyarrow as pa

    from parquet_python_spark.codecs.arrow_io import (
        decode_str_column,
        encode_str_column,
    )
    from parquet_python_spark.codecs.delta_bp import decode_delta_bp

    vals = [f"row-{i:04d}-{'x' * (i % 17)}" for i in range(3000)]
    c, p, blob = encode_str_column(pa.array(vals), codec="str_dlba")
    assert c == "str_dlba" and p["lens_codec"] == "dbp"
    out = decode_str_column(c, blob, len(vals), p)
    assert out.to_pylist() == vals
    # independent parse of the lengths section (wire grammar check)
    len_sz = int.from_bytes(blob[0:4], "little")
    lens = decode_delta_bp(blob[4 : 4 + len_sz], len(vals), p["lens"])
    assert [int(x) for x in lens] == [len(v.encode()) for v in vals]


def test_str_plain_lens_pick_smaller():
    """The default string path records which lens codec won; equal-length
    strings give constant deltas, where delta_bp collapses to varints."""
    import pyarrow as pa

    from parquet_python_spark.codecs.arrow_io import (
        decode_str_column,
        encode_str_column,
    )

    vals = ["a" * 40 for _ in range(5000)]
    c, p, blob = encode_str_column(pa.array(vals), codec="str_plain")
    assert p["lens_codec"] in ("for", "dbp")
    out = decode_str_column(c, blob, len(vals), p)
    assert out.to_pylist() == vals


def test_delta_bp_vectorized_bytes_match_per_miniblock_reference():
    """Round-6: encode_delta_bp batches same-width miniblocks through one
    pack call.  The wire bytes must stay IDENTICAL to the straightforward
    per-miniblock walk (this inline twin is the pre-round-6 implementation
    verbatim) — miniblocks are a multiple of 64 values, so packing a
    concatenation must equal concatenating the packs."""
    import numpy as np

    from parquet_python_spark.codecs.bitstream import (
        encode_varint,
        pack_bits_lsb,
        width_from_max_int,
    )
    from parquet_python_spark.codecs.delta_bp import (
        DELTA_BP_BLOCK,
        DELTA_BP_MINIS,
        decode_delta_bp,
        encode_delta_bp,
    )

    def zz(v):
        return (v << 1) ^ (v >> 63)

    def reference(vals):
        vals = np.ascontiguousarray(vals, dtype=np.int64)
        n = len(vals)
        parts = [
            encode_varint(DELTA_BP_BLOCK),
            encode_varint(DELTA_BP_MINIS),
            encode_varint(n),
        ]
        if n == 0:
            parts.append(encode_varint(zz(0)))
            return b"".join(parts)
        parts.append(encode_varint(zz(int(vals[0]))))
        deltas = np.diff(vals)
        vpm = DELTA_BP_BLOCK // DELTA_BP_MINIS
        for pos in range(0, len(deltas), DELTA_BP_BLOCK):
            blk = deltas[pos : pos + DELTA_BP_BLOCK]
            md = int(blk.min())
            parts.append(encode_varint(zz(md)))
            norm = (blk - md).astype(np.uint64)
            widths = bytearray(DELTA_BP_MINIS)
            packed = []
            for m in range(DELTA_BP_MINIS):
                mb = norm[m * vpm : (m + 1) * vpm]
                if len(mb) == 0:
                    continue
                w = width_from_max_int(int(mb.max()))
                widths[m] = w
                if w == 0:
                    continue
                if len(mb) < vpm:
                    mb = np.concatenate(
                        [mb, np.zeros(vpm - len(mb), dtype=np.uint64)]
                    )
                packed.append(pack_bits_lsb(mb, w))
            parts.append(bytes(widths))
            parts.extend(packed)
        return b"".join(parts)

    rng = np.random.default_rng(23)
    cases = [
        np.sort(rng.integers(0, 10**9, 5000)).astype(np.int64),
        rng.integers(-(10**6), 10**6, 2051).astype(np.int64),
        np.arange(1024, dtype=np.int64),
        np.arange(5, dtype=np.int64),
        np.array([7], dtype=np.int64),
        np.zeros(300, dtype=np.int64),
        rng.integers(0, 3, 257).astype(np.int64),
        np.cumsum(rng.integers(0, 2**30, 1500)).astype(np.int64),
        np.empty(0, dtype=np.int64),
    ]
    for v in cases:
        payload, _ = encode_delta_bp(v)
        assert payload == reference(v)
        assert np.array_equal(decode_delta_bp(payload, len(v)), v)
