"""DATA_PAGE_V2 framing, LZ4_RAW/BROTLI outer codecs, dict_dlba wire checks.

The reference reads V1 data pages only (/root/reference/parquet/__init__.py:
273-378) and raises on any outer codec beyond snappy/gzip (__init__.py:
234-236); these cover the modern-writer page shape and codecs on top of the
same engine kernels.  The outer codec decides the page shape: pages without
one keep the reference's V1 shape, pages with one are V2.
"""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st


# ------------------------------------------------------------ wire framing

def test_page_v2_frame_roundtrip():
    from parquet_python_spark.codecs.registry import frame_page_v2, parse_page_v2

    assert parse_page_v2(frame_page_v2(b"LVL", b"DATA", 7, 2)) == (
        b"LVL", b"DATA", 7, 2,
    )
    # no nulls: def section omitted entirely, None on parse
    assert parse_page_v2(frame_page_v2(None, b"D", 5, 0)) == (None, b"D", 5, 0)


def test_page_v2_rejects_corrupt_frames():
    from parquet_python_spark.codecs.registry import frame_page_v2, parse_page_v2

    good = frame_page_v2(b"LVL", b"DATA", 7, 2)
    with pytest.raises(ValueError, match="magic"):
        parse_page_v2(b"XX" + good[2:])
    # def_len pointing past the buffer
    bad = good[:10] + (10**6).to_bytes(4, "little") + good[14:]
    with pytest.raises(ValueError, match="exceed"):
        parse_page_v2(bad)
    # nulls declared but no level section
    with pytest.raises(ValueError, match="definition levels"):
        parse_page_v2(frame_page_v2(None, b"D", 5, 3))
    # n_nulls > n_rows
    with pytest.raises(ValueError, match="exceed|header"):
        parse_page_v2(frame_page_v2(b"L", b"D", 2, 3))


@pytest.mark.parametrize("outer", ["lz4_raw", "brotli"])
def test_outer_lz4raw_brotli_roundtrip(outer):
    from parquet_python_spark.codecs.registry import unwrap_outer, wrap_outer

    buf = b"the quick brown fox " * 300
    params: dict = {}
    wrapped = wrap_outer(buf, params, outer)
    assert params["outer"] == outer and len(wrapped) < len(buf)
    assert unwrap_outer(wrapped, params) == buf
    # incompressible input: passthrough, params untouched
    rnd = np.random.default_rng(7).integers(0, 256, 4096, dtype=np.uint8)
    p2: dict = {}
    assert wrap_outer(rnd.tobytes(), p2, outer) == rnd.tobytes()
    assert "outer" not in p2


# ----------------------------------------------- generic codec page shapes

_OUTERS = [None, "gzip", "snappy", "zstd", "lz4_raw", "brotli"]

_KIND_ARRS = {
    "int": pa.array([5, None, -3, None, 2**40] * 60, type=pa.int64()),
    "str": pa.array(["alpha", None, "", "beta-beta"] * 75),
    "float64": pa.array([1.5, None, -0.0, 3.25] * 75, type=pa.float64()),
    "bool": pa.array([True, None, False, True] * 75),
}


@pytest.mark.parametrize("kind", list(_KIND_ARRS))
@pytest.mark.parametrize("outer", _OUTERS)
def test_encode_values_page_v2_roundtrip(kind, outer):
    """The outer codec decides the page shape: none keeps the reference's
    V1 page, any outer codec writes the V2 frame."""
    from parquet_python_spark.operators.generic_codec import (
        _decode_values,
        _encode_values,
    )

    arr = _KIND_ARRS[kind]
    c, pj, payload, nv = _encode_values(arr, kind, None, outer=outer)
    params = json.loads(pj)
    out = _decode_values(payload, len(arr), nv, c, pj, kind)
    assert out.equals(arr)
    if outer is None:
        assert "__page__" not in params and params.get("__nulls__") is True
        return
    assert params["__page__"] == "v2"
    # V2 contract: levels + header readable WITHOUT the data codec
    from parquet_python_spark.codecs.registry import parse_page_v2

    def_blob, _data, n_rows, n_nulls = parse_page_v2(payload)
    assert n_rows == len(arr) and n_nulls == arr.null_count
    assert (def_blob is not None) == (arr.null_count > 0)


def test_page_v2_header_mismatch_is_loud():
    from parquet_python_spark.operators.generic_codec import (
        _decode_values,
        _encode_values,
    )

    arr = pa.array([1, None, 3] * 100, type=pa.int64())
    c, pj, payload, nv = _encode_values(arr, "int", None, outer="lz4_raw")
    with pytest.raises(ValueError, match="disagree"):
        _decode_values(payload, len(arr) + 1, nv, c, pj, "int")


def test_whole_page_outer_params_rejected():
    """A V1 page compressed as a whole (params key ``__pouter__``) is no
    shape the page layer writes; decoding one raises rather than reading
    the compressed bytes as an uncompressed V1 page."""
    from parquet_python_spark.codecs.registry import wrap_outer
    from parquet_python_spark.operators.generic_codec import (
        _decode_values,
        _encode_values,
    )

    arr = pa.array([1, 2, 3, None] * 200, type=pa.int64())
    c, pj, payload, nv = _encode_values(arr, "int", None)
    params = json.loads(pj)
    wrapped = wrap_outer(payload, {}, "zstd")
    params.update({"__pouter__": "zstd", "__pouter_raw__": len(payload)})
    with pytest.raises(ValueError, match="__pouter__"):
        _decode_values(wrapped, len(arr), nv, c, json.dumps(params), "int")


@settings(max_examples=40, deadline=None)
@given(
    vals=st.lists(
        st.one_of(st.none(), st.integers(-(2**50), 2**50)),
        min_size=0, max_size=400,
    ),
    outer=st.sampled_from(_OUTERS),
)
def test_property_null_heavy_pages(vals, outer):
    """Null-heavy / all-null / empty chunks round-trip under both page
    shapes (V1 without an outer codec, V2 under each of them)."""
    from parquet_python_spark.operators.generic_codec import (
        _decode_values,
        _encode_values,
    )

    arr = pa.array(vals, type=pa.int64())
    c, pj, payload, nv = _encode_values(arr, "int", None, outer=outer)
    assert nv == len(arr) - arr.null_count
    out = _decode_values(payload, len(arr), nv, c, pj, "int")
    assert out.equals(arr)


# --------------------------------------------------- dict_dlba wire checks

def _legal_dlba_wire():
    codes = np.array([0, 1, 2, 1, 0] * 8, dtype=np.int64)
    lens = np.array([1, 2, 3], dtype=np.int64)
    from parquet_python_spark.codecs.dictionary import encode_dict_dlba_wire

    return codes, lens, encode_dict_dlba_wire(codes, lens, b"abbccc")


def test_dict_dlba_legal_wire_still_decodes():
    from parquet_python_spark.codecs.dictionary import decode_dict_dlba_parts

    codes, lens, wire = _legal_dlba_wire()
    (l2, blob), idx = decode_dict_dlba_parts(wire, len(codes))
    assert list(l2) == [1, 2, 3] and blob == b"abbccc"
    assert (np.asarray(idx) == codes).all()


def test_dict_dlba_rejects_corrupt_wire():
    from parquet_python_spark.codecs.dictionary import (
        decode_dict_dlba_parts,
        encode_dict_dlba_wire,
    )

    codes, lens, wire = _legal_dlba_wire()
    # negative dictionary count
    bad = (-1).to_bytes(4, "little", signed=True) + wire[4:]
    with pytest.raises(ValueError, match="negative dictionary count"):
        decode_dict_dlba_parts(bad, len(codes))
    # lengths-sum / blob mismatch (blob truncated at encode)
    short = encode_dict_dlba_wire(codes, lens, b"abbcc")
    with pytest.raises(ValueError, match="do not match blob"):
        decode_dict_dlba_parts(short, len(codes))
    # blob size field pointing past the payload
    mv = bytearray(wire)
    pos = 8 + int.from_bytes(wire[4:8], "little")
    mv[pos : pos + 8] = (10**9).to_bytes(8, "little")
    with pytest.raises(ValueError, match="exceeds payload"):
        decode_dict_dlba_parts(bytes(mv), len(codes))
    # index width wider than the dictionary needs
    widths_at = 8 + int.from_bytes(wire[4:8], "little") + 8 + 6
    mv = bytearray(wire)
    mv[widths_at] = 33
    with pytest.raises(ValueError, match="index width"):
        decode_dict_dlba_parts(bytes(mv), len(codes))


# ------------------------------------------------ Spark end-to-end (V2 pages)

def _encode_df_roundtrip(spark, outer):
    """Whole-table round trip of a null-bearing int/str table with an int
    list column (whose flat values chunk holds more values than the part
    has rows), through roundtrip(outer=); returns the params strings of
    the same table's blocks from the chunk encoder after asserting
    bit-identical rows."""
    from pyspark.sql import functions as F

    from parquet_python_spark.operators.generic_codec import (
        _chunk_encoder,
        roundtrip,
    )

    df = spark.range(8_000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 7 == 0, None)
        .otherwise(F.col("id") * 3)
        .alias("v"),
        F.when(F.col("id") % 3 == 0, None)
        .otherwise(F.concat(F.lit("s"), F.col("id").cast("string")))
        .alias("s"),
        F.sequence(F.lit(0), F.col("id") % 4).alias("l"),
    )
    kinds = {"k": "int", "v": "int", "s": "str", "l": "int_list"}
    got = sorted(
        (r["k"], r["v"], r["s"], r["l"])
        for r in roundtrip(df, "k", kinds, outer=outer).collect()
    )
    exp = sorted((r["k"], r["v"], r["s"], r["l"]) for r in df.collect())
    assert got == exp
    enc = _chunk_encoder("k", kinds, None, outer, build_stats=False)
    return enc(df.toArrow(), 0).column("params").to_pylist()


def test_encode_df_page_v2_outer_roundtrip(spark):
    """With LZ4_RAW page compression every block is a V2 page."""
    params = _encode_df_roundtrip(spark, "lz4_raw")
    assert params and all('"__page__":"v2"' in p for p in params)


def test_encode_df_no_outer_writes_v1_pages(spark):
    """Without an outer codec no block is a V2 page."""
    params = _encode_df_roundtrip(spark, None)
    assert params and not any("__page__" in p for p in params)


# ----------------------------------------------- positions decode

_NAN_BITS = [0x7FF8000000000000, 0x7FF0000000000123, 0xFFF8000000000001]
_POS_CODECS = {
    "int": [None, "plain64", "plain32", "bitpack", "for", "delta_bp", "rle",
            "dict", "fsst"],
    "float64": [None, "plain", "bss"],
    "float32": [None, "plain", "bss"],
    "str": [None, "dict", "dict_dlba", "str_plain", "str_dlba", "str_dba",
            "str_fsst"],
    "flba": [None],
    "int96_ts": [None],
    "bool": [None],
}


def _pos_values(kind: str, shape: str, n: int, rng) -> pa.Array:
    """``n`` values of ``kind`` in one of four shapes, each steering the
    selector to other codecs: few distinct values, long runs, a wide or
    sorted span (62-bit spans: FOR values that cross words), or the
    kind's hard values (NaN payloads and -0.0, negative ints, empty
    strings)."""
    card = {"few": 5, "runs": 3, "wide": 1 << 20, "odd": 1 << 12}[shape]
    ints = rng.integers(0, card, n)
    if shape == "runs":
        ints = np.repeat(ints, 40)[:n]
    if shape == "wide":
        ints = np.sort(ints)
    if kind == "int" and shape == "wide":
        ints = np.sort(rng.integers(-(2**61), 2**61, n))
    if kind == "int" and shape == "odd":
        ints = ints - 3_000  # a negative frame of reference
    if kind in ("int", "int96_ts"):
        return pa.array(ints, type=pa.int64())
    if kind == "bool":
        return pa.array(ints % 2 == 1)
    if kind.startswith("float"):
        vals = ints / 100.0 if shape != "odd" else rng.normal(size=n)
        if shape == "odd" and n:
            bits = vals.view(np.uint64)
            bits[::5] = np.array(_NAN_BITS, dtype=np.uint64)[ints[::5] % 3]
            vals[1::7] = -0.0
        with np.errstate(invalid="ignore"):  # float32 NaN payloads
            return pa.array(vals.astype(kind))
    if kind == "flba":
        return pa.array([int(v).to_bytes(4, "little") for v in ints], pa.binary())
    words = ["", "a", "alpha", "beta-beta", "zz"]
    return pa.array([
        words[v % 5] if shape != "wide" else f"key-{v:07d}" for v in ints
    ], pa.utf8())


def _bits_equal(got: pa.Array, want: pa.Array) -> bool:
    """Equal arrays, floats compared by their bits (NaN payloads, -0.0)."""
    if pa.types.is_floating(want.type):
        ints = pa.int32() if want.type == pa.float32() else pa.int64()
        return got.type == want.type and got.view(ints).equals(want.view(ints))
    return got.equals(want)


@settings(max_examples=400, deadline=None)
@given(
    kind=st.sampled_from(list(_POS_CODECS)),
    codec_i=st.integers(0, 8),
    shape=st.sampled_from(["few", "runs", "wide", "odd"]),
    n=st.sampled_from([0, 1, 7, 64, 65, 300, 2_000]),
    null_frac=st.sampled_from([0.0, 0.0, 0.3, 1.0]),
    outer=st.sampled_from(_OUTERS),
    which=st.sampled_from(["empty", "all", "ends", "some", "one"]),
    seed=st.integers(0, 2**16),
)
def test_property_positions_decode_equals_whole_take(
    kind, codec_i, shape, n, null_frac, outer, which, seed
):
    """For every codec a column can get and every page shape (V1 with and
    without nulls, V2 under each outer codec), the positions decode
    (_decode_values' ``rows``) equals the whole decode taken at those
    rows: empty, all, first and last, one, or a random subset of them,
    zero-row chunks included, floats compared by bits.  Without nulls or
    an outer codec the payload is the codec's own, so the codec-level
    positions decode (registry.decode_column / decode_str_column, which
    gather at any density) is checked against the whole decode too."""
    from parquet_python_spark.codecs import decode_column
    from parquet_python_spark.codecs.arrow_io import decode_str_column
    from parquet_python_spark.operators.generic_codec import (
        _decode_values,
        _encode_values,
    )

    rng = np.random.default_rng(seed)
    forced = _POS_CODECS[kind][codec_i % len(_POS_CODECS[kind])]
    arr = _pos_values(kind, shape, n, rng)
    if null_frac:
        arr = pa.array(arr.to_pylist(), arr.type, mask=rng.random(n) < null_frac)
    if forced in ("bitpack", "rle", "fsst", "plain32") and shape in ("wide", "odd"):
        arr = pa.array(np.arange(n) % 1000, pa.int64())  # in those codecs' range
    c, pj, payload, nv = _encode_values(arr, kind, forced, outer=outer)
    rows = {
        "empty": np.zeros(0, dtype=np.int64),
        "all": np.arange(n),
        "ends": np.unique([0, n - 1]) if n else np.zeros(0, dtype=np.int64),
        "one": rng.integers(0, n, min(n, 1)),
        "some": np.sort(rng.choice(n, size=n // 3, replace=False)),
    }[which].astype(np.int64)
    whole = _decode_values(payload, n, nv, c, pj, kind)
    assert _bits_equal(whole, arr)
    got = _decode_values(payload, n, nv, c, pj, kind, rows)
    assert _bits_equal(got, whole.take(pa.array(rows))), (c, which)
    if outer is None and not arr.null_count:
        params = json.loads(pj)
        if kind == "str":
            at = decode_str_column(c, payload, nv, params, rows)
        else:
            vals = decode_column(c, payload, nv, params, kind, positions=rows)
            at = pa.array(vals, pa.binary()) if kind == "flba" else pa.array(
                np.asarray(vals), whole.type
            )
        assert _bits_equal(at, whole.take(pa.array(rows))), (c, which)
