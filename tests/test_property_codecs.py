"""Property-based round-trip tests (hypothesis) over every codec kind.

The reference has no property testing (SURVEY.md §5); these harden the
engine's wire formats against edge shapes the fixture profiles miss:
empty chunks, single values, all-equal runs, width boundaries, negative
ints, zero-length strings, non-ascii bytes, and float bit patterns (NaN
payloads, -0.0, ±inf, subnormals) compared byte for byte.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from parquet_python_spark.codecs import decode_column, encode_column
from parquet_python_spark.codecs.arrow_io import decode_str_column, encode_str_column

SET = settings(max_examples=60, deadline=None)


int_arrays = st.lists(
    st.integers(min_value=-(2**62), max_value=2**62 - 1), min_size=0, max_size=400
)
small_nonneg = st.lists(
    st.integers(min_value=0, max_value=2**17 - 1), min_size=0, max_size=400
)


@SET
@given(int_arrays)
def test_int_roundtrip_auto(vals):
    arr = np.array(vals, dtype=np.int64)
    codec, params, payload, _ = encode_column(arr, "int")
    out = decode_column(codec, payload, len(arr), params, "int")
    assert np.array_equal(np.asarray(out, dtype=np.int64), arr)


@SET
@given(small_nonneg, st.sampled_from(["plain64", "plain32", "bitpack", "for", "rle", "dict", "delta_bp", "fsst"]))
def test_int_roundtrip_every_codec(vals, codec):
    arr = np.array(vals, dtype=np.int64)
    c, params, payload, _ = encode_column(arr, "int", codec=codec)
    out = decode_column(c, payload, len(arr), params, "int")
    assert np.array_equal(np.asarray(out, dtype=np.int64), arr)


@SET
@given(
    st.lists(
        st.integers(min_value=0, max_value=30), min_size=2, max_size=400
    ).map(lambda runs: [v for i, v in enumerate(runs) for _ in range(1 + (i * 7) % 40)])
)
def test_runny_rle_roundtrip(vals):
    arr = np.array(vals, dtype=np.int64)
    c, params, payload, _ = encode_column(arr, "int", codec="rle")
    out = decode_column(c, payload, len(arr), params, "int")
    assert np.array_equal(np.asarray(out, dtype=np.int64), arr)


@SET
@given(st.lists(st.text(max_size=40), min_size=0, max_size=200),
       st.sampled_from(["str_plain", "str_fsst", "dict", "str_dlba",
                        "str_dba", "dict_dlba"]))
def test_str_roundtrip(strings, codec):
    c, params, payload = encode_str_column(pa.array(strings, type=pa.utf8()), codec)
    out = decode_str_column(c, payload, len(strings), params)
    assert out.to_pylist() == strings


@given(st.lists(st.binary(max_size=200), min_size=0, max_size=300))
def test_dba_wire_roundtrip_binary(vals):
    """DELTA_BYTE_ARRAY over arbitrary binary values (any shared-prefix
    structure, empties, long runs) — encode/decode is the identity."""
    import numpy as np

    from parquet_python_spark.codecs.dba import decode_dba, encode_dba

    lens = np.array([len(b) for b in vals], dtype=np.int64)
    blob = b"".join(vals)
    _, payload = encode_dba(lens, blob)
    out_lens, out_blob = decode_dba(payload, len(vals))
    assert np.array_equal(out_lens, lens) and out_blob == blob


def _float_bit_lists(width: int):
    """Lists of IEEE bit patterns (uint32/uint64), so NaN payloads and the
    sign of zero survive into the array untouched.  Mixes arbitrary bits,
    NaNs with random payloads and signs, ±0.0, ±inf, subnormals, and
    decimals: high-cardinality decimal lists take the decimal image,
    short repeated pools (specials included) take the dict over bits."""
    ftype = np.float32 if width == 32 else np.float64
    utype = np.uint32 if width == 32 else np.uint64
    mant = 23 if width == 32 else 52
    exp_all = ((1 << (width - 1 - mant)) - 1) << mant
    sign = 1 << (width - 1)

    def bits(x) -> int:
        return int(np.asarray(x, dtype=ftype).view(utype))

    nan = st.tuples(st.booleans(), st.integers(1, (1 << mant) - 1)).map(
        lambda t: (sign if t[0] else 0) | exp_all | t[1]
    )
    specials = st.sampled_from(
        [bits(0.0), bits(-0.0), bits(np.inf), bits(-np.inf),
         1, (1 << mant) - 1, sign | 1, sign | ((1 << mant) - 1)]
    )
    decimal = st.integers(-(10**6), 10**6).map(lambda i: bits(i / 100))
    zeros = st.sampled_from([bits(0.0), bits(-0.0)])
    element = st.one_of(st.integers(0, (1 << width) - 1), nan, specials, decimal)
    return st.one_of(
        st.lists(element, max_size=300),
        st.lists(decimal, max_size=300),
        # -0.0 equals 0.0 as a float but not as bits: the decimal image
        # (which has no -0) must be refused for these
        st.lists(st.one_of(decimal, zeros), max_size=300),
        st.lists(element, min_size=1, max_size=8).flatmap(
            lambda pool: st.lists(st.sampled_from(pool), max_size=300)
        ),
        st.lists(st.floats(width=width).map(bits), max_size=300),
    ).map(lambda b: np.array(b, dtype=utype).view(ftype))


@SET
@given(_float_bit_lists(32))
def test_f32_roundtrip_bit_exact(arr):
    c, params, payload, _ = encode_column(arr, "float32")
    out = np.asarray(decode_column(c, payload, len(arr), params, "float32"))
    assert out.dtype == np.float32
    assert np.array_equal(out.view(np.uint8), arr.view(np.uint8))


@SET
@given(_float_bit_lists(64))
def test_f64_roundtrip_bit_exact(arr):
    c, params, payload, _ = encode_column(arr, "float64")
    out = np.asarray(decode_column(c, payload, len(arr), params, "float64"))
    assert out.dtype == np.float64
    assert np.array_equal(out.view(np.uint8), arr.view(np.uint8))


@given(st.lists(st.booleans(), min_size=0, max_size=400))
def test_bool_roundtrip(vals):
    import numpy as np

    from parquet_python_spark.codecs import decode_column, encode_column

    arr = np.asarray(vals, dtype=bool)
    codec, params, payload, _ = encode_column(arr, "bool")
    out = decode_column(codec, payload, len(arr), params, "bool")
    assert np.array_equal(np.asarray(out), arr)
    assert len(payload) == (len(arr) + 7) // 8
