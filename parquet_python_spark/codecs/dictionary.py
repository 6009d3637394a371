"""Dictionary codec in the reference's PLAIN_DICTIONARY wire format.

Layout produced (decodable by the reference reader, SURVEY.md D15/D16):

    [4B <i n_dict] [dictionary page: PLAIN values]      (__init__.py:381-395)
    [1B bit width] [RLE/bit-packed hybrid of indices]   (__init__.py:344-357)

The 4-byte dictionary count stands in for the thrift
DictionaryPageHeader.num_values field (we carry no thrift framing); the
index section is byte-identical to a reference PLAIN_DICTIONARY data page
body, so tests decode it with parquet_python_spark.reference_decoder.

Integers encode with pyarrow's dictionary_encode (first-occurrence order)
+ hybrid of codes and decode with the fused unpack+gather.  Strings take
arrow_io.encode_str_column / decode_str_column, which assemble and parse
the same wire through encode_dict_wire / decode_dict_parts.
"""

from __future__ import annotations

import numpy as np

from .bitstream import width_from_max_int
from .plain import (
    decode_plain_int32,
    decode_plain_int64,
    encode_plain_byte_array,
    encode_plain_int32,
    encode_plain_int64,
)
from .rle import decode_hybrid, encode_hybrid

__all__ = [
    "encode_dict",
    "decode_dict",
    "dict_size_estimate",
    "encode_dict_dlba_wire",
    "decode_dict_dlba_parts",
]

_PLAIN_ENC = {
    "int32": encode_plain_int32,
    "int64": encode_plain_int64,
    "byte_array": encode_plain_byte_array,
}
_PLAIN_DEC = {"int32": decode_plain_int32, "int64": decode_plain_int64}


def encode_dict(values, physical_type: str = "int32") -> bytes:
    """Dictionary-encode an int32/int64 numpy array."""
    import pyarrow as pa

    # pyarrow's C++ hash kernel: first-occurrence order
    d = pa.array(np.asarray(values)).dictionary_encode()
    return encode_dict_wire(
        d.indices.to_numpy(), d.dictionary.to_numpy(), physical_type
    )


def encode_dict_wire(codes: np.ndarray, uniques, physical_type: str = "int32") -> bytes:
    """Assemble the wire format from pre-factorized codes + dictionary
    (lets callers factorize with pyarrow's C++ dictionary_encode)."""
    dict_page = _PLAIN_ENC[physical_type](uniques)
    width = width_from_max_int(max(len(uniques) - 1, 0))
    # encode_hybrid is dtype-preserving for integer inputs (pyarrow's int32
    # indices stay int32 — half the memory traffic, same wire bytes)
    index_page = encode_hybrid(np.asarray(codes), width)
    return b"".join(
        [
            int(len(uniques)).to_bytes(4, "little", signed=True),
            dict_page,
            bytes([width]),
            index_page,
        ]
    )


def decode_dict_parts(data: bytes, n: int, positions=None):
    """Parse a byte_array wire into (uniques, indices) without gathering —
    callers expand with pyarrow take().  ``positions``: only the indices
    at those value positions (decode_hybrid)."""
    n_dict = int.from_bytes(data[:4], "little", signed=True)
    mv = memoryview(data)
    pos = 4
    uniques = []
    for _ in range(n_dict):
        ln = int.from_bytes(mv[pos : pos + 4], "little", signed=True)
        uniques.append(bytes(mv[pos + 4 : pos + 4 + ln]))
        pos += 4 + ln
    width = data[pos]
    # int32 indices when width allows: halves the unpack output traffic
    # (indices are always < |dict| <= 2^31)
    indices = decode_hybrid(
        data[pos + 1 :], width, n, np.int32 if width <= 31 else np.int64,
        positions=positions,
    )
    return uniques, indices


def decode_dict(data: bytes, n: int, physical_type: str = "int32", positions=None):
    """Vectorized inverse of :func:`encode_dict` (int32/int64); with
    ``positions``, only the values at those positions: their indices are
    read from the index stream and looked up (decode_hybrid).

    Decodes with the FUSED unpack+gather (decode_hybrid's ``table``):
    dictionary values land in the output inside the unpack kernel's
    cache-blocked loop — no intermediate index buffer is ever written or
    re-read (the extra 8 B/value of traffic was the dominant term of the
    8->32 decode scaling wall)."""
    n_dict = int.from_bytes(data[:4], "little", signed=True)
    itemsize = 4 if physical_type == "int32" else 8
    body_start = 4 + n_dict * itemsize
    uniques = np.asarray(_PLAIN_DEC[physical_type](data[4:body_start], n_dict))
    width = data[body_start]
    return decode_hybrid(
        data[body_start + 1 :], width, n, table=uniques, positions=positions
    )


def encode_dict_dlba_wire(
    codes: np.ndarray,
    lens: np.ndarray,
    blob: bytes,
    lens_payload: bytes | None = None,
) -> bytes:
    """String dictionary with the uniques page in DELTA_LENGTH_BYTE_ARRAY
    form (lengths as DELTA_BINARY_PACKED + concatenated bytes) instead of
    PLAIN's per-value 4-byte length prefixes — the round-4 'dict-of-DLBA'
    page.  Saves ~4 bytes per distinct value; the index section is the
    same RLE/bit-packed hybrid as the reference-parity wire.

        [4B <i n_dict]
        [4B <u32 dict-lens section size][dict lens: DELTA_BINARY_PACKED]
        [8B <u64 dict blob size][dict blob]
        [1B bit width][RLE/bit-packed hybrid of indices]
    """
    n_dict = len(lens)
    if lens_payload is None:  # callers may pass the size-trial's payload
        from .delta_bp import encode_delta_bp

        lens_payload, _ = encode_delta_bp(np.asarray(lens, dtype=np.int64))
    width = width_from_max_int(max(n_dict - 1, 0))
    index_page = encode_hybrid(np.asarray(codes), width)
    return b"".join(
        [
            int(n_dict).to_bytes(4, "little", signed=True),
            int(len(lens_payload)).to_bytes(4, "little"),
            lens_payload,
            int(len(blob)).to_bytes(8, "little"),
            blob,
            bytes([width]),
            index_page,
        ]
    )


def decode_dict_dlba_parts(data: bytes, n: int, positions=None):
    """Parse the dict-of-DLBA wire into ((uniq_lens, uniq_blob), indices)
    without expanding — callers gather with pyarrow take().  ``positions``
    as in decode_dict_parts.

    Loud-fails on corrupt/foreign wire (mirrors decode_dba's checks):
    negative dictionary count, negative lengths, a lengths-sum that does
    not match the blob size, or an index width wider than any legal
    dictionary — each would otherwise decode to fabricated strings."""
    from .delta_bp import decode_delta_bp

    mv = memoryview(data)
    n_dict = int.from_bytes(mv[:4], "little", signed=True)
    if n_dict < 0:
        raise ValueError("dict_dlba: negative dictionary count")
    l_sz = int.from_bytes(mv[4:8], "little")
    lens = decode_delta_bp(bytes(mv[8 : 8 + l_sz]), n_dict)
    pos = 8 + l_sz
    blob_n = int.from_bytes(mv[pos : pos + 8], "little")
    pos += 8
    if blob_n > len(mv) - pos:
        raise ValueError("dict_dlba: blob size exceeds payload")
    if n_dict and (np.asarray(lens) < 0).any():
        raise ValueError("dict_dlba: negative dictionary value length")
    if int(np.asarray(lens).sum()) != blob_n:
        raise ValueError(
            "dict_dlba: dictionary lengths do not match blob size"
        )
    blob = bytes(mv[pos : pos + blob_n])
    pos += blob_n
    width = data[pos]
    # indices address the dictionary: width beyond what |dict| needs (and
    # beyond the 32-bit index space) is corrupt framing, not data
    if width > max(width_from_max_int(max(n_dict - 1, 0)), 1):
        raise ValueError("dict_dlba: index width exceeds dictionary size")
    indices = decode_hybrid(
        data[pos + 1 :], width, n, np.int32 if width <= 31 else np.int64,
        positions=positions,
    )
    return (lens, blob), indices


def dict_size_estimate(card: int, n: int, value_bytes: int) -> int:
    """Predicted size: dict page + bit-packed indices (ignores index runs)."""
    width = width_from_max_int(max(card - 1, 0))
    return 4 + card * value_bytes + 1 + (n + 7) // 8 * width + 8
