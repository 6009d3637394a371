"""PLAIN encoders/decoders (vectorized) for the reference's physical types.

Wire parity: /root/reference/parquet/encoding.py:28-94 (SURVEY.md D1-D8).
Only the types the engine needs are implemented; all are zero-copy numpy.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "encode_plain_int32",
    "decode_plain_int32",
    "encode_plain_int64",
    "decode_plain_int64",
    "encode_plain_float",
    "decode_plain_float",
    "encode_plain_double",
    "decode_plain_double",
    "encode_plain_byte_array",
    "encode_plain_boolean",
    "decode_plain_boolean",
    "encode_plain_flba",
    "decode_plain_flba",
    "int96_from_epoch_millis",
    "epoch_millis_from_int96",
]


def encode_plain_int32(values: np.ndarray) -> bytes:
    return np.ascontiguousarray(values, dtype="<i4").tobytes()


def decode_plain_int32(data: bytes, count: int) -> np.ndarray:
    return np.frombuffer(data, dtype="<i4", count=count)


def encode_plain_int64(values: np.ndarray) -> bytes:
    return np.ascontiguousarray(values, dtype="<i8").tobytes()


def decode_plain_int64(data: bytes, count: int) -> np.ndarray:
    return np.frombuffer(data, dtype="<i8", count=count)


def encode_plain_float(values: np.ndarray) -> bytes:
    return np.ascontiguousarray(values, dtype="<f4").tobytes()


def decode_plain_float(data: bytes, count: int) -> np.ndarray:
    return np.frombuffer(data, dtype="<f4", count=count)


def encode_plain_double(values: np.ndarray) -> bytes:
    return np.ascontiguousarray(values, dtype="<f8").tobytes()


def decode_plain_double(data: bytes, count: int) -> np.ndarray:
    return np.frombuffer(data, dtype="<f8", count=count)


def encode_plain_boolean(values: np.ndarray) -> bytes:
    """1 bit per value, LSB-first (reference reads via the bit-packed path
    at width 1, encoding.py:28-33)."""
    return np.packbits(
        np.ascontiguousarray(values, dtype=np.uint8), bitorder="little"
    ).tobytes()


def decode_plain_boolean(data: bytes, count: int) -> np.ndarray:
    return np.unpackbits(
        np.frombuffer(data, dtype=np.uint8), bitorder="little", count=count
    ).astype(bool)


def encode_plain_byte_array(values: list[bytes] | np.ndarray) -> bytes:
    """Per value: `<i` length + raw bytes (encoding.py:67-69).

    Vectorized: lengths and payloads are assembled with one interleaved
    uint8 scatter instead of a per-value loop.
    """
    if len(values) == 0:
        return b""
    lengths = np.fromiter((len(v) for v in values), dtype=np.int64, count=len(values))
    payload = b"".join(values)
    total = 4 * len(values) + len(payload)
    out = np.empty(total, dtype=np.uint8)
    # target start offset of each [len][bytes] record
    starts = np.zeros(len(values), dtype=np.int64)
    starts[1:] = np.cumsum(lengths[:-1] + 4)
    len_le = np.ascontiguousarray(lengths, dtype="<i4").view(np.uint8).reshape(-1, 4)
    idx = starts[:, None] + np.arange(4)
    out[idx.ravel()] = len_le.ravel()
    src = np.frombuffer(payload, dtype=np.uint8)
    # positions of payload bytes: for each record, starts+4 .. starts+4+len
    mask = np.ones(total, dtype=bool)
    mask[idx.ravel()] = False
    out[mask] = src
    return out.tobytes()


def encode_plain_flba(values, width: int) -> bytes:
    """FIXED_LEN_BYTE_ARRAY (D7, reference encoding.py:72-74): `width` raw
    bytes per value, no length prefixes.  How real-world Parquet stores
    decimals and UUIDs.  Accepts a list of equal-length bytes or an
    (n, width) uint8 ndarray; vectorized via one contiguous buffer."""
    if isinstance(values, np.ndarray) and values.dtype == np.uint8:
        if width:
            mat = np.ascontiguousarray(values).reshape(-1, width)
            return mat.tobytes()
        return b""
    if any(len(v) != width for v in values):
        # per-value check: total-length-only validation would silently
        # misencode unequal widths that happen to sum to width*n
        raise ValueError(f"flba values are not all {width} bytes")
    return b"".join(values)


def decode_plain_flba(data: bytes, count: int, width: int) -> np.ndarray:
    """-> (count, width) uint8 matrix (zero-copy view of the payload)."""
    return np.frombuffer(data, dtype=np.uint8, count=count * width).reshape(
        count, width
    )


def flba_matrix_to_bytes_list(mat: np.ndarray) -> list[bytes]:
    """(n, w) uint8 -> list of bytes (the consumer-facing row values)."""
    w = mat.shape[1]
    blob = mat.tobytes()
    return [blob[i * w : (i + 1) * w] for i in range(mat.shape[0])]


_INT96_DT = np.dtype([("q", "<i8"), ("i", "<i4")])
_JULIAN_EPOCH = 2440588  # julian day number of 1970-01-01


def int96_from_epoch_millis(millis: np.ndarray) -> bytes:
    """Vectorized Impala-layout int96 timestamps from epoch millis:
    bytes 0-7 nanoseconds-of-day (<q), bytes 8-11 julian day (<i)."""
    millis = np.asarray(millis, dtype=np.int64)
    days = np.floor_divide(millis, 86_400_000)
    nanos = (millis - days * 86_400_000) * 1_000_000
    out = np.empty(len(millis), dtype=_INT96_DT)
    out["q"] = nanos
    out["i"] = (days + _JULIAN_EPOCH).astype(np.int32)
    return out.tobytes()


def epoch_millis_from_int96(data: bytes, count: int) -> np.ndarray:
    """Inverse of int96_from_epoch_millis (vectorized, no object ints)."""
    rec = np.frombuffer(data, dtype=_INT96_DT, count=count)
    days = rec["i"].astype(np.int64) - _JULIAN_EPOCH
    return days * 86_400_000 + rec["q"] // 1_000_000


# ------------------------------------------------- BYTE_STREAM_SPLIT (BSS)

def encode_bss(values: np.ndarray, itemsize: int) -> bytes:
    """BYTE_STREAM_SPLIT — the Parquet float encoding (public spec,
    parquet-format Encodings.md; format enum added for FLOAT/DOUBLE):
    byte k of every value is grouped into stream k, streams concatenated.
    Same size as PLAIN on its own, but the streams (exponents together,
    low mantissa bytes together) compress far better under an outer codec
    (wrap_outer zstd/snappy) — the standard float-column trick.  One numpy
    transpose, no per-value work."""
    dt = "<f4" if itemsize == 4 else "<f8"
    arr = np.ascontiguousarray(values, dtype=dt)
    return arr.view(np.uint8).reshape(len(arr), itemsize).T.tobytes()


def decode_bss(data: bytes, count: int, itemsize: int) -> np.ndarray:
    dt = "<f4" if itemsize == 4 else "<f8"
    raw = np.frombuffer(data, dtype=np.uint8, count=count * itemsize)
    return (
        np.ascontiguousarray(raw.reshape(itemsize, count).T)
        .view(np.uint8)
        .reshape(-1)
        .view(dt)[:count]
        .copy()
    )
