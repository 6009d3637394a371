"""Frame-of-reference and plain bit-packing codecs (numpy kernels).

These generalize the reference's bit-packed run (encoding.py:139-180) into
standalone column codecs; FOR has no reference counterpart (SURVEY.md §2.3
"New-engine codecs" — cf. FastLanes / Lemire & Boytsov, "Decoding billions
of integers per second").  Delta coding is DELTA_BINARY_PACKED (delta_bp.py).

Kernels are dtype-preserving (int32 stays int32 until the bit-packer's
per-column word build) — minimizing memory traffic is what lets 32
concurrent executor-side workers scale on shared bandwidth.

Payload layouts (params travel in the blocks-table `params` JSON, not in
the payload):

    bitpack : pack_bits_lsb(values, width)              params: width
    for     : pack_bits_lsb(values - ref, width)        params: ref, width
"""

from __future__ import annotations

import numpy as np

from .bitstream import pack_bits_lsb, unpack_bits_lsb, width_from_max_int

__all__ = [
    "encode_bitpack",
    "decode_bitpack",
    "encode_for",
    "decode_for",
]


def _as_int(values) -> np.ndarray:
    vals = np.asarray(values)
    if vals.dtype.kind not in "iu":
        vals = vals.astype(np.int64)
    return vals


def encode_bitpack(values: np.ndarray) -> tuple[bytes, dict]:
    vals = _as_int(values)
    width = width_from_max_int(int(vals.max(initial=0)))
    return pack_bits_lsb(vals, width), {"width": width}


def decode_bitpack(data: bytes, n: int, params: dict, out_dtype=np.int64) -> np.ndarray:
    return unpack_bits_lsb(data, params["width"], n, out_dtype)


def encode_for(values: np.ndarray) -> tuple[bytes, dict]:
    vals = _as_int(values)
    if len(vals) == 0:
        return b"", {"ref": 0, "width": 0}
    ref = int(vals.min())
    span = int(vals.max()) - ref
    if vals.dtype != np.int64 and span > np.iinfo(vals.dtype).max:
        vals = vals.astype(np.int64)
    shifted = vals - ref
    width = width_from_max_int(span)
    return pack_bits_lsb(shifted, width), {"ref": ref, "width": width}


def decode_for(data: bytes, n: int, params: dict, out_dtype=np.int64) -> np.ndarray:
    ref = params["ref"]
    width = params["width"]
    # the reference add is FUSED into the unpack kernel's cache-blocked
    # loop (wraparound uint64 add) — a trailing `+ ref` would read and
    # rewrite the whole output once more; narrow int32 output only when
    # ref and ref+2^width both fit int32
    if (
        np.dtype(out_dtype).itemsize == 4
        and width <= 31
        and -(2**31) <= ref
        and ref + (1 << width) < 2**31
    ):
        return unpack_bits_lsb(data, width, n, np.int32, offset=ref)
    return unpack_bits_lsb(data, width, n, offset=ref)
