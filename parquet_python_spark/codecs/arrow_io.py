"""Arrow-native column encode/decode adapters.

The engine's hot path is applyInArrow: a partition arrives as a pa.Table
whose list column already holds the flattened values buffer (Arrow list
layout == the repetition-level concept, SURVEY.md D18) and whose string
columns are (offsets, data) buffer pairs.  These adapters encode/decode
straight from those buffers — zero per-row Python, near-zero copies.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .dba import dba_gain_sample, decode_dba, encode_dba
from .delta_bp import decode_delta_bp, encode_delta_bp
from .dictionary import (
    decode_dict_dlba_parts,
    decode_dict_parts,
    encode_dict_dlba_wire,
    encode_dict_wire,
)
from .forpack import decode_for, encode_for
from .fsst import decode_fsst, encode_fsst, fsst_gain_sample

__all__ = [
    "combined_chunks",
    "string_array_lens_blob",
    "string_array_from_lens_blob",
    "encode_str_column",
    "decode_str_column",
    "list_column_flat",
]


def combined_chunks(arr):
    """Collapse a ChunkedArray to one Array (no-op for plain Arrays)."""
    if isinstance(arr, pa.ChunkedArray):
        return arr.combine_chunks()
    return arr


def string_array_lens_blob(arr) -> tuple[np.ndarray, bytes]:
    """(lengths, concatenated utf-8 bytes) from a pa string array, via its
    offsets/data buffers (no per-value objects)."""
    arr = combined_chunks(arr)
    if pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type):
        off_dt = np.int64
    else:
        off_dt = np.int32
    bufs = arr.buffers()
    off = np.frombuffer(
        bufs[1], dtype=off_dt, count=len(arr) + 1, offset=arr.offset * np.dtype(off_dt).itemsize
    ).astype(np.int64)
    lens = np.diff(off)
    blob = bufs[2].to_pybytes()[off[0] : off[-1]] if bufs[2] is not None else b""
    return lens, blob


def string_array_from_lens_blob(lens: np.ndarray, blob: bytes) -> pa.Array:
    n = len(lens)
    # int64 cumsum first: a >=2 GiB blob must NOT silently wrap int32
    # offsets into corrupt strings
    offsets64 = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets64[1:])
    if offsets64[-1] >= 2**31:
        raise ValueError(
            "string chunk exceeds int32 offset range; increase n_parts"
        )
    offsets = offsets64.astype(np.int32)
    return pa.Array.from_buffers(
        pa.utf8(), n, [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(blob)]
    )


def _select_str_codec_arrow(arr) -> str:
    """dict when low-cardinality (page form decided at encode: PLAIN vs
    DLBA uniques, whichever is smaller), DELTA_BYTE_ARRAY when consecutive
    values share long prefixes, FSST on motif-repetitive streams, plain
    otherwise.  DBA-vs-FSST compares estimated savings (dba removes ~gain
    of the blob; fsst converts ~60% of duplicated pairs)."""
    n = len(arr)
    if n == 0:
        return "str_plain"
    probe = arr.slice(0, min(n, 8192))
    card = pc.count_distinct(probe).as_py()
    if card <= max(16, len(probe) // 8):
        return "dict"
    lens, blob = string_array_lens_blob(combined_chunks(arr).slice(0, min(n, 1024)))
    fsst_g = 0.0
    if len(blob) > 256:
        stream = np.frombuffer(blob, dtype=np.uint8).astype(np.int64)
        fsst_g = fsst_gain_sample(stream)
    dba_g = dba_gain_sample(lens, blob) if len(blob) else 0.0
    if dba_g > 0.3 and dba_g >= 0.6 * fsst_g:
        return "str_dba"
    if fsst_g > 0.5:
        return "str_fsst"
    return "str_plain"


def enc_str_lens_blob(lens: np.ndarray, blob: bytes, codec: str) -> tuple[dict, bytes]:
    """Core string encoding over Arrow-native (lengths, byte blob) layout.

    Lengths take the smaller of frame-of-reference and DELTA_BINARY_PACKED
    (recorded in params["lens_codec"]); codec "str_dlba" pins the
    delta_bp-lengths + raw-bytes layout — the Parquet
    DELTA_LENGTH_BYTE_ARRAY wire shape (public spec, Encodings.md: lengths
    as DELTA_BINARY_PACKED, then the concatenated byte data); codec
    "str_dba" is the Parquet DELTA_BYTE_ARRAY prefix-compressed wire
    (prefix lengths as delta_bp + suffixes as DLBA — see codecs/dba.py)."""
    if codec == "str_dba":
        return encode_dba(lens, blob)
    if codec == "str_dlba":
        len_payload, len_params = encode_delta_bp(lens)
        lens_codec = "dbp"
        body_src = "str_plain"
    else:
        for_payload, for_params = encode_for(lens)
        dbp_payload, dbp_params = encode_delta_bp(lens)
        if len(dbp_payload) < len(for_payload):
            len_payload, len_params, lens_codec = dbp_payload, dbp_params, "dbp"
        else:
            len_payload, len_params, lens_codec = for_payload, for_params, "for"
        body_src = codec
    if body_src == "str_plain":
        body = blob
        body_params: dict = {}
    elif body_src == "str_fsst":
        stream = np.frombuffer(blob, dtype=np.uint8).astype(np.int64)
        # the FSST paper's 16 KB training sample: at 8 KB, random hex
        # strings keep 0.84 of their bytes against 0.78
        body, body_params = encode_fsst(stream, 256, sample_size=16384)
    else:
        raise KeyError(f"unknown str codec {codec}")
    payload = b"".join(
        [
            int(len(len_payload)).to_bytes(4, "little"),
            len_payload,
            int(len(blob)).to_bytes(8, "little"),
            body,
        ]
    )
    return (
        {"lens": len_params, "body": body_params, "lens_codec": lens_codec},
        payload,
    )


def dec_str_lens_blob(data: bytes, n: int, codec: str, params: dict):
    """Inverse of :func:`enc_str_lens_blob`; returns (lens, blob)."""
    if codec == "str_dba":
        return decode_dba(data, n)
    mv = memoryview(data)
    len_sz = int.from_bytes(mv[0:4], "little")
    if params.get("lens_codec", "for") == "dbp":
        lens = decode_delta_bp(bytes(mv[4 : 4 + len_sz]), n, params["lens"])
    else:
        lens = decode_for(mv[4 : 4 + len_sz], n, params["lens"])
    pos = 4 + len_sz
    blob_n = int.from_bytes(mv[pos : pos + 8], "little")
    pos += 8
    if codec in ("str_plain", "str_dlba"):
        blob = bytes(mv[pos:])[:blob_n]
    elif codec == "str_fsst":
        stream = decode_fsst(bytes(mv[pos:]), blob_n, params["body"])
        blob = stream.astype(np.uint8).tobytes()
    else:
        raise KeyError(f"unknown str codec {codec}")
    return lens, blob


def encode_str_column(arr, codec: str | None = None):
    """pa string array -> (codec, params, payload)."""
    arr = combined_chunks(arr)
    forced = codec
    codec = codec or _select_str_codec_arrow(arr)
    if codec in ("dict", "dict_dlba"):
        d = pc.dictionary_encode(arr)
        indices = d.indices.to_numpy(zero_copy_only=False)
        u_lens, u_blob = string_array_lens_blob(d.dictionary)
        use_dlba = codec == "dict_dlba"
        lens_payload = None
        if forced is None and not use_dlba:
            # auto page form: PLAIN uniques (the reference-parity
            # PLAIN_DICTIONARY page) vs the DLBA uniques page — decided by
            # actual encoded size (uniques are a small set, the trial is
            # one cheap delta_bp of the lengths, reused for the real wire
            # when DLBA wins).  A caller-forced "dict" stays on the
            # reference-parity page.
            from .delta_bp import encode_delta_bp

            lens_payload, _ = encode_delta_bp(u_lens)
            dlba_page = 8 + len(lens_payload) + 8 + len(u_blob)
            plain_page = 4 + 4 * len(u_lens) + len(u_blob)
            use_dlba = dlba_page < plain_page
        if use_dlba:
            payload = encode_dict_dlba_wire(
                indices, u_lens, u_blob, lens_payload
            )
            return "dict_dlba", {"ptype": "byte_array"}, payload
        uniques = [
            (u if isinstance(u, bytes) else u.encode()) for u in d.dictionary.to_pylist()
        ]
        payload = encode_dict_wire(indices, uniques, "byte_array")
        return "dict", {"ptype": "byte_array"}, payload
    lens, blob = string_array_lens_blob(arr)
    params, payload = enc_str_lens_blob(lens, blob, codec)
    if codec == "str_fsst" and forced is None:
        # a selected symbol table that does not shrink the bytes (no
        # symbol trained: same codes plus a header; few symbols: 9-bit
        # codes) is stored plain; payload = 4B + lengths + 8B + body
        body = len(payload) - 12 - int.from_bytes(payload[:4], "little")
        if body >= len(blob):
            codec = "str_plain"
            params, payload = enc_str_lens_blob(lens, blob, codec)
    return codec, params, payload


def decode_str_column(
    codec: str, payload: bytes, n: int, params: dict, positions=None
) -> pa.Array:
    """payload -> pa string array (dictionary expansion stays in C++).
    ``positions``: only the strings at those positions — a dictionary
    looks up just their indices; every other layout decodes whole and
    takes them (each value's bytes start where the previous one ends)."""
    if codec == "dict":
        uniques, indices = decode_dict_parts(payload, n, positions)
        dict_arr = pa.array([u.decode() for u in uniques], type=pa.utf8())
        return pc.take(dict_arr, pa.array(indices, type=pa.int64()))
    if codec == "dict_dlba":
        (u_lens, u_blob), indices = decode_dict_dlba_parts(payload, n, positions)
        dict_arr = string_array_from_lens_blob(u_lens, u_blob)
        return pc.take(dict_arr, pa.array(indices, type=pa.int64()))
    lens, blob = dec_str_lens_blob(payload, n, codec, params)
    arr = string_array_from_lens_blob(lens, blob)
    return arr if positions is None else arr.take(pa.array(positions, type=pa.int64()))


def list_column_flat(arr) -> tuple[np.ndarray, np.ndarray]:
    """(flat values, per-row lengths) from a pa list array — the values
    buffer IS the concatenation (zero-copy; no per-row work)."""
    arr = combined_chunks(arr)
    # flatten() honors slices/offsets and is zero-copy for non-null lists
    flat = arr.flatten().to_numpy(zero_copy_only=False)
    offsets = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    lens = np.diff(offsets)
    return flat, lens
