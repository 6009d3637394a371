"""RLE / bit-packed hybrid codec in the reference's exact wire format.

Grammar (SURVEY.md D10/D12/D14; wire semantics re-derived from
/root/reference/parquet/encoding.py:110-126 [RLE run],
encoding.py:139-180 [bit-packed run], encoding.py:216-237 [hybrid loop]):

    hybrid  := run*
    run     := varint header, payload
    header LSB == 0  ->  RLE run:  count = header >> 1,
                         payload = value in ceil(width/8) bytes little-endian
    header LSB == 1  ->  bit-packed run: groups = header >> 1,
                         payload = groups * width bytes holding groups*8
                         values, LSB-first across byte boundaries

The encoder is run-aware: maximal runs of >= MIN_RLE_RUN identical values
become RLE runs; everything between them is emitted as one bit-packed run
whose value count is kept a multiple of 8 by borrowing the first few values
of the following long run (so no zero padding ever lands mid-stream — only
the final bit-packed run may be zero-padded, which the reference decoder
tolerates and the caller truncates, mirroring __init__.py:366-368).

Encode is vectorized numpy; the only Python-level loop is over *long runs*
(each iteration covers >= MIN_RLE_RUN values).
"""

from __future__ import annotations

import numpy as np

from .bitstream import (
    decode_varint,
    encode_varint,
    gather_bits_lsb,
    pack_bits_lsb,
    unpack_bits_lsb,
)

__all__ = [
    "encode_hybrid",
    "encode_hybrid_params",
    "decode_hybrid",
    "MIN_RLE_RUN",
]

# A run must be at least this long to be worth an RLE header; 16 guarantees
# that after donating up to 7 values to 8-align the preceding bit-packed run
# the RLE run still repeats >= 9 times.
MIN_RLE_RUN = 16


def _rle_value_bytes(value: int, width: int) -> bytes:
    nbytes = (width + 7) // 8
    # Reference reads this zero-padded to 4 bytes as '<i' (encoding.py:117-121);
    # emitting the low ceil(width/8) bytes little-endian round-trips exactly
    # for any value representable in `width` bits.
    return int(value).to_bytes(nbytes, "little", signed=False)


def _emit_bitpacked(out: list[bytes], seg: np.ndarray, width: int) -> None:
    """Emit one bit-packed run for ``seg`` (zero-padded to a multiple of 8
    inside the bit-packer — no copy of the segment)."""
    n = len(seg)
    if n == 0:
        return
    groups = (n + 7) // 8
    out.append(encode_varint((groups << 1) | 1))
    out.append(pack_bits_lsb(seg, width))


# Fixed-stride vectorized RLE layout: every run's header is a 2-byte
# zero-PADDED varint (first byte always sets the continuation bit, second
# byte < 0x80) — still a legal ULEB128 the reference's
# read_unsigned_var_int (encoding.py:97-107) decodes identically, but the
# uniform (2 + value-bytes) record stride lets BOTH encode and decode run
# as single numpy reshape/scatter passes (no per-run Python).  Chosen only
# for run-dominated chunks, where the +1 header byte per run is noise.
RLE2_MAX_COUNT = (1 << 13) - 1  # header = count << 1 must fit 14 bits


def _encode_rle2(run_values: np.ndarray, counts: np.ndarray, width: int) -> bytes:
    wb = (width + 7) // 8
    if int(counts.max(initial=0)) > RLE2_MAX_COUNT:
        # split over-long runs into RLE2_MAX_COUNT chunks (vectorized)
        reps = -(-counts // RLE2_MAX_COUNT)
        run_values = np.repeat(run_values, reps)
        new_counts = np.full(int(reps.sum()), RLE2_MAX_COUNT, dtype=np.int64)
        new_counts[np.cumsum(reps) - 1] = counts - (reps - 1) * RLE2_MAX_COUNT
        counts = new_counts
    R = len(counts)
    h = counts.astype(np.uint32) << 1
    B = np.empty((R, 2 + wb), dtype=np.uint8)
    B[:, 0] = ((h & 0x7F) | 0x80).astype(np.uint8)
    B[:, 1] = (h >> 7).astype(np.uint8)
    B[:, 2:] = (
        np.ascontiguousarray(run_values)
        .astype("<u8")
        .view(np.uint8)
        .reshape(R, 8)[:, :wb]
    )
    return B.tobytes()


def _decode_rle2(data, width: int, n: int, dtype, table=None) -> np.ndarray:
    wb = (width + 7) // 8
    rec = 2 + wb
    raw = (
        np.frombuffer(data, dtype=np.uint8)
        if not isinstance(data, np.ndarray)
        else data
    )
    R = len(raw) // rec
    B = raw[: R * rec].reshape(R, rec)
    counts = (
        (B[:, 0].astype(np.uint32) & 0x7F) | (B[:, 1].astype(np.uint32) << 7)
    ) >> 1
    vb = np.zeros((R, 8), dtype=np.uint8)
    vb[:, :wb] = B[:, 2:]
    values = vb.view("<u8").ravel().astype(dtype)
    if table is not None:
        values = table[values]  # gather per RUN (R values), before expand
    res = np.repeat(values, counts.astype(np.int64))
    return res[:n] if len(res) > n else res


def _encode_hybrid_impl(values: np.ndarray, width: int) -> tuple[bytes, bool]:
    vals = np.asarray(values)
    if vals.dtype.kind not in "iu":
        vals = vals.astype(np.int64)
    n = len(vals)
    if n == 0:
        return b"", False
    if width == 0:
        # All values are zero: one RLE run covers everything.
        return encode_varint(n << 1) + _rle_value_bytes(0, 0), False

    boundaries = np.flatnonzero(vals[1:] != vals[:-1]) + 1
    counts = np.diff(boundaries, prepend=0, append=n)
    long_mask = counts >= MIN_RLE_RUN

    if not long_mask.any():
        # no long runs (e.g. shuffled dictionary indices): one bit-packed
        # run, no per-run bookkeeping arrays at all
        out0: list[bytes] = []
        _emit_bitpacked(out0, vals, width)
        return b"".join(out0), False

    # Vectorized fixed-stride layout when the chunk is run-dominated AND
    # has enough runs that the per-run Python loop below would dominate.
    if len(counts) >= 1024 and int(counts[long_mask].sum()) >= int(0.95 * n):
        starts = np.concatenate(([0], boundaries))
        return _encode_rle2(vals[starts], counts, width), True

    starts = np.concatenate(([0], boundaries))
    ends = np.concatenate((boundaries, [n]))
    out: list[bytes] = []
    long_idx = np.flatnonzero(long_mask)
    pos = 0
    for ri in long_idx:
        s = int(starts[ri])
        e = int(ends[ri])
        # 8-align the pending bit-packed segment by borrowing run values.
        borrow = (-(s - pos)) % 8
        _emit_bitpacked(out, vals[pos : s + borrow], width)
        run_count = e - (s + borrow)
        out.append(encode_varint(run_count << 1))
        out.append(_rle_value_bytes(int(vals[s]), width))
        pos = e
    _emit_bitpacked(out, vals[pos:], width)
    return b"".join(out), False


def encode_hybrid(values: np.ndarray, width: int) -> bytes:
    """Encode ``values`` (non-negative, < 2**width) as a raw hybrid run stream.

    No length prefix is included; callers that need the reference's
    4-byte-length framing (encoding.py:224-229) prepend it themselves.
    """
    return _encode_hybrid_impl(values, width)[0]


def encode_hybrid_params(values: np.ndarray, width: int) -> tuple[dict, bytes]:
    """Like :func:`encode_hybrid`, but also reports the chosen layout so the
    owning decoder can take the vectorized fixed-stride parse
    (``{"hdr2": True}``).  Either layout is plain reference hybrid wire —
    the flag is a pure decode-speed hint, never a format fork."""
    blob, fixed = _encode_hybrid_impl(values, width)
    params: dict = {"width": width}
    if fixed:
        params["hdr2"] = True
    return params, blob


def decode_hybrid(
    data: bytes,
    width: int,
    n: int,
    out_dtype=np.int64,
    hdr2: bool = False,
    table: np.ndarray | None = None,
    positions: np.ndarray | None = None,
) -> np.ndarray:
    """Decode the first ``n`` values of a raw hybrid run stream.

    Mirrors the reference's loop (encoding.py:231-236) with bulk numpy run
    expansion; the final-bit-packed-run zero overflow is cut by ``n``
    (reference: __init__.py:366-368).  The runs expand directly into one
    preallocated result (no per-run temporaries, no final concatenate
    pass) — the decode path's memory traffic is the 32-worker
    scaling bottleneck.  out_dtype=np.int32 (valid when width <= 31) halves
    that traffic again.

    ``table``: optional dictionary-gather fusion — decoded values are
    treated as indices and table[idx] lands in the result directly (RLE
    runs gather once per run; bit-packed runs gather inside
    unpack_bits_lsb's cache-blocked loop).  Kills the intermediate index
    buffer a decode-then-gather would write and re-read.

    ``positions``: only the values at those indices (each < n), in the
    same dtype: the runs are walked without expanding them, an RLE run
    gives its value and a bit-packed run's values are read straight from
    its bits (bitstream.gather_bits_lsb).
    """
    small = np.dtype(out_dtype).itemsize == 4 and width <= 31
    dtype = table.dtype if table is not None else (np.int32 if small else np.int64)
    idx_dtype = np.int32 if width <= 31 else np.int64
    if positions is not None:
        vals = _hybrid_at(data, width, n, hdr2, np.asarray(positions, dtype=np.int64))
        return table[vals] if table is not None else vals.astype(dtype, copy=False)
    if hdr2:
        # fixed-stride layout (see _encode_rle2): one reshape + one repeat
        return _decode_rle2(
            data, width, n, idx_dtype if table is not None else dtype, table
        )
    pos = 0
    total = len(data)
    res = None
    p = 0
    while pos < total and p < n:
        header, pos = decode_varint(data, pos)
        if header & 1:
            groups = header >> 1
            count = groups * 8
            nbytes = groups * width
            chunk = unpack_bits_lsb(
                np.frombuffer(data, dtype=np.uint8, count=nbytes, offset=pos),
                width, count, dtype, table=table,
            )
            pos += nbytes
            take = min(count, n - p)
            if p == 0 and take == n:
                # single-run stream (the common whole-chunk bit-packed
                # case): hand back the unpack buffer itself — no n-sized
                # copy into a second result array
                return chunk[:n] if count > n else chunk
            if res is None:
                res = np.empty(n, dtype=dtype)
            res[p : p + take] = chunk[:take]
        else:
            count = header >> 1
            nbytes = (width + 7) // 8
            raw = data[pos : pos + nbytes].ljust(4, b"\x00")
            value = int.from_bytes(raw, "little", signed=True)
            pos += nbytes
            take = min(count, n - p)
            if res is None:
                res = np.empty(n, dtype=dtype)
            # broadcast fill, no np.full temp (gathered once for RLE runs)
            res[p : p + take] = table[value] if table is not None else value
        p += take
    if res is None:
        res = np.empty(n, dtype=dtype)
    return res[:p] if p < n else res


def _hybrid_at(data, width: int, n: int, hdr2: bool, positions: np.ndarray) -> np.ndarray:
    """decode_hybrid's values at ``positions``, as int64.  One pass over
    the run headers records each run's first value index and either its
    RLE value or the byte offset of its bit-packed payload; each position
    then finds its run (searchsorted) and reads one value.  The
    fixed-stride layout expands whole: its runs are long by selection."""
    if hdr2:  # one vectorized parse of the fixed-stride runs
        return _decode_rle2(data, width, n, np.int64)[positions]
    raw = np.frombuffer(data, dtype=np.uint8) if not isinstance(data, np.ndarray) else data
    starts, offsets, values = [], [], []
    pos = p = 0
    while pos < len(raw) and p < n:
        header, pos = decode_varint(data, pos)
        starts.append(p)
        if header & 1:
            offsets.append(pos)
            values.append(0)
            p += (header >> 1) * 8
            pos += (header >> 1) * width
        else:
            nbytes = (width + 7) // 8
            offsets.append(-1)
            values.append(int.from_bytes(
                bytes(raw[pos : pos + nbytes]).ljust(4, b"\x00"), "little", signed=True
            ))
            p += header >> 1
            pos += nbytes
    run = np.searchsorted(np.array(starts, dtype=np.int64), positions, "right") - 1
    out = np.array(values, dtype=np.int64)[run]
    off = np.array(offsets, dtype=np.int64)[run]
    packed = off >= 0
    if packed.any():
        first = np.array(starts, dtype=np.int64)[run[packed]]
        bits = off[packed] * 8 + (positions[packed] - first) * width
        out[packed] = gather_bits_lsb(raw, width, bits).view(np.int64)
    return out
