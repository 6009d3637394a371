"""Low-level bit-stream primitives shared by all codecs.

Wire-format parity targets (see SURVEY.md §2.3):
  * ULEB128 varint        — /root/reference/parquet/encoding.py:97-107 (D9)
  * LSB-first bit-packing — /root/reference/parquet/encoding.py:139-180 (D12)

All kernels are vectorized numpy; no per-value Python in the hot path.
"""

from __future__ import annotations

import functools

import numpy as np

__all__ = [
    "encode_varint",
    "decode_varint",
    "width_from_max_int",
    "pack_bits_lsb",
    "unpack_bits_lsb",
    "gather_bits_lsb",
]


def width_from_max_int(value: int) -> int:
    """Bits needed to hold ``value``: ceil(log2(value+1)).

    Parity with /root/reference/parquet/encoding.py:129-131 (D11), expressed
    via int.bit_length (identical for all non-negative ints).
    """
    if value < 0:
        raise ValueError("width_from_max_int expects a non-negative value")
    return int(value).bit_length()


def encode_varint(value: int) -> bytes:
    """ULEB128-encode a non-negative int (7-bit groups, MSB continuation)."""
    if value < 0:
        raise ValueError("varint expects a non-negative value")
    out = bytearray()
    while True:
        group = value & 0x7F
        value >>= 7
        if value:
            out.append(group | 0x80)
        else:
            out.append(group)
            return bytes(out)


def decode_varint(buf: bytes, pos: int) -> tuple[int, int]:
    """Decode a ULEB128 varint from ``buf`` at ``pos``; return (value, new_pos)."""
    result = 0
    shift = 0
    while True:
        byte = buf[pos]
        pos += 1
        result |= (byte & 0x7F) << shift
        if not byte & 0x80:
            return result, pos
        shift += 7


def pack_bits_lsb(values: np.ndarray, width: int) -> bytes:
    """Bit-pack ``values`` at ``width`` bits each, LSB-first within bytes.

    The produced byte stream is decodable by the reference's bit-packed-run
    reader (encoding.py:139-180): value bits are laid out least-significant
    bit first and may cross byte boundaries.  Counts that are not a
    multiple of 8 (one parquet "group" = 8 values) are zero-padded to the
    group boundary here — the reference's own zero-fill grammar
    (__init__.py:366-368); decode with the ORIGINAL count and the padding
    truncates away.
    """
    n = len(values)
    if n == 0 or width == 0:
        return b""
    vals = np.asarray(values)
    if vals.dtype.kind not in "iu":
        vals = vals.astype(np.int64)
    # One loop-free kernel for every width 1-64: 64-value superblocks.  64
    # values at `width` bits occupy exactly `width` little-endian uint64
    # words, and that bit stream is eight consecutive 8-value groups
    # (continuous LSB-first), so the wire format the reference reads is
    # unchanged.  Per chunk of superblock rows, runs of g adjacent values
    # are first joined into one field of g*width <= 64 bits (one matmul
    # with the weights 2^(i*width); the bits never overlap, so the sum is
    # the OR), with g as large as fits, so at most two fields start in a
    # word; each field is then shifted to its offset in its first word,
    # the fields that cross a word also right-shifted into the next, and
    # every word is the OR of at most three gathered columns of those.
    # A partial last superblock is zero-padded, and its first
    # ceil(count/8)*width bytes are exactly the padded 8-value groups.  A
    # call costs ~10-20 us of array ops at any width, so the many small
    # packs (delta_bp miniblocks) stay cheap.
    weights, lo_shift, hi_shift, gathers = _superblock_plan(width)
    full = n - n % 64
    blocks = [vals[s : min(s + _PACK_CHUNK, full)] for s in range(0, full, _PACK_CHUNK)]
    if n % 64:
        tail = np.zeros(64, dtype=vals.dtype)
        tail[: n % 64] = vals[full:]
        blocks.append(tail)
    W = np.empty((-(-n // 64), width), dtype=np.uint64)
    row = 0
    for b in blocks:
        f = b.reshape(-1, 64).astype(np.uint64)
        if len(weights) > 1:
            f = np.matmul(f.reshape(len(f), -1, len(weights)), weights)
        rows, c = f.shape
        # [fields at their offsets | crossing fields' high bits | zeros]
        parts = np.empty((rows, 2 * c + 1), dtype=np.uint64)
        np.left_shift(f, lo_shift, out=parts[:, :c])
        np.right_shift(f, hi_shift, out=parts[:, c : 2 * c])
        parts[:, -1] = 0
        Wc = W[row : row + rows]
        row += rows
        np.take(parts, gathers[0], axis=1, out=Wc, mode="clip")
        for g in gathers[1:]:
            Wc |= np.take(parts, g, axis=1, mode="clip")
    return W.reshape(-1).view(np.uint8)[: (n + 7) // 8 * width].tobytes()


# values per packing chunk: 512 superblock rows keep a chunk's fields and
# words L2-resident (the fastest of 8k-128k values per chunk at widths
# 5-63 on 0.06-3.2M values)
_PACK_CHUNK = 32768


@functools.lru_cache(maxsize=None)
def _superblock_plan(width: int):
    """How a superblock's 64 values at ``width`` bits become its words:
    the weights that join g adjacent values into one field (g a power of
    two, the largest with g*width <= 64), each field's shift inside its
    first word and right shift into the next, and per word the column of
    the [low | high | zero] parts array that each of its (at most three)
    contributions sits in."""
    g = 1 << (64 // width).bit_length() - 1
    fw, c = g * width, 64 // g
    weights = np.uint64(1) << (np.arange(g, dtype=np.uint64) * np.uint64(width))
    bit = np.arange(c) * fw
    word, lo = bit >> 6, bit & 63
    contrib = [[] for _ in range(width)]
    for j in range(c):
        contrib[word[j]].append(j)
        if lo[j] + fw > 64:  # crosses into the next word
            contrib[word[j] + 1].append(c + j)
    gathers = np.full((max(map(len, contrib)), width), 2 * c)
    for k, cols in enumerate(contrib):
        gathers[: len(cols), k] = cols
    # the high parts of fields that do not cross (right shift by 64) are
    # never gathered
    return weights, lo.astype(np.uint64), (64 - lo).astype(np.uint64), gathers


# values from which unpack_bits_lsb runs its 64-pass column loop, whose
# cost is nearly flat below 16k values: one gather_bits_lsb over every
# value's bit offset is 2-16x faster at 64-12k values, about even at 16k
# and 2x slower at 32k (widths 2-64, 4 vCPUs)
_UNPACK_LOOP_MIN = 1 << 14


def _cache_chunk(width: int) -> int:
    """Superblock rows per cache-blocked unpack pass: ~1.5 MB working set
    (8*width B of words + ~256 B of values per row)."""
    return max(512, min(8192, 1_500_000 // (8 * width + 256)))


def unpack_bits_lsb(
    data: bytes | np.ndarray, width: int, count: int, out_dtype=np.int64,
    table: np.ndarray | None = None, offset: int = 0,
) -> np.ndarray:
    """Inverse of :func:`pack_bits_lsb`.

    ``out_dtype``: np.int64 (default) or np.int32 (valid when width <= 31) —
    the narrow output halves the result's memory writes AND all downstream
    traffic, which is what the 8->32-worker decode scaling bottlenecks on
    (one box, shared bandwidth).  The result is a zero-copy signed view of
    the unpack buffer — no trailing astype pass.

    ``table``: optional gather table — the unpacked values are treated as
    indices and ``table[value]`` is written to the result INSIDE the
    cache-blocked inner loop (fused unpack+gather).  This is the
    dictionary-decode fusion: a separate index buffer would cost an extra
    write+read of 4-8 B/value of memory traffic, the dominant term of the
    8->32 decode scaling wall.  Result dtype is table.dtype.

    ``offset``: optional constant added inside the same loop (the
    frame-of-reference fusion; wraparound uint64 add, viewed signed — the
    two's-complement low bits are exact for any ref the encoder admitted).
    table and offset are mutually exclusive."""
    if table is not None:
        final = table.dtype
    else:
        small = np.dtype(out_dtype).itemsize == 4 and width <= 31
        final = np.dtype(np.int32 if small else np.int64)
    if count == 0:
        return np.empty(0, dtype=final)
    if width == 0:
        if table is not None:
            return np.full(count, table[0], dtype=final)
        return np.full(count, offset, dtype=final) if offset \
            else np.zeros(count, dtype=final)
    raw = np.frombuffer(data, dtype=np.uint8) if not isinstance(data, np.ndarray) else data
    # Mirrors the 64-value superblock packing, every width 1-64: `width`
    # uint64 words per 64 values, read as a zero-copy VIEW of the input
    # bytes (no pad-to-word-block copy pass); values extract with vector
    # shifts straight into the result buffer.  The <64-value tail, and a
    # run of fewer than _UNPACK_LOOP_MIN values whole, is read at its bit
    # offsets (gather_bits_lsb).
    mask = np.uint64((1 << width) - 1)
    off_u = np.uint64(offset & ((1 << 64) - 1)) if offset else None
    groups64 = count // 64 if count >= _UNPACK_LOOP_MIN else 0
    need64 = groups64 * width * 8
    if table is not None:
        res = np.empty(count, dtype=final)
    else:
        res = np.empty(count, dtype=np.uint32 if final.itemsize == 4 else np.uint64)
    if groups64:
        try:
            W = raw[:need64].view(np.uint64).reshape(groups64, width)
        except ValueError:  # non-contiguous slice: one defensive copy
            W = np.frombuffer(
                raw[:need64].tobytes(), dtype=np.uint64
            ).reshape(groups64, width)
        out = res[: groups64 * 64].reshape(groups64, 64)
        chunk = _cache_chunk(width)
        for s in range(0, groups64, chunk):
            e = min(s + chunk, groups64)
            Wc, oc = W[s:e], out[s:e]
            for j in range(64):
                bitpos = j * width
                k, shift = bitpos >> 6, bitpos & 63
                v = Wc[:, k] >> np.uint64(shift)
                if shift and shift + width > 64:
                    v = v | (Wc[:, k + 1] << np.uint64(64 - shift))
                if table is not None:
                    oc[:, j] = table[v & mask]  # fused gather, L2-resident
                elif off_u is not None:
                    oc[:, j] = (v & mask) + off_u  # fused FOR add
                else:
                    oc[:, j] = v & mask  # store downcasts to narrow buffer
    tail_count = count - groups64 * 64
    if tail_count:
        tail_bytes = (tail_count * width + 7) // 8
        tail = gather_bits_lsb(
            raw[need64 : need64 + tail_bytes], width,
            np.arange(tail_count, dtype=np.int64) * width,
        )
        if table is not None:
            tail = table[tail]
        elif off_u is not None:
            tail = tail + off_u
        res[groups64 * 64 :] = tail
    return res if table is not None else res.view(final)


def gather_bits_lsb(
    data: bytes | np.ndarray, width: int, bit_offsets: np.ndarray
) -> np.ndarray:
    """The ``width``-bit values that start at ``bit_offsets`` of an
    LSB-first bit stream (pack_bits_lsb's layout: value i of a packed run
    starting at byte b starts at bit 8*b + i*width), as uint64 — random
    access with no unpack of the values in between.  A value spans at
    most nine bytes: each is the little-endian word at its first byte,
    shifted down, OR the ninth byte's bits when shift + width > 64.  The
    stream is copied once, zero-padded, so the words past its end read
    as the packer's zero padding."""
    offs = np.asarray(bit_offsets, dtype=np.int64)
    if width == 0 or not len(offs):
        return np.zeros(len(offs), dtype=np.uint64)
    raw = np.frombuffer(data, dtype=np.uint8) if not isinstance(data, np.ndarray) else data
    first = offs >> 3
    # zero bytes past the stream's end read as padding, as in the unpack
    pad = np.zeros(len(raw) + 16, dtype=np.uint8)
    pad[: len(raw)] = raw
    # the little-endian word at every byte offset: an unaligned view
    words = np.ndarray((len(raw) + 8,), dtype="<u8", buffer=pad, strides=(1,))
    shift = (offs & 7).astype(np.uint64)
    v = words[first] >> shift
    cross = shift + np.uint64(width) > np.uint64(64)
    if cross.any():
        nxt = pad[first[cross] + 8].astype(np.uint64)
        v[cross] |= nxt << (np.uint64(64) - shift[cross])
    if width < 64:
        v &= np.uint64((1 << width) - 1)
    return v
