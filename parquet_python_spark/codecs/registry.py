"""Codec registry + per-chunk auto-selector (the engine's 'optimizer').

SURVEY.md §4: codec auto-selection is a physical-data decision made inside
the encode kernel — sampled cardinality / run-count / value-range stats feed
a bytes cost model that picks dict / RLE-hybrid / FSST / bit-pack / FOR /
DELTA_BINARY_PACKED / PLAIN per column chunk.  The reference parses parquet
Statistics but never consumes them (parquet.thrift:198-206); here they drive
the choice.

Public surface:
    encode_column(values, kind, codec=None)
                                 -> (codec_name, params_dict, payload_bytes,
                                     stats); kinds int, bool, float32,
                                     float64, flba, int96_ts
    decode_column(codec, payload, n, params, kind, positions=None)
                                 -> values (only those at ``positions``
                                    when given)
    chunk_stats(values)          -> dict of selector stats (also exported to
                                    the metrics/lineage table)
    wrap_outer / unwrap_outer, frame_page_v2 / parse_page_v2
                                 -> page compression (the Parquet page
                                    codecs via pyarrow) and the
                                    DATA_PAGE_V2 framing every compressed
                                    page gets, applied by
                                    operators/generic_codec._encode_values
Strings encode in arrow_io (encode_str_column / decode_str_column).
"""

from __future__ import annotations

import json

import numpy as np

from .bitstream import gather_bits_lsb, width_from_max_int
from .delta_bp import decode_delta_bp, encode_delta_bp
from .dictionary import decode_dict, dict_size_estimate, encode_dict
from .forpack import (
    decode_bitpack,
    decode_for,
    encode_bitpack,
    encode_for,
)
from .fsst import decode_fsst, encode_fsst, fsst_gain_sample
from .plain import (
    decode_plain_int32,
    decode_plain_int64,
    encode_plain_int32,
    encode_plain_int64,
)
from .rle import decode_hybrid, encode_hybrid_params

__all__ = ["encode_column", "decode_column", "chunk_stats", "select_codec"]

_SAMPLE = 65536


def chunk_stats(values: np.ndarray) -> dict:
    """Sampled per-chunk statistics driving the codec selector.

    One pass per statistic over the first ``_SAMPLE`` values: distinct
    counts come from ``np.bincount`` when the sample's value span is under
    four times its length (the same counts as a sort-based ``np.unique``,
    without the sort), and from ``np.unique`` otherwise.  ``pair_dup`` is
    computed only where :func:`select_codec` reads it (the fsst branch's
    guards, and a distinct count that leaves it able to exceed 0.45); it
    is 0.0 elsewhere, which selects exactly the same codec."""
    vals = np.asarray(values)
    if vals.dtype.kind not in "iu":
        vals = vals.astype(np.int64)
    n = len(vals)
    if n == 0:
        return {
            "n": 0, "min": 0, "max": 0, "n_runs": 0,
            "card_est": 0, "pair_dup": 0.0,
        }
    sample = vals[:_SAMPLE]
    vmin, vmax = int(vals.min()), int(vals.max())
    smin, smax = (
        (int(sample.min()), int(sample.max())) if n > len(sample) else (vmin, vmax)
    )
    dense = smax - smin < 4 * len(sample)
    if dense:
        # offsets from the sample minimum, exact for every integer dtype:
        # the wrapped int64 difference of two values less than a span
        # apart is the true one
        off = np.subtract(
            sample, sample.dtype.type(smin), dtype=np.intp, casting="unsafe"
        )
        bins = np.bincount(off)
        card_sample = int(np.count_nonzero(bins))
    else:
        _, cnts = np.unique(sample, return_counts=True)
        card_sample = len(cnts)
    if n > len(sample):
        # Chao1 richness estimator: s + f1^2/(2*f2) — corrects the severe
        # undercount of plain sample-distinct on high-cardinality data
        # (uniform 2^17-range data would otherwise look dict-friendly)
        f1 = int(np.count_nonzero(bins == 1)) if dense else int((cnts == 1).sum())
        f2 = int(np.count_nonzero(bins == 2)) if dense else int((cnts == 2).sum())
        chao = card_sample + (f1 * f1) / (2 * f2) if f2 else card_sample * 2
        card_est = int(min(n, max(card_sample, chao)))
    else:
        card_est = card_sample
    # run structure measured on the sample, scaled to n (selector only needs
    # the cost ranking; the encoder itself re-segments exactly).  A run of
    # L equal values is L-1 consecutive equal neighbour pairs, which are
    # few except on run-heavy data.
    from .rle import MIN_RLE_RUN

    eq = np.flatnonzero(sample[1:] == sample[:-1])
    breaks = np.flatnonzero(np.diff(eq) != 1) + 1
    run_pairs = np.diff(np.concatenate(([0], breaks, [len(eq)])))
    long_pairs = run_pairs[run_pairs >= MIN_RLE_RUN - 1]
    scale = n / len(sample)
    n_runs = max(1, int((len(sample) - len(eq)) * scale))
    # delta width estimate for DELTA_BINARY_PACKED: bits to hold the
    # sampled (delta - min_delta) range.  Python-int span guard first —
    # an int64 difference would silently wrap on a > 2^62 value span.
    if len(sample) >= 2 and vmax - vmin < 2**62:
        d = np.subtract(sample[1:], sample[:-1], dtype=np.int64, casting="unsafe")
        delta_w = width_from_max_int(int(d.max()) - int(d.min()))
    else:
        delta_w = 99  # delta_bp not applicable
    # the fsst branch's guards in select_codec; the sample's distinct pairs
    # number at least card_sample - 1 (every value but the last starts one)
    pair_dup = 0.0
    if (
        vmin >= 0
        and vmax < 2**24
        and card_est > 16
        and n / n_runs < 4
        and 1.0 - (card_sample - 1) / (len(sample) - 1) > 0.45
    ):
        # rank-remapped ids keep the pair table dense (card^2 entries)
        if dense:
            rank = np.zeros(len(bins), dtype=np.int32)
            rank[np.flatnonzero(bins)] = np.arange(card_sample)
            sample = rank[off]
        pair_dup = fsst_gain_sample(sample)
    return {
        "n": n,
        "min": vmin,
        "max": vmax,
        "n_runs": n_runs,
        "n_long_runs": int(len(long_pairs) * scale),
        "n_long_vals": int((long_pairs.sum() + len(long_pairs)) * scale),
        "card_est": card_est,
        "pair_dup": pair_dup,
        "delta_w": delta_w,
    }


def select_codec(stats: dict, kind: str = "int") -> str:
    """Pick the codec with the smallest predicted encoded size."""
    n = stats["n"]
    if n == 0:
        return "plain64"
    lo, hi = stats["min"], stats["max"]
    nonneg = lo >= 0
    fits32 = -(2**31) <= lo and hi < 2**31
    costs: dict[str, float] = {}
    costs["plain64"] = 8 * n
    if fits32:
        costs["plain32"] = 4 * n
    if nonneg:
        w = width_from_max_int(hi)
        if w <= 31:
            costs["bitpack"] = (n + 7) // 8 * w
            # rle: long runs collapse to headers, the rest is bit-packed
            # (exactly the encoder's segmentation, see rle.encode_hybrid)
            n_long_runs = stats.get("n_long_runs", 0)
            n_bp = n - stats.get("n_long_vals", 0) + 8 * n_long_runs
            costs["rle"] = (
                n_long_runs * (3 + (w + 7) // 8)
                + (n_bp + 7) // 8 * w
                + 5 * (n_long_runs + 1)
            )
    w_for = width_from_max_int(max(hi - lo, 0))
    if w_for <= 62:
        costs["for"] = (n + 7) // 8 * w_for + 16
    w_d = stats.get("delta_w", 99)
    if n >= 2 and w_d <= 62:
        # DELTA_BINARY_PACKED: miniblocks are 256 values and the last one
        # zero-pads to FULL size (spec), so short chunks pay whole
        # miniblocks — cost counts ceil(deltas/256) padded miniblocks, not
        # raw n*w/8 (the unpadded formula overselected delta_bp on small
        # chunks ~3x).  Plus per-block overhead (min-delta varint + 4
        # width bytes per 1024) + header.  Wins on monotone/clustered keys
        # where deltas are narrow but the absolute range (FOR) is wide.
        n_minis = -(-(n - 1) // 256)
        costs["delta_bp"] = n_minis * 256 * w_d / 8 + (n / 1024) * 7 + 16
    card = max(stats["card_est"], 1)
    if card <= n // 2 or card <= 4096:
        costs["dict"] = dict_size_estimate(card, n, 8 if not fits32 else 4)
    avg_run = n / max(stats["n_runs"], 1)
    if (
        nonneg
        and stats["pair_dup"] > 0.45
        and hi < 2**24
        and card > 16
        and avg_run < 4  # run-dominated chunks belong to rle, not fsst
    ):
        # conservative: ~60% of duplicated pairs become symbol hits
        w = width_from_max_int(hi + 256)
        est_stream = n * (1 - min(stats["pair_dup"], 0.9) * 0.6)
        costs["fsst"] = est_stream * w / 8 + 2048
    return min(costs, key=costs.get)  # type: ignore[arg-type]


# ---------------------------------------------------------------- integers

def _enc_int(
    vals: np.ndarray, codec: str, stats: dict, dict_ptype: str | None = None
) -> tuple[dict, bytes]:
    """``stats`` is chunk_stats(vals), whose exact min/max the kernels
    reuse.  dict_ptype pins the dictionary entry width (the float bits
    route keeps 8-byte entries so its dict page is PLAIN DOUBLE byte for
    byte); default: int32 when every value fits."""
    if codec == "plain64":
        return {}, encode_plain_int64(vals)
    if codec == "plain32":
        return {}, encode_plain_int32(vals)
    if codec == "bitpack":
        payload, params = encode_bitpack(vals)
        return params, payload
    if codec == "for":
        payload, params = encode_for(vals)
        return params, payload
    if codec == "delta_bp":
        payload, params = encode_delta_bp(vals)
        return params, payload
    if codec == "rle":
        return encode_hybrid_params(vals, width_from_max_int(max(stats["max"], 0)))
    if codec == "dict":
        fits32 = -(2**31) <= stats["min"] and stats["max"] < 2**31
        ptype = dict_ptype or ("int32" if fits32 else "int64")
        return {"ptype": ptype}, encode_dict(
            vals.astype(np.int32) if ptype == "int32" else vals, ptype
        )
    if codec == "fsst":
        payload, params = encode_fsst(vals, max(stats["max"], 0) + 1)
        return params, payload
    raise KeyError(f"unknown int codec {codec}")


def _enc_selected(
    vals: np.ndarray, codec: str, stats: dict, dict_ptype: str | None = None
) -> tuple[str, dict, bytes]:
    """_enc_int for a codec the selector chose -> (codec, params, payload).
    An fsst payload that is not smaller than bitpack's exact size,
    ceil(n/8) * width(max) bytes, is stored as bitpack instead: bitpack
    decodes faster, and the selector's fsst estimate assumes symbol hits
    that a table trained on uniform data (none, or a few) does not get."""
    params, payload = _enc_int(vals, codec, stats, dict_ptype)
    bitpack_size = (len(vals) + 7) // 8 * width_from_max_int(max(stats["max"], 0))
    if codec == "fsst" and len(payload) >= bitpack_size:
        codec = "bitpack"
        params, payload = _enc_int(vals, codec, stats)
    return codec, params, payload


def _dec_int(
    data: bytes, n: int, codec: str, params: dict, prefer32: bool = False,
    positions: np.ndarray | None = None,
) -> np.ndarray:
    """prefer32: return int32 when the codec can produce it without an
    extra pass (token columns are int32 — the wide int64 default doubles
    every downstream memory touch, the 32-worker scaling bottleneck).

    ``positions``: only the values at those indices (the gathers return
    int64 whatever prefer32 says).  bitpack and FOR gather them straight
    from the bit stream, rle and dict walk their hybrid runs
    (rle.decode_hybrid); delta_bp and fsst, whose values each depend on
    the ones before, decode whole and take, as do the plain codecs, whose
    whole decode is a zero-copy view."""
    if positions is not None:
        positions = np.asarray(positions, dtype=np.int64)
        if codec in ("bitpack", "for"):
            width = params["width"]
            vals = gather_bits_lsb(data, width, positions * width)
            if codec == "for":  # the unpack's wrapping add of the reference
                vals += np.uint64(params["ref"] % 2**64)
            return vals.view(np.int64)
        if codec not in ("rle", "dict"):
            return _dec_int(data, n, codec, params)[positions]
    if codec == "plain64":
        return np.asarray(decode_plain_int64(data, n), dtype=np.int64)
    if codec == "plain32":
        arr = decode_plain_int32(data, n)  # zero-copy '<i4' view
        return np.asarray(arr) if prefer32 else np.asarray(arr, dtype=np.int64)
    out_dtype = np.int32 if prefer32 else np.int64
    if codec == "bitpack":
        return decode_bitpack(data, n, params, out_dtype)
    if codec == "for":
        return decode_for(data, n, params, out_dtype)
    if codec == "delta_bp":
        return decode_delta_bp(data, n, params)
    if codec == "rle":
        return decode_hybrid(
            data, params["width"], n, out_dtype, hdr2=params.get("hdr2", False),
            positions=positions,
        )
    if codec == "dict":
        vals = decode_dict(data, n, params.get("ptype", "int32"), positions)
        if prefer32 and vals.dtype == np.int32:
            return vals
        return np.asarray(vals, dtype=np.int64)
    if codec == "fsst":
        return decode_fsst(data, n, params, out_dtype)
    raise KeyError(f"unknown int codec {codec}")


# -------------------------------------------------- outer (page) compression

_OUTER_CODECS = ("gzip", "snappy", "zstd", "lz4_raw", "brotli")


def wrap_outer(payload: bytes, params: dict, outer: str) -> bytes:
    """Compress a page's data section with one of the Parquet page codecs
    ``gzip``, ``snappy``, ``zstd``, ``lz4_raw`` or ``brotli`` through
    pyarrow's bundled codecs; any other name raises KeyError.  Orthogonal
    to the lightweight encodings; applied only when it shrinks (and never
    relied on by the <=-reference-size gate), recording ``outer`` and the
    raw size ``outer_raw`` that decompression needs.  gzip and snappy are
    the reference's page codecs (D20, /root/reference/parquet/
    __init__.py:223-250): gzip output is a gzip member (mtime 0, so
    reruns are byte-identical) that gzip.decompress reads, and snappy is
    the raw format python-snappy reads."""
    if outer not in _OUTER_CODECS:
        raise KeyError(f"unknown outer codec {outer}")
    import pyarrow as pa

    compressed = bytes(pa.Codec(outer).compress(payload))
    if len(compressed) >= len(payload):
        return payload
    params["outer"] = outer
    params["outer_raw"] = len(payload)
    return compressed


def unwrap_outer(payload: bytes, params: dict) -> bytes:
    outer = params.get("outer")
    if not outer:
        return payload
    if outer not in _OUTER_CODECS:
        raise KeyError(f"unknown outer codec {outer}")
    import pyarrow as pa

    return bytes(
        pa.Codec(outer).decompress(
            payload, decompressed_size=int(params["outer_raw"])
        )
    )


# ----------------------------------------------------- DATA_PAGE_V2 framing

_PAGE_V2_MAGIC = b"P2"


def frame_page_v2(
    def_blob: bytes | None, data: bytes, n_rows: int, n_nulls: int
) -> bytes:
    """Assemble a DATA_PAGE_V2-shaped page: definition levels stored
    UNCOMPRESSED ahead of the (possibly outer-compressed) data section,
    with ``num_rows`` / ``num_nulls`` carried in the page header — the
    Parquet DataPageHeaderV2 layout (public format spec: levels are never
    inside the compressed region, so a reader can count rows and weave
    validity without touching the data codec).  The reference reads V1
    pages only (/root/reference/parquet/__init__.py:273-378); this is the
    beyond-reference page shape modern writers emit by default.

    Wire: [2B magic "P2"] [4B <u32 n_rows] [4B <u32 n_nulls]
          [4B <u32 def_len] [def levels, RLE/bit-packed width-1,
          UNCOMPRESSED] [data section]
    """
    def_blob = def_blob or b""
    return b"".join(
        [
            _PAGE_V2_MAGIC,
            int(n_rows).to_bytes(4, "little"),
            int(n_nulls).to_bytes(4, "little"),
            int(len(def_blob)).to_bytes(4, "little"),
            def_blob,
            data,
        ]
    )


def parse_page_v2(buf: bytes) -> tuple[bytes | None, bytes, int, int]:
    """Inverse of :func:`frame_page_v2`; returns
    (def_blob | None, data_section, n_rows, n_nulls).  Loud-fails on
    foreign bytes rather than decoding a fabricated page."""
    mv = memoryview(buf)
    if len(mv) < 14:
        raise ValueError("page_v2: buffer shorter than the fixed header")
    if bytes(mv[0:2]) != _PAGE_V2_MAGIC:
        raise ValueError("page_v2: bad magic")
    n_rows = int.from_bytes(mv[2:6], "little")
    n_nulls = int.from_bytes(mv[6:10], "little")
    def_len = int.from_bytes(mv[10:14], "little")
    if n_nulls > n_rows or def_len > len(mv) - 14:
        raise ValueError("page_v2: header lengths exceed payload")
    if n_nulls and not def_len:
        raise ValueError("page_v2: nulls declared but no definition levels")
    def_blob = bytes(mv[14 : 14 + def_len]) if def_len else None
    return def_blob, bytes(mv[14 + def_len :]), n_rows, n_nulls


# ------------------------------------------------------------- public API

_DEC_MAX_E = 10
_DEC_SAMPLE = 1024


def _bits_dtype(dtype) -> type:
    return np.int32 if np.dtype(dtype).itemsize == 4 else np.int64


def _from_decimal(ints: np.ndarray, e: int, dtype) -> np.ndarray:
    """The decimal route's decode expression; encode verifies against
    exactly this, so decode is bit-exact by construction."""
    return (ints / 10.0**e).astype(dtype, copy=False)


def _decimal_ints(vals: np.ndarray, e: int) -> np.ndarray | None:
    """rint(v·10^e) as int64 when it decodes back to every value's exact
    bit pattern, else None.  Bits, not float ==: == equates -0.0 with 0.0
    (the image has no -0) and never matches NaN."""
    with np.errstate(over="ignore", invalid="ignore"):
        r = np.rint(vals.astype(np.float64) * 10.0**e)
    if not (np.abs(r) < 2.0**52).all():  # also rejects NaN / ±inf
        return None
    # verify from the int64 image itself: the float r may still be -0.0
    ints = r.astype(np.int64)
    bits = _bits_dtype(vals.dtype)
    if not np.array_equal(
        _from_decimal(ints, e, vals.dtype).view(bits), vals.view(bits)
    ):
        return None
    return ints


def _decimal_image(vals: np.ndarray) -> tuple[int, np.ndarray] | None:
    """ALP-style decimal image (Afroozeh, Kuffó, Boncz, SIGMOD 2024): the
    smallest exponent e that works on a leading sample, then verified on
    the whole chunk.  No exceptions are stored: one miss drops the image."""
    sample = vals[:_DEC_SAMPLE]
    for e in range(_DEC_MAX_E + 1):
        if _decimal_ints(sample, e) is not None:
            ints = _decimal_ints(vals, e)
            return None if ints is None else (e, ints)
    return None


def _float_int_route(vals: np.ndarray) -> tuple[dict, bytes] | None:
    """Encode a float chunk through the integer selector; returns
    (params, payload) or None when no integer image beats PLAIN.

    Two integer images are tried and the smaller payload is kept:
      * the raw IEEE bits (a dict result is Parquet's PLAIN_DICTIONARY
        for DOUBLE / FLOAT byte for byte);
      * the decimal image rint(v·10^e), when it is exact for the chunk.
    params carry the integer codec, its params and, for the decimal
    image, ``e``."""
    bits_dt = _bits_dtype(vals.dtype)
    images = [({}, vals.view(bits_dt), np.dtype(bits_dt).name)]
    dec = _decimal_image(vals)
    if dec is not None:
        images.append(({"e": dec[0]}, dec[1], None))
    best = None
    for extra, ints, dict_ptype in images:
        stats = chunk_stats(ints)
        c = select_codec(stats)
        if c in ("plain64", "plain32"):
            continue
        c, p, payload = _enc_selected(ints, c, stats, dict_ptype)
        if best is None or len(payload) < len(best[1]):
            best = ({"int_codec": c, "int_params": p, **extra}, payload)
    if best is None or len(best[1]) >= vals.nbytes:
        return None
    return best


def encode_column(values, kind: str = "int", codec: str | None = None):
    """Encode one column chunk; returns (codec, params, payload, stats).
    Strings encode in arrow_io.encode_str_column; page framing and outer
    compression belong to operators/generic_codec._encode_values."""
    if kind == "int":
        # dtype-preserving: int32 inputs stay int32 through the kernels
        # (halves memory traffic — the scaling bottleneck at 32 workers)
        vals = np.asarray(values)
        if vals.dtype.kind not in "iu":
            vals = vals.astype(np.int64)
        stats = chunk_stats(vals)
        if codec:  # a forced codec is stored as asked, fsst included
            params, payload = _enc_int(vals, codec, stats)
        else:
            codec, params, payload = _enc_selected(
                vals, select_codec(stats, kind), stats
            )
        return codec, params, payload, stats
    if kind == "bool":
        # D1 PLAIN boolean (reference encoding.py:28-33): 1 bit per value,
        # LSB-first — the same width-1 bit-packed layout the reference's
        # boolean reader consumes
        from .plain import encode_plain_boolean

        if codec not in (None, "plain_bool"):
            # don't silently ignore a forced codec (every other kind
            # honors or errors on it)
            raise KeyError(f"unknown bool codec {codec}")
        vals = np.asarray(values, dtype=bool)
        return "plain_bool", {}, encode_plain_boolean(vals), {"n": len(vals)}
    if kind in ("float32", "float64"):
        # Without a forced codec: the integer routes of _float_int_route
        # (dictionary over the IEEE bits, or an exact decimal image), kept
        # only when they beat PLAIN.  Otherwise PLAIN, or BYTE_STREAM_SPLIT
        # (Parquet's float encoding — streams of byte k across all values)
        # when forced: it is PLAIN's size and pays only under an outer codec.
        from .plain import (
            encode_bss,
            encode_plain_double,
            encode_plain_float,
        )

        itemsize = 4 if kind == "float32" else 8
        vals = np.ascontiguousarray(
            values, dtype="<f4" if itemsize == 4 else "<f8"
        )
        suffix = "f32" if itemsize == 4 else "f64"
        if codec is None and len(vals):
            routed = _float_int_route(vals)
            if routed is not None:
                return f"int_{suffix}", routed[0], routed[1], {"n": len(vals)}
        want = codec or "plain"
        if want in (f"bss_{suffix}", "bss"):
            return f"bss_{suffix}", {}, encode_bss(vals, itemsize), {"n": len(vals)}
        if want not in (f"plain_{suffix}", "plain"):
            raise KeyError(f"unknown {kind} codec {want}")
        enc = encode_plain_float if itemsize == 4 else encode_plain_double
        return f"plain_{suffix}", {}, enc(vals), {"n": len(vals)}
    if kind == "flba":
        # D7 FIXED_LEN_BYTE_ARRAY (reference encoding.py:72-74): decimals,
        # UUIDs, md5 digests.  Width recorded in params.
        from .plain import encode_plain_flba

        if isinstance(values, np.ndarray) and values.dtype == np.uint8:
            width = values.shape[1] if values.ndim == 2 else 0
            n = values.shape[0] if values.ndim == 2 else 0
        else:
            n = len(values)
            width = len(values[0]) if n else 0
        return (
            "plain_flba",
            {"width": int(width)},
            encode_plain_flba(values, width),
            {"n": n},
        )
    if kind == "int96_ts":
        # D4 PLAIN int96 mapped to timestamps (reference encoding.py:51-54):
        # values are epoch millis int64; wire format is Impala-layout
        # (nanos-of-day <q, julian day <i), 12 bytes per value.
        from .plain import int96_from_epoch_millis

        vals = np.asarray(values, dtype=np.int64)
        return "int96", {}, int96_from_epoch_millis(vals), {"n": len(vals)}
    raise KeyError(f"unknown kind {kind}")


def decode_column(
    codec: str, payload: bytes, n: int, params: dict, kind: str = "int",
    prefer32: bool = False, positions: np.ndarray | None = None,
):
    """The ``n`` values of one chunk, or with ``positions`` (indices below
    ``n``) only the values at those indices, equal to the whole decode
    taken there.  Layouts with random access read just those values:
    bit-packed and FOR ints and the int images of float chunks, dict and
    rle runs (_dec_int), and fixed-width plain and flba values.  The rest
    decode whole and take."""
    def at(vals):
        return vals if positions is None else vals[positions]

    if kind == "int":
        return _dec_int(payload, n, codec, params, prefer32, positions)
    if kind == "bool":
        from .plain import decode_plain_boolean

        return at(np.asarray(decode_plain_boolean(payload, n), dtype=bool))
    if kind in ("float32", "float64"):
        from .plain import decode_bss, decode_plain_double, decode_plain_float

        itemsize = 4 if kind == "float32" else 8
        suffix = "f32" if itemsize == 4 else "f64"
        if codec == f"int_{suffix}":
            ints = _dec_int(
                payload, n, params["int_codec"], params["int_params"],
                positions=positions,
            )
            dtype = np.float32 if itemsize == 4 else np.float64
            if "e" in params:
                return _from_decimal(ints, params["e"], dtype)
            return ints.astype(_bits_dtype(dtype), copy=False).view(dtype)
        if codec == f"bss_{suffix}":
            return at(decode_bss(payload, n, itemsize))
        dec = decode_plain_float if itemsize == 4 else decode_plain_double
        return at(np.asarray(dec(payload, n)))
    if kind == "flba":
        from .plain import decode_plain_flba, flba_matrix_to_bytes_list

        return flba_matrix_to_bytes_list(
            at(decode_plain_flba(payload, n, int(params["width"])))
        )
    if kind == "int96_ts":
        from .plain import epoch_millis_from_int96

        return at(epoch_millis_from_int96(payload, n))
    raise KeyError(f"unknown kind {kind}")


def params_to_json(params: dict) -> str:
    return json.dumps(params, separators=(",", ":"))


def params_from_json(s: str) -> dict:
    return json.loads(s) if s else {}
