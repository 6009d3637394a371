"""Generic per-column encode/decode over arbitrary DataFrames.

Extends the engine beyond the tokens schema: any table becomes a blocks
table (one row per partition x column) and back, using the same codec
registry + auto-selector.  This is what lets the engine cover the
reference's full read path on its own fixtures (ints, strings, doubles,
arrays, fixed-width, int96) — SURVEY.md §2.3 D1-D22 re-expressed
Spark-first.

Column kinds:
    int      — any integral Spark type (encoded as int64 chunks)
    str      — StringType
    float64  — DoubleType (bit-exact: dict over IEEE bits, exact decimal
               image, or PLAIN — see codecs/registry._float_int_route)
    float32  — FloatType  (same routes as float64)
    int_list — ArrayType(int)    (flattened values + lengths chunk)
    f32_list — ArrayType(float)  (flattened values + lengths chunk)
    flba     — BinaryType, equal-length values (D7 FIXED_LEN_BYTE_ARRAY)
    int96_ts — epoch-millis int64 via Impala int96 wire (D4)
    bool     — BooleanType, 1 bit/value LSB-first (D1 PLAIN boolean)

Scale design: encode_df runs applyInArrow over its groupBy("part_id"),
and the decoders and round-trips run mapInArrow tasks (engine.map_tasks);
a decoder reads block files only, and raises on a blocks DataFrame that
is not a bare scan of them (engine._block_files).  One decode function,
_decode_fn, turns a part's block rows into output rows for both block
schemas: engine's tokens readers decode through it too.  Either way chunks
arrive as Arrow tables whose string/list columns are (offsets, data)
buffer pairs, and the kernels encode/decode straight from those buffers
with no per-row Python (reference NEVER vectorizes — lists throughout,
encoding.py:125-180; here it is mandatory).  Partition count follows data
size (rows / ~TARGET_ROWS per part, floored at the cluster's default
parallelism) instead of a fixed constant, so the same code holds at 100x
the input.
"""

from __future__ import annotations

import functools
import math
import numbers
import os
import shutil
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..codecs import decode_column, encode_column, params_from_json, params_to_json
from ..codecs.arrow_io import (
    combined_chunks,
    decode_str_column,
    encode_str_column,
    list_column_flat,
)
from ..engine import _DECODE_COLS, _META_COLS, _block_files, _decode_block_files
from ..engine import local_parquet_scan_files, map_tasks, part_runs, read_block_file
from ..engine import _with_min_parallelism
from ..session import session_tmpdir

BLOCKS_SCHEMA = T.StructType(
    [
        T.StructField("part_id", T.IntegerType(), False),
        T.StructField("column", T.StringType(), False),
        T.StructField("codec", T.StringType(), False),
        T.StructField("params", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("n_values", T.LongType(), False),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("enc_bytes", T.LongType(), False),
        T.StructField("checksum", T.LongType(), False),
        # per-chunk min/max statistics (numeric kinds; the reference parses
        # parquet Statistics but never consumes them, parquet.thrift:198-206
        # — here they drive block pruning in decode_df_pruned)
        T.StructField("stat_min", T.LongType(), True),
        T.StructField("stat_max", T.LongType(), True),
        # split-into-words Bloom filter over the chunk's distinct values
        # (int kinds, cardinality-capped) — equality-predicate block
        # skipping, complementing the min/max zone maps which only help
        # range predicates (Parquet's own BloomFilter header analog,
        # parquet.thrift; the reference parses neither)
        T.StructField("bloom", T.BinaryType(), True),
        # TRUNCATED string bounds for str columns (Parquet ColumnIndex
        # truncation semantics): stat_min_str is a prefix of the chunk min
        # (a prefix sorts <= the original — valid lower bound);
        # stat_max_str is the truncated max's SUCCESSOR (last char + 1),
        # so every value in the chunk sorts <= it; NULL max = unbounded.
        # Fixed 16-char cap keeps metadata rows small at any value width
        T.StructField("stat_min_str", T.StringType(), True),
        T.StructField("stat_max_str", T.StringType(), True),
        # per-chunk null count (Parquet Statistics.null_count analog —
        # parsed by the reference at parquet.thrift:198-206, never used):
        # drives IS NULL / IS NOT NULL chunk skipping in
        # decode_df_pruned_multi for every scalar kind
        T.StructField("n_nulls", T.LongType(), False),
    ]
)

_BLOCKS_ARROW = pa.schema(
    [f.with_nullable(True) for f in to_arrow_schema(BLOCKS_SCHEMA)]
)

# character cap for truncated string zone-map bounds
STR_STAT_CHARS = 16


def _str_stats(arr: pa.Array) -> tuple[str | None, str | None]:
    """Truncated (lower_bound, upper_bound) over a string chunk.  The
    lower bound is the min truncated to STR_STAT_CHARS chars (a prefix
    sorts <= the original).  The upper bound is the max truncated and
    then INCREMENTED at its last char (every string with that prefix
    sorts strictly below the successor), or None (unbounded) in the
    degenerate can't-increment case — truncation must never tighten a
    bound.  Code-point order everywhere (Spark UTF8String, DuckDB and
    Python all compare UTF-8 strings by code point)."""
    if len(arr) == 0 or arr.null_count == len(arr):
        return (None, None)
    mm = pc.min_max(arr)
    mn, mx = mm["min"].as_py(), mm["max"].as_py()
    lo = mn[:STR_STAT_CHARS]
    if len(mx) <= STR_STAT_CHARS:
        return (lo, mx)
    p = mx[:STR_STAT_CHARS]
    i = len(p) - 1
    while i >= 0 and ord(p[i]) >= 0x10FFFF:
        i -= 1
    if i < 0:  # all chars at the code-point ceiling: no finite successor
        return (lo, None)
    nxt = ord(p[i]) + 1
    if 0xD800 <= nxt <= 0xDFFF:  # skip the surrogate gap (invalid UTF-8);
        nxt = 0xE000  # a LARGER successor is still a valid upper bound
    return (lo, p[:i] + chr(nxt))

def _float_ordered_bits(vals: np.ndarray) -> np.ndarray:
    """Total-order-preserving signed-int64 image of float64 values (the
    IEEE-754 radix-sort trick, adjusted for a SIGNED target: non-negative
    floats keep their bit pattern, negative floats flip all non-sign
    bits).  Lets float columns share the int64 chunk statistics with
    exact monotone semantics: -inf < -1 < -0.0 < +0.0 < 1 < +inf <
    NaN — matching Spark's NaN-greatest float ordering.  Every NaN,
    whatever its sign bit and payload, maps to the image of the one
    canonical NaN (Spark orders all NaNs as equal)."""
    f = np.ascontiguousarray(vals, dtype=np.float64)
    bits = np.where(np.isnan(f), np.int64(0x7FF8 << 48), f.view(np.int64))
    return np.where(bits >= 0, bits, bits ^ np.int64(0x7FFFFFFFFFFFFFFF))


def _float_ordered_scalar(v: float) -> int:
    return int(_float_ordered_bits(np.array([float(v)], dtype=np.float64))[0])


_LIST_KINDS = {"int_list": "int", "f32_list": "float32"}
_NUMERIC_NP = {
    "int": np.int64,
    "float64": np.float64,
    "float32": np.float32,
    "int96_ts": np.int64,
    "bool": np.bool_,
}

# target rows per encode partition; partition count grows with data size
TARGET_ROWS_PER_PART = 262_144
# the Spark key types encode_df range-partitions on (and the int types
# the decoders widen to long)
_INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)

# ------------------------------------------------------- bloom filters
# Double-hashing Bloom filter over a chunk's DISTINCT int values: h_i =
# h1 + i*h2 (Kirsch-Mitzenmacher, public literature), splitmix64 finalizer
# for the base hashes.  ~10 bits/distinct, k=7 -> ~1% false positives.
# Wire: [1B k][bitset bytes] (m = 8 * (len-1) bits, power of two).
# Internal pruning metadata, not an oracle-checked value surface — uint64
# wrap arithmetic is fine here.

BLOOM_MAX_CARD = 1 << 16  # above this a filter stops paying for itself
_BLOOM_K = 7


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)).astype(np.uint64)
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)).astype(np.uint64)
    return (x ^ (x >> np.uint64(31))).astype(np.uint64)


def bloom_build(vals: np.ndarray) -> bytes | None:
    """Bloom bitset over the distinct values of ``vals`` (None when the
    chunk is too high-cardinality to be worth indexing)."""
    vals = np.asarray(vals, dtype=np.int64)
    if len(vals) > 2 * BLOOM_MAX_CARD:
        # cheap exact short-circuit before the full O(n log n) unique:
        # distinct(any subset) <= distinct(all), so a BOUNDED strided
        # sample (cap+1 elements — O(cap log cap) regardless of n, not a
        # half-size sort) already exceeding the cap proves the chunk is
        # over it — the common case for unique-key columns, which
        # otherwise pay the full sort just to learn "no filter"
        stride = max(1, len(vals) // (BLOOM_MAX_CARD + 1))
        if len(np.unique(vals[::stride][: BLOOM_MAX_CARD + 1])) > BLOOM_MAX_CARD:
            return None
    uniq = np.unique(vals)
    if len(uniq) == 0 or len(uniq) > BLOOM_MAX_CARD:
        return None
    m_bits = 1 << max(10, int(np.ceil(np.log2(len(uniq) * 10))))
    u = uniq.view(np.uint64)
    h1 = _splitmix64(u)
    h2 = _splitmix64(u ^ np.uint64(0xA076_1D64_78BD_642F)) | np.uint64(1)
    bitset = np.zeros(m_bits // 8, dtype=np.uint8)
    mask = np.uint64(m_bits - 1)
    for i in range(_BLOOM_K):
        idx = (h1 + np.uint64(i) * h2) & mask
        np.bitwise_or.at(
            bitset, (idx >> np.uint64(3)).astype(np.int64),
            np.left_shift(np.uint8(1), (idx & np.uint64(7)).astype(np.uint8)),
        )
    return bytes([_BLOOM_K]) + bitset.tobytes()


def bloom_might_contain(blob: bytes, value: int) -> bool:
    """True when ``value`` MAY be in the chunk (false positives possible,
    false negatives impossible)."""
    bitset = np.frombuffer(blob, dtype=np.uint8, offset=1)
    m_bits = len(bitset) * 8
    for idx in _bloom_positions(value, blob[0]):
        idx %= m_bits
        if not (bitset[idx >> 3] >> (idx & 7)) & 1:
            return False
    return True


def _bloom_positions(value: int, k: int) -> list[int]:
    """The ``k`` bit positions bloom_build sets for ``value``, before the
    modulo the bitset's size (a power of two) takes: (h1 + i*h2) mod 2^64."""
    u = np.array([value], dtype=np.int64).view(np.uint64)
    h1 = int(_splitmix64(u)[0])
    h2 = int(_splitmix64(u ^ np.uint64(0xA076_1D64_78BD_642F))[0]) | 1
    return [(h1 + i * h2) % 2**64 for i in range(k)]

def _def_levels_blob(valid: np.ndarray) -> bytes:
    """Width-1 RLE/bit-packed-hybrid validity stream (reference definition
    levels, __init__.py:295-317; SURVEY.md D17)."""
    from ..codecs.rle import encode_hybrid

    return encode_hybrid(valid.astype(np.int64), 1)


def _decode_def_levels(blob: bytes, n_rows: int) -> np.ndarray:
    from ..codecs.rle import decode_hybrid

    return decode_hybrid(blob, 1, n_rows).astype(bool)


def _encode_values(
    arr: pa.Array, kind: str, forced: str | None, outer: str | None = None
):
    """Encode the non-null values of an Arrow array; returns
    (codec, params_json, payload, n_values).

    The outer codec decides the page shape.  ``outer=None``: the
    reference's DATA_PAGE shape — validity stream length-prefixed INSIDE
    the payload.  A set ``outer`` (registry.wrap_outer): the DATA_PAGE_V2
    shape (registry.frame_page_v2) — levels stay uncompressed ahead of the
    data section, num_rows/num_nulls in the header, and ``outer``
    compresses ONLY the data section."""
    n = len(arr)
    has_nulls = arr.null_count > 0
    present = pc.drop_null(arr) if has_nulls else arr

    if kind == "str":
        codec, params, payload = encode_str_column(present, forced)
    elif kind == "flba":
        # zero-copy path: binary array buffers -> (n, w) uint8 matrix
        blob = present.buffers()[2]
        offs = np.frombuffer(
            present.buffers()[1], dtype=np.int32, count=len(present) + 1,
            offset=present.offset * 4,
        )
        widths = np.diff(offs)
        w = int(widths[0]) if len(widths) else 0
        if len(widths) and not (widths == w).all():
            raise ValueError("flba column has unequal value widths")
        # frombuffer/reshape are well-defined for n==0 and w==0 alike
        # (zero-width values decode back as n empty byte strings)
        mat = np.frombuffer(
            blob, dtype=np.uint8, count=len(present) * w,
            offset=int(offs[0]) if len(offs) else 0,
        ).reshape(len(present), w)
        codec, params, payload, _ = encode_column(mat, "flba")
    else:
        np_dtype = _NUMERIC_NP[kind]
        vals = present.to_numpy(zero_copy_only=False).astype(np_dtype, copy=False)
        codec, params, payload, _ = encode_column(vals, kind, codec=forced)

    params = dict(params)
    def_blob = None
    if has_nulls:
        valid = pc.is_valid(arr).to_numpy(zero_copy_only=False)
        def_blob = _def_levels_blob(valid)
    if outer:
        from ..codecs.registry import frame_page_v2, wrap_outer

        payload = wrap_outer(payload, params, outer)
        payload = frame_page_v2(def_blob, payload, n, n - len(present))
        params["__page__"] = "v2"
    elif has_nulls:
        payload = b"".join(
            [int(len(def_blob)).to_bytes(4, "little"), def_blob, payload]
        )
        params["__nulls__"] = True
    return codec, params_to_json(params), payload, len(present)


def _decode_values(
    payload: bytes, n_rows: int, n_values: int, codec: str, params_json: str,
    kind: str, rows: np.ndarray | None = None, prefer32: bool = False,
) -> pa.Array:
    """Inverse of _encode_values: decode payload -> typed Arrow array with
    nulls re-woven from the validity stream (reference __init__.py:336-338).
    Handles both page shapes: V1 (validity prefixed inside the payload)
    and V2 (registry.parse_page_v2 framing, outer-compressed data).

    ``rows`` (ascending row positions): only those rows, equal to the
    whole decode taken there.  They map to value positions through the
    validity stream, and the codecs read just those values where their
    layout allows (registry.decode_column, arrow_io.decode_str_column).
    ``prefer32``: an int chunk decodes at int32 where its codec can
    (decode_column), else at int64."""
    params = params_from_json(params_json)
    if "__pouter__" in params:
        # a whole-page outer wrap: no page shape this module writes, and
        # never to be misread as an uncompressed V1 page
        raise ValueError("unsupported whole-page outer compression (__pouter__)")
    valid = None
    if params.pop("__page__", None) == "v2":
        from ..codecs.registry import parse_page_v2, unwrap_outer

        def_blob, payload, hdr_rows, hdr_nulls = parse_page_v2(payload)
        if hdr_rows != n_rows or hdr_rows - hdr_nulls != n_values:
            raise ValueError(
                "page_v2: header counts disagree with block metadata"
            )
        payload = unwrap_outer(payload, params)
        if def_blob is not None:
            valid = _decode_def_levels(def_blob, n_rows)
    elif params.pop("__nulls__", False):
        mv = memoryview(payload)
        def_sz = int.from_bytes(mv[0:4], "little")
        valid = _decode_def_levels(bytes(mv[4 : 4 + def_sz]), n_rows)
        payload = bytes(mv[4 + def_sz :])

    positions = rows
    if rows is not None and valid is not None:
        # a present row's value position is the count of present rows
        # before it
        positions = (np.cumsum(valid, dtype=np.int64) - 1)[rows[valid[rows]]]
        valid = valid[rows]
    if kind == "str":
        arr = decode_str_column(codec, payload, n_values, params, positions)
    else:
        vals = decode_column(
            codec, payload, n_values, params, kind, prefer32, positions
        )
        arr = (
            pa.array(vals, type=pa.binary()) if kind == "flba"
            else pa.array(np.asarray(vals))
        )

    if valid is None:
        return arr
    # scatter present values into null slots via take with null indices
    idx = np.cumsum(valid, dtype=np.int64) - 1
    return pc.take(arr, pa.array(idx, mask=~valid))


def encode_df(
    df: DataFrame,
    key_col: str,
    col_kinds: dict[str, str],
    n_parts: int | None = None,
    partitioning: str = "range",
) -> DataFrame:
    """Encode ``col_kinds`` columns of ``df`` into a blocks DataFrame.

    Rows are bucketed by value range of the integral key ``key_col``: the
    clustered-table layout that makes per-block min/max stats selective
    (the pruned decodes skip whole blocks), deterministic given the data.
    ``n_parts`` defaults to ~TARGET_ROWS_PER_PART rows per part, floored
    at the cluster's default parallelism; one aggregate gives both the
    key bounds and that row count.  ``partitioning`` accepts "range" only.
    """
    if partitioning != "range":
        raise ValueError(f"unknown partitioning {partitioning!r}")
    key_type = df.schema[key_col].dataType
    if not isinstance(key_type, _INT_TYPES):
        raise ValueError(
            f"encode_df: key column {key_col!r} is {key_type.simpleString()};"
            " range partitioning needs a byte, short, int or long key"
        )
    cols = [key_col] + [c for c in col_kinds if c != key_col]
    bounds = df.agg(
        F.min(key_col).alias("lo"),
        F.max(key_col).alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    if n_parts is None:
        floor = df.sparkSession.sparkContext.defaultParallelism
        rows = int(bounds["n"])
        n_parts = int(max(floor, min(65536, -(-rows // TARGET_ROWS_PER_PART))))
    if bounds["lo"] is None:  # empty input: single (empty) partition
        part_expr = F.lit(0)
    else:
        lo, hi = int(bounds["lo"]), int(bounds["hi"])
        span = max(hi - lo + 1, 1)
        if span <= (2**62) // max(n_parts, 1):
            # exact integer bucketing
            part_expr = F.least(
                F.lit(n_parts - 1),
                (
                    (F.col(key_col).cast("long") - F.lit(lo))
                    * n_parts / F.lit(span)
                ).cast("int"),
            )
        else:
            # wide key ranges (e.g. hash-derived int64 keys): the exact
            # formula would overflow (key-lo)*n_parts past int64 and wrap
            # part ids negative (or throw under ANSI).  Bucket on the
            # double fraction instead — monotonic and deterministic; the
            # slight boundary fuzz only shifts rows between ADJACENT
            # buckets, which zone-map pruning tolerates (stats stay exact
            # per block)
            frac = (
                F.col(key_col).cast("double") - F.lit(float(lo))
            ) / F.lit(float(span))
            part_expr = F.greatest(
                F.lit(0),
                F.least(F.lit(n_parts - 1), (frac * n_parts).cast("int")),
            )
    work = df.select(*cols).withColumn("part_id", part_expr)
    # string blooms: hash JVM-side (xxhash64, vectorized in codegen) so the
    # encode UDF never runs per-row Python over string bytes; the hidden
    # column rides next to its string column and is dropped from the blocks
    for c, kind in col_kinds.items():
        if kind == "str":
            work = work.withColumn(f"__bh_{c}", F.xxhash64(F.col(c)))
    enc = _chunk_encoder(key_col, col_kinds)
    return work.groupBy("part_id").applyInArrow(
        lambda key, tbl: enc(tbl, key[0].as_py()), schema=BLOCKS_SCHEMA
    )


def _is_sorted_by(tbl: pa.Table, key_col: str) -> bool:
    """True when the chunk is already ascending-sorted on ``key_col`` (no
    nulls): sort_by is stable, so its result on such input is the identity
    permutation and the O(n log n) sort can be skipped — byte-identical
    blocks either way.  Engine-written tables and most scan splits arrive
    key-sorted, making this the common case; the check is one vectorized
    comparison pass (~1% of the sort it replaces)."""
    col = tbl.column(key_col)
    if col.null_count:
        return False  # sort_by moves nulls to the end: let it
    if len(col) < 2:
        return True
    try:
        arr = combined_chunks(col)
        return bool(
            pc.all(
                pc.greater_equal(arr.slice(1), arr.slice(0, len(arr) - 1))
            ).as_py()
        )
    except pa.ArrowException:  # non-comparable key type: let sort_by decide
        return False


def _chunk_encoder(
    key_col: str,
    col_kinds: dict[str, str],
    forced_codecs: dict[str, str] | None = None,
    outer: str | None = None,
    build_stats: bool = True,
):
    """``enc(tbl, part_id)``: one chunk of rows -> its blocks table, the
    one chunk encoder of encode_df (per part_id group) and of the fused
    round-trip (per chunk, encode and decode in one Python task).
    ``build_stats=False`` skips every pruning artifact (chunk min/max,
    string bounds, blooms): a fused round-trip discards the blocks table
    immediately, so those bytes could never be consumed."""
    forced_codecs = forced_codecs or {}

    def enc(tbl: pa.Table, part_id: int) -> pa.Table:
        if not _is_sorted_by(tbl, key_col):
            tbl = tbl.sort_by(key_col)
        n_rows = tbl.num_rows
        rows = []

        def add(column, codec, params, payload, n_values, stats=(None, None),
                bloom=None, str_stats=(None, None), n_nulls=0):
            rows.append(
                {
                    "part_id": part_id,
                    "column": column,
                    "codec": codec,
                    "params": params,
                    "payload": payload,
                    "n_values": n_values,
                    "n_rows": n_rows,
                    "enc_bytes": len(payload),
                    "checksum": zlib.crc32(payload),
                    "stat_min": stats[0],
                    "stat_max": stats[1],
                    "bloom": bloom,
                    "stat_min_str": str_stats[0],
                    "stat_max_str": str_stats[1],
                    "n_nulls": n_nulls,
                }
            )

        def int_stats(arr):
            if arr.null_count == len(arr) or len(arr) == 0:
                return (None, None)
            mm = pc.min_max(arr)
            return (mm["min"].as_py(), mm["max"].as_py())

        for col, kind in col_kinds.items():
            forced = forced_codecs.get(col)
            arr = combined_chunks(tbl.column(col))
            if kind in _LIST_KINDS:
                if arr.null_count:
                    raise ValueError(f"null lists unsupported in {col}")
                elem_kind = _LIST_KINDS[kind]
                flat, lens = list_column_flat(arr)
                c, p, payload, nv = _encode_values(
                    pa.array(lens), "int", None, outer
                )
                add(col + ".lens", c, p, payload, nv)
                c, p, payload, nv = _encode_values(
                    pa.array(np.asarray(flat)), elem_kind, forced, outer
                )
                add(col + ".vals", c, p, payload, nv)
            else:
                stats = (None, None)
                sstats = (None, None)
                bloom = None
                if not build_stats:
                    pass  # fused round-trip: no pruning artifact is reachable
                elif kind in ("int", "int96_ts"):
                    stats = int_stats(arr)
                    present = pc.drop_null(arr) if arr.null_count else arr
                    bloom = bloom_build(present.to_numpy(zero_copy_only=False))
                elif kind == "str":
                    sstats = _str_stats(arr)
                    # bloom over the JVM-computed xxhash64 values
                    # (row-aligned; drop slots where the string is null)
                    hvals = combined_chunks(
                        tbl.column(f"__bh_{col}")
                    ).to_numpy(zero_copy_only=False)
                    if arr.null_count:
                        hvals = hvals[
                            pc.is_valid(arr).to_numpy(zero_copy_only=False)
                        ]
                    bloom = bloom_build(hvals.astype(np.int64, copy=False))
                elif kind in ("float64", "float32") and arr.null_count < len(arr):
                    # float zone maps ride the int64 stat columns through
                    # the order-preserving bits transform (exact monotone,
                    # NaN sorts greatest — same as Spark) over the present
                    # values
                    present = pc.drop_null(arr) if arr.null_count else arr
                    ob = _float_ordered_bits(
                        present.to_numpy(zero_copy_only=False)
                    )
                    stats = (int(ob.min()), int(ob.max()))
                c, p, payload, nv = _encode_values(arr, kind, forced, outer)
                add(col, c, p, payload, nv, stats, bloom, sstats,
                    n_nulls=arr.null_count)
        return pa.Table.from_pylist(rows, schema=_BLOCKS_ARROW)

    return enc


def _decode_fn(
    col_kinds: dict[str, str],
    out_schema: T.StructType,
    prune: tuple | list | None = None,
    _lists: dict[str, tuple[str, str]] | None = None,
):
    """Per-part block-rows -> decoded-rows function: the one decode of
    both block schemas (the tokens readers of engine, the pruned decodes
    here), exposed so the fused round-trip can chain it directly onto the
    encode function inside one Python task.

    The output holds ``out_schema``'s columns, in its order and with its
    Arrow types: an int column or list element that it declares
    IntegerType decodes at int32 (decode_column's ``prefer32``; a kernel
    that returns only int64 is cast), any other at int64.  A list column
    takes its lengths and flat values from two chunks, ``<col>.lens`` and
    ``<col>.vals``, or the (lengths column, values column) that
    ``_lists`` names for it (tokens blocks: ``("n_tok", "tokens")``).  A
    chunk decodes whole at most once per part, so a lengths chunk that is
    also an output column serves both.

    ``prune`` is a ``(pred_col, lo, hi)`` tuple or a list of entries, each
    a tuple or a list of tuples (a union group: IN-list, OR), as
    _pred_keep emits them: float bounds are ordered bits, and
    ``(pred_col, None, want_null)`` is IS [NOT] NULL.  With ``prune`` the
    function returns exactly the matching rows, through one boolean row
    mask (late materialization): every entry is evaluated row by row on
    its decoded column (_row_mask; on a list column, some element in
    [lo, hi]), AND across entries and OR inside a union group.  A part
    whose mask is all false returns before any other column decodes;
    otherwise every other output column decodes only the mask's rows
    (_decode_values' ``rows``).

    The two halves are also exposed as ``dec.select(tbl)`` (the predicate
    columns decoded and the row positions kept: None = every row) and
    ``dec.gather(selected)`` (the output table), so a caller can count the
    kept rows of every part before gathering any (_decode_parts)."""
    arrow_out = to_arrow_schema(out_schema)
    empty_out = arrow_out.empty_table()
    prunes = _prune_groups(prune)
    lists = {c: (f"{c}.lens", f"{c}.vals") for c in col_kinds} | (_lists or {})
    int32 = {
        f.name for f in out_schema.fields
        if isinstance(getattr(f.dataType, "elementType", f.dataType), T.IntegerType)
    }

    def arr(part: tuple, col: str, rows=None) -> pa.Array:
        """``col``'s values in ``part`` (only ``rows`` when given); a whole
        decode is kept in the part's cache.  A chunk no kind names is a
        list's lengths: ints."""
        by_col, n_rows, whole = part
        if col in whole:
            return whole[col] if rows is None else whole[col].take(pa.array(rows))
        kind = col_kinds.get(col, "int")
        if kind in _LIST_KINDS:
            lens_col, vals_col = lists[col]
            lens = arr(part, lens_col).to_numpy(zero_copy_only=False)
            out = _list_arr(
                lens, by_col[vals_col], _LIST_KINDS[kind], rows, col in int32
            )
        else:
            out = _chunk_arr(by_col[col], n_rows, kind, rows, col in int32)
        if rows is None:
            whole[col] = out
        return out

    def select(tbl: pa.Table) -> tuple:
        """(chunk rows by column, n_rows, the part's whole decodes — the
        predicate columns —, kept row positions or None for every row)."""
        by_col = {r["column"]: r for r in tbl.to_pylist()}
        part = (by_col, int(next(iter(by_col.values()))["n_rows"]), {})
        # late materialization: every prune entry is evaluated row by row
        # on its decoded column (AND across entries, OR inside a group)
        mask = None  # None = every row
        for group in prunes:
            m = np.zeros(part[1], dtype=bool)
            for pcol, lo, hi in group:
                m |= _row_mask(arr(part, pcol), col_kinds[pcol], lo, hi)
            mask = m if mask is None else mask & m
        rows = None if mask is None or mask.all() else np.flatnonzero(mask)
        return (*part, rows)

    def gather(selected: tuple) -> pa.Table:
        *part, rows = selected
        if rows is not None and not len(rows):
            return empty_out
        return pa.Table.from_arrays(
            [arr(part, f.name, rows).cast(f.type) for f in arrow_out],
            schema=arrow_out,
        )

    def dec(tbl: pa.Table) -> pa.Table:
        return gather(select(tbl))

    dec.select, dec.gather = select, gather
    return dec


def _prune_groups(prune) -> list[list[tuple]]:
    """_decode_fn's ``prune`` as a list of entries, each a group of
    tuples ORed: a bare tuple is a group of one."""
    if prune is None:
        return []
    if isinstance(prune, tuple):
        prune = [prune]
    return [e if isinstance(e, list) else [e] for e in prune]


def _chunk_arr(
    row: dict, n_rows: int, kind: str, rows=None, prefer32: bool = False
) -> pa.Array:
    """One chunk's values (only ``rows`` when given), its checksum
    verified first."""
    payload = bytes(row["payload"])
    if zlib.crc32(payload) != int(row["checksum"]):
        raise ValueError(f"checksum mismatch in {row['column']}")
    return _decode_values(
        payload, n_rows, int(row["n_values"]), row["codec"], row["params"],
        kind, rows, prefer32,
    )


def _list_arr(
    lens: np.ndarray, vals: dict, kind: str, rows, prefer32: bool
) -> pa.Array:
    """A list column from its per-row lengths ``lens`` and the chunk row
    ``vals`` of its flat values (only ``rows`` when given): the values
    decode at the kept rows' element positions only."""
    offsets = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    elems = None
    if rows is not None:
        lens = lens[rows]
        starts = offsets[rows]
        offsets = np.zeros(len(rows) + 1, dtype=np.int64)
        np.cumsum(lens, out=offsets[1:])
        # each kept row's elements: its start, then consecutive
        elems = np.repeat(starts - offsets[:-1], lens) + np.arange(offsets[-1])
    if offsets[-1] >= 2**31:
        # int32 list offsets would wrap: fail loudly, never corrupt
        raise ValueError(
            f"list partition holds {offsets[-1]} elements (>= 2^31); "
            "encode it in smaller parts"
        )
    # the flat chunk's rows are its elements (never null), not the part's
    flat = _chunk_arr(vals, int(vals["n_values"]), kind, elems, prefer32)
    return pa.ListArray.from_arrays(
        pa.array(offsets.astype(np.int32), type=pa.int32()), flat
    )


def _row_mask(arr: pa.Array, kind: str, lo, hi) -> np.ndarray:
    """Rows of ``arr``, the decoded values of a ``kind`` column, that
    satisfy one prune tuple as a Spark filter would: ``(col, None,
    want_null)`` is IS NULL / IS NOT NULL, a list row some element with
    lo <= v <= hi (an empty list never), anything else lo <= v <= hi (a
    null value never satisfies a bound).  Str values compare in UTF-8
    byte order, Spark's string order; an int column with a float bound
    compares in double, as Spark does.  A float column's bounds are
    ordered bits (_range_keep), so its values compare as their
    _float_ordered_bits images, which order as Spark does: every NaN
    equal and above +inf, and -0.0 equal to 0.0 through the bounds'
    ±0 widening."""
    if kind in _LIST_KINDS:
        # hits[i] = in-range elements among the first i: a row matches
        # when its run [offsets[r], offsets[r + 1]) adds at least one
        vals = arr.values.to_numpy(zero_copy_only=False)
        offsets = arr.offsets.to_numpy(zero_copy_only=False)
        hits = np.zeros(len(vals) + 1, dtype=np.int64)
        np.cumsum((vals >= lo) & (vals <= hi), out=hits[1:])
        return hits[offsets[1:]] > hits[offsets[:-1]]
    if lo is None:
        m = arr.is_null() if hi else arr.is_valid()
    elif kind.startswith("float"):
        bits = _float_ordered_bits(arr.to_numpy(zero_copy_only=False))
        valid = arr.is_valid().to_numpy(zero_copy_only=False)
        return (bits >= lo) & (bits <= hi) & valid
    else:
        m = pc.and_kleene(pc.greater_equal(arr, lo), pc.less_equal(arr, hi))
    return pc.fill_null(m, False).to_numpy(zero_copy_only=False)


def decode_df_pruned(
    blocks: DataFrame,
    key_col: str,
    col_kinds: dict[str, str],
    out_schema: T.StructType,
    pred_col: str,
    lo: int,
    hi: int,
) -> DataFrame:
    """Decode only the partitions whose [stat_min, stat_max] for
    ``pred_col`` intersects [lo, hi] — min/max block skipping, the thing
    the reference parses from parquet Statistics but never does
    (parquet.thrift:198-206).  The driver plans the keep set from the
    chunk statistics (_chunk_meta: the cached block index of the block
    files, in no Spark job), and only the surviving parts are read and
    decoded, file-direct (_decode_parts), so non-qualifying payloads are
    never read.  The decode returns exactly the matching rows
    (_decode_fn): for a small lookup in the driver process when this
    function is CALLED, else in a Spark job when the result is collected
    (_decode_parts).  ``blocks`` that are not a bare scan of block files
    raise ValueError (engine._block_files).

    ``pred_col`` may be an int/int96_ts column (exact chunk bounds), a
    float column with numeric bounds (exact bounds through the
    order-preserving bits transform), or a str column with str bounds
    (TRUNCATED chunk bounds, Parquet Statistics truncation semantics —
    stat_min_str is a prefix of the min, stat_max_str the truncated max's
    successor, NULL = unbounded, so the chunk filter stays conservative at
    any value width)."""
    return decode_df_pruned_multi(
        blocks, key_col, col_kinds, out_schema,
        [("range", pred_col, lo, hi)],
    )


def _chunk_meta(
    blocks: DataFrame, col_kinds: dict[str, str], cols
) -> tuple[dict, pa.Table]:
    """(the proven layout of the block files — engine._block_files, which
    raises ValueError on any other blocks DataFrame —; the
    chunk-statistics rows (_META_COLS) of ``cols`` as one driver-side
    Arrow table) — a pruned call's one layout proof and its plan source.
    The rows are the block index rows the proof returned, so no Spark job
    runs; no payload or bitset reaches the driver.

    Loud-fails when a predicate column was never encoded into a
    NON-EMPTY blocks table: its keep set would otherwise be empty (an
    AND returns a definitive-looking empty result, an OR silently drops
    that member's rows, a metadata count returns 0).  An empty blocks
    table (empty input) is legitimate.  Unknown and list kinds have no
    chunk rows under their own name and are not checked: the predicate
    dispatch raises the precise kind error for those."""
    cols = sorted(set(cols))
    files = _block_files(blocks, _PLAN_SCHEMA)
    # one contiguous table first: the column filter then runs once, not
    # once per file's chunk
    meta = pa.concat_tables(
        [rows for _, rows in files.values()], promote_options="permissive"
    ).combine_chunks()
    names = meta.column("column")
    meta = meta.filter(pc.is_in(names, pa.array(cols, names.type)))
    present = set(pc.unique(meta.column("column")).to_pylist())
    missing = [
        c for c in cols
        if c not in present and col_kinds.get(c) not in (None, *_LIST_KINDS)
    ]
    if missing and (meta.num_rows or any(pids for pids, _ in files.values())):
        raise ValueError(
            f"column {missing[0]!r} has no chunks in this blocks table "
            "(encoded with different col_kinds?)"
        )
    return files, meta


def _all(*masks):
    """Kleene AND: a NULL comparison stays NULL, and _parts drops it,
    exactly as a Spark filter drops a NULL predicate."""
    return functools.reduce(pc.and_kleene, masks)


def _parts(meta: pa.Table, mask) -> set[int]:
    """part_ids of the metadata rows whose mask is true (NULL drops)."""
    return set(pc.filter(meta.column("part_id"), mask).to_pylist())


def _check_int64(values) -> None:
    """Reject int bounds/values no int64 stat can hold, by name (a Spark
    literal of one fails deep inside the JVM)."""
    for v in values:
        if isinstance(v, int) and not -(2**63) <= v < 2**63:
            raise ValueError(
                f"int pred_col bound {v} is outside the int64 range"
            )


def _range_keep(
    kind: str | None, meta: pa.Table, pred_col: str, lo, hi
) -> tuple:
    """(overlap mask, row-predicate tuples — a union, see _pred_keep —,
    containment mask) over the ``meta`` rows for a range predicate — the
    kind dispatch shared by the pruned decodes, the metadata count and
    the tokens zone-map prune (engine.decode_blocks_files_pruned), so the
    bound normalization (numpy scalars, ±0 widening, NaN bounds, truncated
    string semantics) lives in exactly one place.
    Containment = every present value provably in [lo, hi] (an unbounded
    truncated string upper never claims it)."""
    col_rows = pc.equal(meta.column("column"), pred_col)
    if kind == "str":
        if not (isinstance(lo, str) and isinstance(hi, str)):
            raise ValueError("str pred_col needs str bounds")
        smin = meta.column("stat_min_str")
        smax = meta.column("stat_max_str")
        overlap = _all(
            col_rows,
            pc.or_kleene(pc.is_null(smax), pc.greater_equal(smax, lo)),
            pc.less_equal(smin, hi),
        )
        # stat_min_str is a PREFIX of the min (>= lo proves min >= lo);
        # every value sorts <= stat_max_str (truncated successor)
        contained = _all(
            col_rows,
            pc.is_valid(smin), pc.greater_equal(smin, lo),
            pc.is_valid(smax), pc.less_equal(smax, hi),
        )
        return overlap, [(pred_col, lo, hi)], contained
    if kind in ("float64", "float32", "int", "int96_ts"):
        lo, hi = _plain_number(lo), _plain_number(hi)
        if any(
            isinstance(b, bool) or not isinstance(b, (int, float))
            for b in (lo, hi)
        ):
            # a str bound would compare as NULL against the int64 stats
            # and silently prune EVERYTHING — loud-fail instead
            family = "float" if kind.startswith("float") else "int"
            raise ValueError(f"{family} pred_col needs numeric bounds")
    else:
        # stats exist only for int/float/str kinds; a NULL-stat comparison
        # would prune EVERYTHING — a silent wrong answer, so reject loudly
        raise ValueError(
            f"pred_col {pred_col!r} has kind {kind!r}; "
            "min/max pruning needs an int, int96_ts, float or str column"
        )
    if kind.startswith("float"):
        # same monotone bits transform as encode: compare in int64 space.
        # The transform distinguishes -0.0 (< +0.0) while IEEE/Spark
        # comparison does not, so widen zero bounds to the ±0 pair's outer
        # edge — otherwise a chunk whose max is -0.0 would be pruned for
        # lo=0.0 even though -0.0 >= 0.0 is true row-side (the widening is
        # equally sound for containment: IEEE equates the pair).  A NaN
        # bound spans every image above +inf's: the canonical NaN's and
        # any positive NaN of blocks written before NaN was canonicalized.
        # Their sign-bit NaNs image below -inf's, so with hi NaN a second
        # range keeps every chunk whose minimum lies there.
        ranges = [(
            _float_ordered_scalar(np.inf) + 1 if math.isnan(lo)
            else _float_ordered_scalar(-0.0 if lo == 0 else lo),
            2**63 - 1 if math.isnan(hi)
            else _float_ordered_scalar(+0.0 if hi == 0 else hi),
        )]
        if math.isnan(hi):
            ranges.append((-(2**63), _float_ordered_scalar(-np.inf) - 1))
    else:
        _check_int64((lo, hi))
        # Spark compares an int column with a float bound in double, where
        # NaN is above every value: v <= NaN always holds, v >= NaN never
        ranges = [(lo, math.inf if isinstance(hi, float) and math.isnan(hi) else hi)]
    smin, smax = meta.column("stat_min"), meta.column("stat_max")
    overlap = _all(col_rows, functools.reduce(pc.or_kleene, [
        _all(pc.greater_equal(smax, a), pc.less_equal(smin, b)) for a, b in ranges
    ]))
    a, b = ranges[0]
    contained = _all(
        col_rows, pc.greater_equal(smin, a), pc.less_equal(smax, b)
    )
    return overlap, [(pred_col, a, b) for a, b in ranges], contained


def _bloom_probes(spark, col_kinds: dict[str, str], preds: list[tuple]) -> dict:
    """{(col, v, v): int64 Bloom probe} for every eq/IN value — the
    row-predicate tuple of the value (_pred_keep), tested against each
    chunk's ``bloom`` cell before its part's payloads are read
    (_decode_parts).  Validates kinds and values before any
    read (SQL `IN (..., NULL)` is a common source of a bad value).  An
    int value probes as itself; a str value as the JVM's xxhash64 of it,
    the hash the encode built the filter over, from one VALUES query the
    optimizer evaluates on the driver: no Spark job."""
    probes, strs = {}, []
    for p in preds:
        if p[0] not in ("eq", "in"):
            continue
        pred_col = p[1]
        values = [p[2]] if p[0] == "eq" else p[2]
        if not values:
            continue  # x IN () decodes nothing (_pred_keep)
        kind = col_kinds.get(pred_col)
        if kind == "str":
            if not all(isinstance(v, str) for v in values):
                raise ValueError("str pred_col needs a str value")
            strs += [(pred_col, v) for v in values]
        elif kind in ("int", "int96_ts"):
            if not all(
                isinstance(v, int) and not isinstance(v, bool) for v in values
            ):
                raise ValueError("int pred_col needs int values")
            _check_int64(values)
            probes.update(((pred_col, v, v), v) for v in values)
        else:
            raise ValueError(
                f"pred_col {pred_col!r} has kind {kind!r}; "
                "bloom pruning needs an int, int96_ts or str column"
            )
    if strs:
        args = {f"v{i}": v for i, (_, v) in enumerate(strs)}
        row = spark.sql(
            f"SELECT {', '.join(f'xxhash64(:{a})' for a in args)} "
            "FROM VALUES (0)",
            args=args,
        ).first()
        probes.update(((c, v, v), h) for (c, v), h in zip(strs, row))
    return probes


def _bloom_rules_out(prune: list, probes: dict, blooms: dict) -> bool:
    """True when one part's Bloom cells (``blooms``: column -> bitset or
    None) rule out every row ``prune`` admits (the _decode_fn prune: AND
    across entries, OR inside a union group): some entry whose every
    member is an eq/IN value tuple (col, v, v) the column's filter
    excludes.  A chunk without a filter admits."""

    def out(t):
        h, bloom = probes.get(t), blooms.get(t[0])
        return (
            h is not None and bool(bloom)
            and not bloom_might_contain(bytes(bloom), h)
        )

    return any(
        all(map(out, e)) if isinstance(e, list) else out(e) for e in prune
    )


def _pred_keeps(
    blocks: DataFrame, col_kinds: dict[str, str], preds: list[tuple]
) -> tuple[dict, list[tuple]]:
    """(the proven block files — see _chunk_meta; per predicate, its keep
    part_id set and row-predicate tuples), planned on the driver from the
    block index."""
    files, meta = _chunk_meta(blocks, col_kinds, [p[1] for p in preds])
    return files, [_pred_keep(col_kinds, meta, p) for p in preds]


def _pred_keep(col_kinds: dict[str, str], meta: pa.Table, pred: tuple) -> tuple:
    """(keep part_id set, row-predicate tuples) for one predicate.

    The row-predicate tuples are a list of (col, lo, hi) whose UNION is
    exactly the rows the predicate matches (range -> one tuple, eq/in ->
    one [v, v] per value, [] for the vacuous empty IN); a null predicate
    is the sentinel (col, None, want_null).  _decode_fn tests them row by
    row (_row_mask).  An eq/in keep set is the parts the chunk
    statistics admit; the Bloom filters prune in the read task
    (_decode_parts)."""
    op, pred_col = pred[0], pred[1]
    kind = col_kinds.get(pred_col)
    col_rows = pc.equal(meta.column("column"), pred_col)
    if op == "range":
        overlap, row_preds, _ = _range_keep(kind, meta, pred_col, *pred[2:4])
        return _parts(meta, overlap), row_preds
    if op in ("eq", "in"):
        # eq is the single-value IN: both keep a partition when ANY
        # probe value may be present (stats OR'd per value), and match
        # rows through the UNION of each value's degenerate range [v, v]
        values = [pred[2]] if op == "eq" else pred[2]
        if not values:
            return set(), []  # x IN () is vacuously false: decode nothing
        if kind == "str":
            smin = meta.column("stat_min_str")
            smax = meta.column("stat_max_str")
            per_val = [
                _all(
                    pc.is_valid(smin),
                    pc.less_equal(smin, v),
                    pc.or_kleene(pc.is_null(smax), pc.greater_equal(smax, v)),
                )
                for v in values
            ]
        else:
            smin, smax = meta.column("stat_min"), meta.column("stat_max")
            # a NULL stat keeps the row (legacy chunks encoded without
            # stats), EXCEPT when the chunk is all-null: NULL never equals
            # a probe value, so those chunks can never match (ADVICE r5)
            present = pc.less(meta.column("n_nulls"), meta.column("n_rows"))
            per_val = [
                _all(
                    pc.or_kleene(
                        pc.is_null(smin),
                        _all(pc.less_equal(smin, v), pc.greater_equal(smax, v)),
                    ),
                    present,
                )
                for v in values
            ]
        stats = functools.reduce(pc.or_kleene, per_val)
        return _parts(meta, _all(col_rows, stats)), [(pred_col, v, v) for v in values]
    if op in ("isnull", "notnull"):
        if kind is None or kind in _LIST_KINDS:
            # list columns reject nulls at encode, so a null predicate
            # on one is a caller bug — fail loudly
            raise ValueError(
                f"pred_col {pred_col!r} has kind {kind!r}; "
                "null-count pruning needs a scalar column"
            )
        n_nulls = meta.column("n_nulls")
        has = (
            pc.greater(n_nulls, 0)
            if op == "isnull"
            else pc.less(n_nulls, meta.column("n_rows"))
        )
        return _parts(meta, _all(col_rows, has)), [(pred_col, None, op == "isnull")]
    raise ValueError(f"unknown predicate op {op!r}")


def decode_df_pruned_multi(
    blocks: DataFrame,
    key_col: str,
    col_kinds: dict[str, str],
    out_schema: T.StructType,
    preds: list[tuple],
    combine: str = "and",
) -> DataFrame:
    """Multi-predicate pruning.  ``combine="and"``: a partition decodes
    only when EVERY predicate admits it, and surviving chunks keep only
    the rows EVERY predicate matches (the row masks AND) — selectivities
    multiply, which is exactly what makes pruning pay at 100x scale.
    ``combine="or"``: a partition decodes when ANY predicate admits it,
    and surviving chunks keep the rows ANY predicate matches (one union
    group, the masks OR).  Together: arbitrary AND-of-atoms and
    OR-of-atoms prunes (compose row-side for deeper nesting).

    ``preds`` entries: ``("range", col, lo, hi)``, ``("eq", col, value)``,
    ``("in", col, [v1, ...])``, ``("isnull", col)``, ``("notnull", col)``.
    Chunk level: the chunk statistics (_chunk_meta: the block index of
    the block files; any other blocks DataFrame raises ValueError) give
    each predicate's keep set on the driver; the sets combine there and
    only the kept parts decode (_decode_parts).  Each eq/in value's Bloom
    probe is tested against the chunk's filter as the first read of the
    decode task, before its part's payloads are read.
    Row level: the same atoms are evaluated row by row on their decoded
    columns (late materialization, see _decode_fn) — equality as the
    degenerate range [v, v], an IN-list as the UNION of its values'
    ranges — so the output is exactly the matching rows, for every
    column kind; no caller filters it again.

    A small lookup is answered in the driver process (_decode_parts):
    its rows decode when this function is CALLED, and the result is a
    local relation of them.  Any other lookup returns the lazy plan of
    one exchange-free Spark job, which decodes when it is collected."""
    if combine not in ("and", "or"):
        raise ValueError(f"combine must be 'and' or 'or', got {combine!r}")
    preds = _normalize_preds(preds)
    probes = _bloom_probes(blocks.sparkSession, col_kinds, preds)
    files, planned = _pred_keeps(blocks, col_kinds, preds)
    if combine == "and":
        keep = set.intersection(*(k for k, _ in planned))
        row_prunes = [
            row_preds[0] if len(row_preds) == 1 else row_preds
            for _, row_preds in planned if row_preds
        ]
    else:
        keep = set().union(*(k for k, _ in planned))
        union_tuples = [t for _, row_preds in planned for t in row_preds]
        row_prunes = [union_tuples] if union_tuples else []
    out = _decode_parts(
        blocks, files, keep, col_kinds, out_schema, row_prunes or None,
        probes=probes,
    )
    if isinstance(out, DataFrame):
        return out
    return blocks.sparkSession.createDataFrame(out, out_schema)


def decode_df_pruned_eq(
    blocks: DataFrame,
    key_col: str,
    col_kinds: dict[str, str],
    out_schema: T.StructType,
    pred_col: str,
    value: int | str,
) -> DataFrame:
    """Equality-predicate block skipping via the per-chunk Bloom filters:
    decode only partitions whose filter says ``value`` MAY be present
    (zone maps only help range predicates; a point lookup on a
    non-clustered column prunes nothing through min/max).

    Scale shape: the Bloom membership test runs where the bitsets are,
    before a part's payloads are read — as the decode's first read, of
    the ``bloom`` cells alone, in the driver process or in the job's
    task (_decode_parts).  Bitsets never travel between processes, and
    no separate Python stage runs for them.
    Bloom filters admit false positives, never false negatives; the
    decode tests the value row by row and returns exactly the matching
    rows.  A lookup answered on the driver (few kept rows, few
    matches — the common case) decodes when this function is called
    and returns a local relation; otherwise the rows decode in one
    Spark job when the result is collected.

    ``pred_col`` may be int/int96_ts (bloom over the values) or str
    (bloom over JVM-side xxhash64 of the values — the query literal is
    hashed on the driver through the same Spark function, in a VALUES
    query that runs no job, so encode and probe agree bit-for-bit; the
    truncated string zone maps additionally pre-filter)."""
    return decode_df_pruned_multi(
        blocks, key_col, col_kinds, out_schema, [("eq", pred_col, value)]
    )


def _normalize_preds(preds: list[tuple]) -> list[tuple]:
    """Materialize IN-list values (a one-shot iterable read twice — once
    for the Bloom probes, once for the prune — would silently yield an
    empty second read), turn numpy scalar bounds and values into
    Python numbers (_plain_number) and reject an empty conjunction."""
    if not preds:
        raise ValueError("preds must be non-empty")
    return [
        (p[0], p[1], [_plain_number(v) for v in p[2]]) if p[0] == "in"
        else (*p[:2], *map(_plain_number, p[2:]))
        for p in preds
    ]


def _plain_number(v):
    """``v`` as a Python int or float when it is a numbers.Integral or
    numbers.Real (numpy scalars included), so it checks and compares like
    a Python bound; bool and numpy.bool_ stay, for the kind checks to
    reject."""
    if isinstance(v, (bool, np.bool_)) or not isinstance(v, numbers.Real):
        return v
    return int(v) if isinstance(v, numbers.Integral) else float(v)


def roundtrip_filtered(
    df: DataFrame,
    key_col: str,
    col_kinds: dict[str, str],
    preds: list[tuple],
    combine: str = "and",
) -> DataFrame:
    """encode -> block files -> pruned decode: exactly the matching rows.

    ``preds`` and ``combine`` follow decode_df_pruned_multi (AND or OR of
    range / eq / in / isnull / notnull atoms), whose decode tasks return
    only the rows a Spark filter of the predicate keeps; no filter runs
    after them.  The input is range-partitioned on ``key_col`` so the
    block stats are selective.

    The blocks are written once, when this is called, as parquet files in
    a fresh session.session_tmpdir.  Every part lies in one file, so the
    pruned decode plans on the files' cached block index and reads only
    the kept parts, file-direct (engine._block_files), as it would over a
    persistent blocks table.  A small lookup decodes on the driver when
    this is called (decode_df_pruned_multi): the result is a local
    relation that reads no file, and the directory is removed before
    this returns.  Any other result is a job plan that reads the blocks
    whenever it is collected, however many calls came after it, so its
    directory stays on the driver's local disk until the driver process
    exits."""
    preds = _normalize_preds(preds)
    in_schema = df.select(*list(col_kinds)).schema
    tmp = session_tmpdir("pps_rtf_")
    path = os.path.join(tmp, "blocks")
    encode_df(df, key_col, col_kinds).write.parquet(path)
    decoded = decode_df_pruned_multi(
        df.sparkSession.read.parquet(path), key_col, col_kinds,
        _arrow_safe_schema(in_schema, col_kinds), preds, combine,
    )
    if decoded.isLocal():
        shutil.rmtree(tmp)
    return decoded.select(
        *[
            F.col(f.name).cast(_cast_target(f.dataType)).alias(f.name)
            for f in in_schema.fields
        ]
    )


def count_filtered_meta(
    blocks: DataFrame,
    col_kinds: dict[str, str],
    pred_col: str,
    lo,
    hi,
) -> DataFrame:
    """COUNT(*) WHERE pred_col BETWEEN lo AND hi, evaluated METADATA-FIRST
    (the statistics-only query evaluation Parquet/Iceberg readers do; the
    reference parses Statistics and never consults them).  Chunks whose
    [stat_min, stat_max] lie fully inside [lo, hi] — and hold no nulls —
    contribute n_rows straight from the metadata: their payloads are
    never read.  Only BOUNDARY chunks (overlapping but not contained)
    decode, and their decode tasks return exactly the matching rows (the
    row-predicate tuples of _range_keep).  At scale the contained set
    dominates for range predicates on clustered columns, so the count
    degenerates to a metadata aggregation.

    Soundness of containment per kind: int — exact bounds; float — the
    order-preserving bits transform is monotone and the ±0 outer widening
    matches IEEE/Spark equality of -0.0 and +0.0 (NaN sorts greatest,
    exactly Spark's comparison semantics); str — stat_min_str is a prefix
    of the min (stat_min_str >= lo proves min >= lo) and every value
    sorts <= stat_max_str (truncated-successor), so stat_max_str <= hi
    proves containment; a NULL (unbounded) truncated upper bound never
    claims containment.  Returns a 1-row DataFrame (``cnt`` long) holding
    the answer as a literal row (_literal_row): the driver sums the
    contained chunks and adds the boundary decode's row count.  That
    decode runs when this function is CALLED, not when the result is
    collected: in the driver process when it is small (_decode_parts),
    else in one exchange-free Spark job (_aggregate)."""
    kind = col_kinds.get(pred_col)
    files, meta = _chunk_meta(blocks, col_kinds, [pred_col])
    # ONE source of truth for the bound normalization (±0 widening,
    # truncated string semantics, bound validation): the same dispatch
    # every pruned decode uses
    overlap, row_preds, contained = _range_keep(kind, meta, pred_col, lo, hi)
    contained = pc.and_kleene(contained, pc.equal(meta.column("n_nulls"), 0))
    cnt = pc.sum(pc.filter(meta.column("n_rows"), contained)).as_py() or 0
    boundary = _parts(meta, pc.and_kleene(overlap, pc.invert(contained)))
    if boundary:
        got = _decode_col(blocks, files, pred_col, kind, boundary, [row_preds])
        cnt += (
            _aggregate(got, F.count(F.lit(1)).alias("n"))["n"]
            if isinstance(got, DataFrame) else got.num_rows
        )
    return _literal_row(blocks, cnt=cnt)


def _literal_row(blocks: DataFrame, **values: int | None) -> DataFrame:
    """A one-row DataFrame of long columns holding an answer the driver
    already has, from the metadata and from a boundary decode run at
    call time (count_filtered_meta): an inline VALUES table is a local
    relation, so collecting it runs no Spark job."""
    cells = ", ".join(f"CAST(:{c} AS BIGINT)" for c in values)
    return blocks.sparkSession.sql(
        f"SELECT * FROM VALUES ({cells}) AS t({', '.join(values)})",
        args=values,
    )


_SCALAR_TYPES = {
    "int": T.LongType(),
    "int96_ts": T.LongType(),
    "float64": T.DoubleType(),
    "float32": T.FloatType(),
    "str": T.StringType(),
}


def _col_schema(col: str, kind: str) -> T.StructType:
    """The one-column output schema of a metadata aggregate's decode."""
    return T.StructType([T.StructField(col, _SCALAR_TYPES[kind], True)])


def _decode_col(
    blocks: DataFrame, files: dict, col: str, kind: str, parts: set[int],
    prune,
) -> pa.Table | DataFrame:
    """Decode only ``col``'s chunk rows of ``parts`` to the rows ``prune``
    matches (``files`` as _chunk_meta proved them): the metadata
    aggregates need nothing else, and the other columns' payloads would
    only be read to be dropped.  An Arrow table when decoded on the
    driver, else the job's DataFrame (_decode_parts)."""
    return _decode_parts(
        blocks, files, parts, {col: kind}, _col_schema(col, kind), prune,
        column=col,
    )


def _aggregate(decoded: DataFrame, *aggs) -> dict:
    """Driver-side values of the aggregate columns ``aggs`` over
    ``decoded``, in one Spark job with no exchange: the per-task partial
    aggregates merge through an Observation's accumulators, where a
    DataFrame ``agg`` would shuffle them to one partition (one more job
    under adaptive execution).  count_filtered_meta takes this job for a
    boundary decode too large for the driver (_decode_parts)."""
    from pyspark.sql import Observation

    obs = Observation()
    decoded.observe(obs, *aggs).write.format("noop").mode("overwrite").save()
    return obs.get


# the blocks columns _decode_fn reads (engine._DECODE_COLS), the same in
# both block schemas: a decode task reads no other (and the ``bloom`` cells
# first when the call has eq/IN probes)
_DECODE_SCHEMA = pa.schema([f for f in _BLOCKS_ARROW if f.name in _DECODE_COLS])
# the columns a pruned call plans on or reads: its layout proof
# (_chunk_meta) requires every one of them with its type
_PLAN_SCHEMA = pa.schema([
    f for f in _BLOCKS_ARROW if f.name in (*_DECODE_COLS, *_META_COLS, "bloom")
])


def _file_plan(files: dict, parts: set[int], column: str | None) -> list[tuple]:
    """The (path, filters) entries of a file-direct read of ``parts`` (only
    ``column``'s chunk rows when given) from the layout ``files``
    (_chunk_meta): one per file holding a kept part, whose pyarrow filters
    read only those parts' rows."""
    only_col = [] if column is None else [("column", "=", column)]
    return [
        (path, [("part_id", "in", kept)] + only_col)
        for path, (pids, _) in files.items()
        if (kept := sorted(parts.intersection(pids)))
    ]


# The driver-or-job rule of every pruned read (_decode_parts).  A read
# decodes in the driver process when the columns it decodes whole (the
# predicate columns; every output column without a predicate) hold at
# most _DRIVER_DECODE_BUDGET kept rows, each weighted by its kind's decode
# cost against an int row (_ROW_WEIGHT; one core decodes bitpacked or
# float ints at 5-20 ns a row, dictionary strings at ~9 and fsst or plain
# strings at 0.2-0.7 us), and when the rows it keeps times the columns it
# gathers at them is at most _DRIVER_GATHER_MAX_CELLS: first as the int
# chunk statistics predict those rows (_kept_guess: a 1% key range
# predicts its ~6k rows and takes the job without a driver decode), then
# as decoded.  A local relation's cost grows with its cells: 6k rows x 10
# columns cost as much as the one-task job (0.06-0.08 CPU-s, 4 vCPUs), a
# few dozen rows about 0.015.  The budget holds 2^20 int rows, about
# 5-20 ms of one core, where the job's fixed cost is ~0.1 s of wall time.
_DRIVER_DECODE_BUDGET = 1 << 20
_ROW_WEIGHT = {"str": 32}
_DRIVER_GATHER_MAX_CELLS = 1 << 14


def _decode_parts(
    blocks: DataFrame,
    files: dict,
    parts: set[int],
    col_kinds: dict[str, str],
    out_schema: T.StructType,
    prune,
    column: str | None = None,
    probes: dict | None = None,
) -> pa.Table | DataFrame:
    """Decode the chunk rows of ``parts`` (only ``column``'s when given)
    to exactly the rows ``prune`` matches (see _decode_fn), file-direct
    over the layout _chunk_meta proved (``files``): each file holding a
    kept part reads only those parts' rows and the columns _decode_fn
    reads (engine.read_block_file), with no Spark scan or exchange.
    With Bloom ``probes`` (_bloom_probes) the read first reads only the
    parts' ``bloom`` cells of the probed columns and drops each part they
    rule out (_bloom_rules_out), so a file whose every part is ruled out
    reads no payload.

    The one chooser between the driver process and a Spark job, for the
    row lookups and the metadata aggregates alike (rule above
    _DRIVER_DECODE_BUDGET).  On the driver the same plan (_file_plan),
    read loop and decode function as the job's tasks run when this is
    CALLED: every kept part's predicate columns decode first, and only
    when their kept rows are few do the other columns decode, at those
    rows; the result is an Arrow table.  A read whose chunk statistics
    already predict too many kept rows skips the driver decode.
    Otherwise the result is the lazy plan of one map_tasks job
    (engine._decode_block_files), which decodes when it is collected."""
    dec = _decode_fn(col_kinds, out_schema, prune)
    narrow = None
    if probes:
        probed = sorted({c for c, _, _ in probes})

        def narrow(path, where):
            import pyarrow.parquet as pq

            cells = pq.read_table(
                path, columns=["part_id", "column", "bloom"],
                filters=[*where, ("column", "in", probed)], use_threads=False,
            )
            out = {
                pid for pid, rows in part_runs(cells)
                if _bloom_rules_out(prune, probes, dict(zip(
                    rows.column("column").to_pylist(),
                    rows.column("bloom").to_pylist(),
                )))
            }
            kept = [p for p in where[0][2] if p not in out]
            return [("part_id", "in", kept), *where[1:]] if kept else None

    plan = _file_plan(files, parts, column)
    # the columns decoded whole (the predicate columns, else every one):
    # their kept chunks' block index rows
    groups = _prune_groups(prune)
    whole = {t[0] for group in groups for t in group} or set(col_kinds)
    chunks = {
        (r["part_id"], r["column"]): r
        for path, _ in plan for r in files[path][1].to_pylist()
        if r["column"] in whole and r["part_id"] in parts
    }
    weighted = sum(
        r["n_rows"] * _ROW_WEIGHT.get(col_kinds[c], 1) for (_, c), r in chunks.items()
    )
    gathered = len(col_kinds) - len(whole)
    if weighted <= _DRIVER_DECODE_BUDGET and (
        gathered * _kept_guess(chunks, groups, col_kinds) <= _DRIVER_GATHER_MAX_CELLS
    ):
        selected = [
            sel for task in plan
            for sel in read_block_file(task, _DECODE_SCHEMA, dec.select, narrow)
        ]
        kept = sum(n if r is None else len(r) for _, n, _, r in selected)
        if kept * gathered <= _DRIVER_GATHER_MAX_CELLS:
            return pa.concat_tables(
                [dec.gather(sel) for sel in selected]
                + [to_arrow_schema(out_schema).empty_table()]
            )
    return _decode_block_files(
        blocks.sparkSession, plan, _DECODE_SCHEMA, dec, out_schema, narrow
    )


def _kept_guess(chunks: dict, groups: list, col_kinds: dict[str, str]) -> float:
    """The rows the prune ``groups`` (_prune_groups) keep in ``chunks``
    ({(part_id, column): block index row}) as the int chunk statistics
    predict them, each chunk's present values spread evenly over
    [stat_min, stat_max]; any other prune tuple predicts none.  It spares
    the driver a decode whose kept rows would pass the gather cap."""

    def guess(r, col, lo, hi) -> float:
        if r is None or lo is None or r["stat_min"] is None:
            return 0.0
        if col_kinds[col] not in ("int", "int96_ts"):
            return 0.0
        span = r["stat_max"] - r["stat_min"] + 1
        overlap = min(hi, r["stat_max"]) - max(lo, r["stat_min"]) + 1
        return (r["n_rows"] - r["n_nulls"]) * max(0, overlap) / span

    return sum(
        min((
            sum(guess(chunks.get((pid, c)), c, lo, hi) for c, lo, hi in g)
            for g in groups
        ), default=0.0)
        for pid in {pid for pid, _ in chunks}
    )


def topk_filtered_meta(
    blocks: DataFrame,
    col_kinds: dict[str, str],
    col: str,
    k: int,
    ascending: bool = True,
) -> DataFrame:
    """ORDER BY ``col`` LIMIT ``k`` (over NON-NULL values) decoding only
    the chunks that can hold one of the k extreme values — the zone-map
    top-k pushdown.

    Bound derivation (ascending): walk chunks in stat_max order,
    accumulating present-value counts; the first prefix holding >= k
    values proves the k smallest values are all <= B = that prefix's
    largest stat_max (the prefix alone contains >= k values <= B).  Only
    chunks with stat_min <= B can contribute, so the rest never decode.
    Descending mirrors with stat_min / >=.  The walk is a cumulative sum
    over the metadata rows on the driver (one row per chunk); B reaches
    the decode tasks as a row predicate, so BOUNDARY chunks return only
    their values not beyond it.  If the table holds fewer than k present
    values there is no B and every chunk decodes (the correct degenerate).  Int
    kinds only (float stats live in ordered-bits space; string bounds
    are truncated, not attainable).  Ties at the k-th value are broken
    arbitrarily, exactly like Spark's own orderBy().limit().

    When the kept chunks are small (_decode_parts) they decode when
    this function is CALLED: the driver drops nulls, sorts and keeps k
    values, returned as a local relation that collects with no Spark
    job.  Otherwise the result is a lazy plan over
    _decode_col's job, run when it is collected."""
    kind = col_kinds.get(col)
    if kind not in ("int", "int96_ts"):
        raise ValueError(
            f"col {col!r} has kind {kind!r}; "
            "metadata top-k needs an int or int96_ts column"
        )
    if k <= 0:
        raise ValueError("k must be positive")
    files, meta = _chunk_meta(blocks, col_kinds, [col])
    # all-null chunks (NULL stats) hold no present values: not candidates
    meta = meta.filter(pc.is_valid(meta.column("stat_min")))
    edge, cmp_col = (
        ("stat_max", "stat_min") if ascending else ("stat_min", "stat_max")
    )
    walk = meta.sort_by([(edge, "ascending" if ascending else "descending")])
    present = pc.subtract(walk.column("n_rows"), walk.column("n_nulls"))
    reach = np.flatnonzero(np.cumsum(present.to_numpy()) >= k)
    if reach.size == 0:
        keep, prune = set(meta.column("part_id").to_pylist()), None
    else:
        b = walk.column(edge)[int(reach[0])].as_py()
        cmp = pc.less_equal if ascending else pc.greater_equal
        keep = _parts(meta, cmp(meta.column(cmp_col), b))
        # boundary chunks return only their values not beyond B
        prune = (col, -(2**63), b) if ascending else (col, b, 2**63 - 1)
    dec = _decode_col(blocks, files, col, kind, keep, prune)
    if isinstance(dec, DataFrame):
        return (
            dec.filter(F.col(col).isNotNull())
            .orderBy(F.col(col).asc() if ascending else F.col(col).desc())
            .limit(k)
        )
    top = dec.filter(pc.is_valid(dec.column(col))).sort_by(
        [(col, "ascending" if ascending else "descending")]
    )
    # createDataFrame of an Arrow table is a local relation
    return blocks.sparkSession.createDataFrame(top.slice(0, k), _col_schema(col, kind))


# file-direct fast-path bounds: footers are read on the driver (one open per
# file), so cap the file count at a size where that stays metadata-cheap;
# row groups are only ever split into TARGET-sized pieces (each piece
# re-reads its row group — parquet has no sub-row-group random access) in
# the few-row-group regime, and never for row groups whose compressed size
# makes the re-read material.
_FAST_SCAN_MAX_FILES = 4096
_FAST_SCAN_SPLIT_BYTES_CAP = 512 << 20


def _fast_scan_type_ok(t: pa.DataType) -> bool:
    """Arrow types whose values are identical whether they arrive through
    Spark's scan->Arrow conversion or a direct pyarrow.parquet read.
    Timestamps are excluded (Spark applies session-timezone semantics in
    its Arrow conversion), and so are dates (Spark rebases legacy-calendar
    files julian->proleptic on read: 1500-01-01 written in LEGACY mode
    reads as 1500-01-10 through pyarrow); decimals, halffloat, uint64 and
    nested struct/map types are excluded conservatively."""

    def scalar_ok(s: pa.DataType) -> bool:
        return (
            (pa.types.is_integer(s) and not pa.types.is_uint64(s))
            or (pa.types.is_floating(s) and not pa.types.is_float16(s))
            or pa.types.is_boolean(s)
            or pa.types.is_string(s)
            or pa.types.is_large_string(s)
            or pa.types.is_binary(s)
            or pa.types.is_large_binary(s)
            or pa.types.is_fixed_size_binary(s)
        )

    if scalar_ok(t):
        return True
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return scalar_ok(t.value_type)
    return False


def _bare_local_parquet_units(df: DataFrame, needed: list[str]):
    """(paths, units) when ``df`` is a bare, unfiltered scan of local
    parquet files whose ``needed`` columns all exist in every file with
    value-stable Arrow types (_fast_scan_type_ok) — else None.

    The scan gate is engine.local_parquet_scan_files (shared with the
    engine's decode fast path); the footers are then validated on the
    driver.  units are (file_idx, row_group_idx, n_rows, n_bytes) for
    every non-empty row group."""
    import pyarrow.parquet as pq

    paths = local_parquet_scan_files(df)
    if paths is None or len(paths) > _FAST_SCAN_MAX_FILES:
        return None
    units: list[tuple[int, int, int, int]] = []
    first_types: dict[str, pa.DataType] = {}
    try:
        for fi, p in enumerate(paths):
            pf = pq.ParquetFile(p)
            sch = pf.schema_arrow
            for c in needed:
                idx = sch.get_field_index(c)
                if idx < 0 or not _fast_scan_type_ok(sch.field(idx).type):
                    return None
                # merge-schema datasets may mix physical types per file
                # (int32 in one, int64 in another); Spark's scan coerces
                # to the relation schema, a per-file read would not —
                # require uniform types across files
                if first_types.setdefault(c, sch.field(idx).type) != sch.field(
                    idx
                ).type:
                    return None
            meta = pf.metadata
            for rg in range(meta.num_row_groups):
                rgm = meta.row_group(rg)
                if rgm.num_rows > 0:
                    units.append((fi, rg, rgm.num_rows, rgm.total_byte_size))
    except Exception:  # noqa: BLE001 - unreadable/non-parquet file: fall back
        return None
    if not units:
        return None  # empty table: the generic path produces the empty frame
    return paths, units


def _file_direct_tasks(
    units: list[tuple[int, int, int, int]], parallelism: int
) -> list[tuple[int, int, int, int]]:
    """(file_idx, rg_idx, slice_start, slice_len) task list for file-direct
    readers: one task per row group, split into ~TARGET_ROWS_PER_PART
    pieces only in the few-row-group regime (each piece re-reads its row
    group — parquet has no sub-row-group random access — so splitting is
    gated on row groups < cores and a per-group compressed-byte cap)."""
    tasks: list[tuple[int, int, int, int]] = []
    for fi, rg, rows, nbytes in units:
        if (
            len(units) < parallelism
            and rows > TARGET_ROWS_PER_PART
            and nbytes <= _FAST_SCAN_SPLIT_BYTES_CAP
        ):
            # piece size: >= the codec chunk unit, and no more pieces per
            # row group than its share of the core budget — each piece
            # re-reads its row group's (column-pruned) chunks, so bounding
            # pieces bounds the read amplification at larger scale factors
            # without costing parallelism
            budget = max(1, parallelism // len(units))
            piece = max(TARGET_ROWS_PER_PART, -(-rows // budget))
            for s in range(0, rows, piece):
                tasks.append((fi, rg, s, min(piece, rows - s)))
        else:
            tasks.append((fi, rg, 0, rows))
    return tasks


def roundtrip(
    df: DataFrame,
    key_col: str,
    col_kinds: dict[str, str],
    forced_codecs: dict[str, str] | None = None,
    outer: str | None = None,
) -> DataFrame:
    """encode -> blocks -> decode; output schema mirrors the selected input
    columns (Spark types preserved via cast at the end).  ``forced_codecs``
    pins a column's codec; ``outer`` compresses each page's data section
    with a Parquet page codec (gzip/snappy/zstd/lz4_raw/brotli) and so
    selects the DATA_PAGE_V2 framing, levels uncompressed ahead of the
    data with num_rows/num_nulls in the header; without it pages keep the
    reference's V1 shape (see _encode_values).

    FUSED execution (round 6): encode and decode of one chunk run in a
    single python call, so the blocks table never exists outside the
    python worker — the encoded payloads are not serialized to the JVM,
    not shuffled, and not deserialized back.  The kernels are the chunk
    encoder of encode_df and the decode body of the pruned decodes
    (_decode_fn), so output rows equal the rows a full decode of written
    encode_df blocks returns; pruning artifacts (stats/blooms) are
    skipped because the in-worker blocks are discarded immediately —
    nothing could ever read them (encode_df proper, and so
    roundtrip_filtered, still builds them all).

    ZERO-shuffle execution (round 6): chunk assignment is unobservable in
    a round-trip's output, so co-locating rows by content hash (a full
    shuffle of the input) buys nothing — the same argument as the
    engine's files mode.  mapInArrow over the scan encodes+decodes one
    ~TARGET_ROWS_PER_PART chunk at a time per split; a caller that wants
    a given chunk layout encodes with encode_df(n_parts=...) instead.

    FILE-DIRECT execution (round 6, on top of the fused path): when the
    input is a bare, unfiltered scan of local parquet files
    (_bare_local_parquet_units), the workers read the files directly with
    pyarrow instead of receiving rows through Spark's scan -> Arrow IPC
    conversion — measured, that conversion (an identity mapInArrow over
    the 10x lineitem scan) costs ~12x the scan itself and dominated the
    fused round-trip.  Task dispatch is one entry per row group, run in at
    most one Spark task per core (engine.map_tasks, shared by every
    file-direct reader); in the few-row-group regime the groups are split
    into ~TARGET-sized pieces for parallelism (each piece re-reads its row
    group — bounded by _FAST_SCAN_SPLIT_BYTES_CAP, and only when row
    groups < cores, where the re-read is small by construction).  Any
    other input — filtered, derived, cached, non-local, non-parquet, or
    carrying Arrow types whose Spark conversion is not value-identical
    (timestamps, decimals) — keeps the scan-fed fused path unchanged."""
    cols = list(col_kinds)
    in_schema = df.select(*cols).schema
    out_schema = _arrow_safe_schema(in_schema, col_kinds)
    dec = _decode_fn(col_kinds, out_schema)
    enc = _chunk_encoder(key_col, col_kinds, forced_codecs, outer, build_stats=False)
    # enc sorts each chunk by key_col, so the key must ride along even
    # when the caller did not ask for it in the output columns
    sel = ([key_col] if key_col not in col_kinds else []) + cols
    fast = _bare_local_parquet_units(df, sel)
    if fast is not None:
        paths, units = fast
        tasks = _file_direct_tasks(
            units, df.sparkSession.sparkContext.defaultParallelism
        )

        def rt_files(task):
            import pyarrow.parquet as pq

            fi, rg, s, ln = task
            tbl = (
                pq.ParquetFile(paths[fi])
                .read_row_group(rg, columns=sel, use_threads=False)
                .select(sel)
                .slice(s, ln)
            )
            off = 0
            while off < tbl.num_rows:
                chunk = tbl.slice(off, TARGET_ROWS_PER_PART).combine_chunks()
                off += chunk.num_rows
                yield from dec(enc(chunk, part_id=0)).to_batches()

        decoded = map_tasks(df.sparkSession, tasks, rt_files, out_schema)
    else:
        # few-split scans would serialize the whole encode on a handful
        # of tasks; the shared conditional bump (engine) round-robins up
        # to the core count only when the scan supplies under a quarter of
        # it — a no-op at real data sizes
        df = _with_min_parallelism(df)

        def enc_dec_stream(batches):
            buf: list = []
            nbuf = 0

            def flush():
                nonlocal buf, nbuf
                if not buf:
                    return ()
                tbl = pa.Table.from_batches(buf)
                buf, nbuf = [], 0
                # part_id is unobservable here: dec treats each chunk's
                # block rows as one partition and never keys on the id
                out = dec(enc(tbl, part_id=0))
                return out.to_batches()

            for b in batches:
                buf.append(b)
                nbuf += b.num_rows
                if nbuf >= TARGET_ROWS_PER_PART:
                    yield from flush()
            yield from flush()

        decoded = df.select(*sel).mapInArrow(
            enc_dec_stream, schema=out_schema
        )
    # cast back to the exact input Spark types (e.g. int32 vs int64)
    return decoded.select(
        *[
            F.col(f.name).cast(_cast_target(f.dataType)).alias(f.name)
            for f in in_schema.fields
        ]
    )


def _cast_target(dt: T.DataType) -> T.DataType:
    """Cast target for the round-trip's final select: element types are
    restored exactly, but array containsNull stays True (Catalyst refuses
    to cast nullable elements onto a non-null array type)."""
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(dt.elementType, True)
    return dt


def _arrow_safe_schema(
    schema: T.StructType, col_kinds: dict[str, str]
) -> T.StructType:
    """Widen ints to long — including ARRAY ELEMENT types (int_list decode
    produces list<int64>; applyInArrow rejects schema mismatches rather
    than coercing); float32 lists stay float32 — what the Arrow kernels
    naturally produce before the final cast."""
    fields = []
    for f in schema.fields:
        dt = f.dataType
        if isinstance(dt, _INT_TYPES):
            dt = T.LongType()
        elif isinstance(dt, T.ArrayType):
            elem = (
                T.LongType() if isinstance(dt.elementType, _INT_TYPES)
                else dt.elementType
            )
            # decoded Arrow lists carry nullable items; the roundtrip's
            # final cast restores the input's exact containsNull
            dt = T.ArrayType(elem, True)
        fields.append(T.StructField(f.name, dt, True))
    return T.StructType(fields)
