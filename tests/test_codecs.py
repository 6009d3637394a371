"""Codec kernel tests: round-trips via our decoders AND via the vendored
reference-semantics oracle (bit-identity gate, SURVEY.md §5)."""

from io import BytesIO

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import assume, example, given, settings
from hypothesis import strategies as st

from parquet_python_spark import reference_decoder as ref
from parquet_python_spark import tokengen
from parquet_python_spark.codecs import (
    decode_column,
    decode_dict,
    decode_fsst,
    decode_hybrid,
    encode_column,
    encode_dict,
    encode_fsst,
    encode_hybrid,
    chunk_stats,
    pack_bits_lsb,
    select_codec,
    unpack_bits_lsb,
    width_from_max_int,
)
from parquet_python_spark.codecs import fsst as fsst_mod
from parquet_python_spark.codecs.arrow_io import (
    _select_str_codec_arrow,
    decode_str_column,
    encode_str_column,
)
from parquet_python_spark.codecs.bitstream import gather_bits_lsb
from parquet_python_spark.codecs.forpack import (
    decode_bitpack,
    decode_for,
    encode_bitpack,
    encode_for,
)
from parquet_python_spark.codecs.plain import encode_plain_int64
from parquet_python_spark.codecs.registry import _SAMPLE, unwrap_outer, wrap_outer
from parquet_python_spark.codecs.rle import MIN_RLE_RUN

RNG = np.random.default_rng(42)


def _profiles():
    """Token-stream profiles per FIXTURES.md F1."""
    n = 5000
    return {
        # few distinct values spread over the full token range -> dict wins
        "lowcard": RNG.choice(RNG.integers(0, 1 << 17, 64), n),
        "runny": np.repeat(RNG.integers(0, 1000, 200), RNG.integers(16, 64, 200))[:n],
        "narrow": RNG.integers(100000, 100000 + 64, n),
        "random": RNG.integers(0, 1 << 17, n),
        "texty": np.tile(RNG.integers(0, 512, 40), n // 40),
        "tiny": np.array([7]),
        "empty": np.array([], dtype=np.int64),
    }


# ------------------------------------------------------------- RLE hybrid

@pytest.mark.parametrize("name", list(_profiles()))
def test_hybrid_roundtrip_own_decoder(name):
    vals = _profiles()[name].astype(np.int64)
    w = width_from_max_int(int(vals.max(initial=0)))
    blob = encode_hybrid(vals, w)
    got = decode_hybrid(blob, w, len(vals))
    np.testing.assert_array_equal(got, vals)


@pytest.mark.parametrize("name", list(_profiles()))
def test_hybrid_roundtrip_reference_oracle(name):
    """Our hybrid stream must decode bit-identically through the reference
    semantics (encoding.py:216-237 loop)."""
    vals = _profiles()[name].astype(np.int64)
    w = width_from_max_int(int(vals.max(initial=0)))
    blob = encode_hybrid(vals, w)
    got = ref.read_rle_bit_packed_hybrid(BytesIO(blob), w, len(blob)) or []
    assert got[: len(vals)] == list(vals)
    # zero-fill overflow only, never other values (reference __init__.py:366-368)
    assert all(v == 0 for v in got[len(vals):])


@given(
    st.lists(st.integers(min_value=0, max_value=(1 << 17) - 1), max_size=300),
)
@settings(max_examples=100, deadline=None)
def test_hybrid_roundtrip_property(xs):
    vals = np.array(xs, dtype=np.int64)
    w = width_from_max_int(int(vals.max(initial=0)))
    blob = encode_hybrid(vals, w)
    np.testing.assert_array_equal(decode_hybrid(blob, w, len(vals)), vals)
    got = ref.read_rle_bit_packed_hybrid(BytesIO(blob), w, len(blob)) or []
    assert got[: len(vals)] == list(vals)


# ------------------------------------------------------------- dictionary

def test_dict_roundtrip_int_reference_oracle():
    vals = _profiles()["lowcard"].astype(np.int64)
    blob = encode_dict(vals.astype(np.int32), "int32")
    # oracle path: PLAIN dict page (__init__.py:381-395), 1-byte width +
    # hybrid indices (__init__.py:344-357), gather + truncate (359-368)
    fo = BytesIO(blob)
    n_dict = int.from_bytes(fo.read(4), "little")
    dict_vals = ref.read_plain_dictionary_values(fo, n_dict, "int32")
    idx = ref.read_dictionary_indices_page(fo.read(), len(vals))
    got = [dict_vals[i] for i in idx]
    assert got == list(vals)
    # and our own vectorized decoder
    np.testing.assert_array_equal(decode_dict(blob, len(vals), "int32"), vals)


def test_dict_roundtrip_double_reference_oracle():
    """A low-cardinality float64 chunk takes the dict-over-IEEE-bits route,
    whose payload is Parquet's PLAIN_DICTIONARY for DOUBLE: the reference
    reads it as a double dictionary page plus hybrid indices."""
    pool = np.array(
        [0.1, -2.5, 1e300, np.nan, -0.0, np.inf, 1 / 3, 5e-324],
        dtype=np.float64,
    )
    vals = pool[np.random.default_rng(3).integers(0, len(pool), 5000)]
    codec, params, payload, _ = encode_column(vals, "float64")
    assert codec == "int_f64"
    assert params["int_codec"] == "dict" and "e" not in params
    fo = BytesIO(payload)
    n_dict = int.from_bytes(fo.read(4), "little")
    dict_vals = ref.read_plain_dictionary_values(fo, n_dict, "double")
    idx = ref.read_dictionary_indices_page(fo.read(), len(vals))
    got = np.array([dict_vals[i] for i in idx], dtype=np.float64)
    assert np.array_equal(got.view(np.int64), vals.view(np.int64))


def test_dict_roundtrip_strings():
    vals = ["ab", "", "ab", "xyz", "\U0001f600"] * 50
    codec, params, blob = encode_str_column(pa.array(vals), "dict")
    assert codec == "dict"
    got = decode_str_column(codec, blob, len(vals), params)
    assert got.to_pylist() == vals
    fo = BytesIO(blob)
    n_dict = int.from_bytes(fo.read(4), "little")
    dict_vals = ref.read_plain_dictionary_values(fo, n_dict, "byte_array")
    idx = ref.read_dictionary_indices_page(fo.read(), len(vals))
    assert [dict_vals[i] for i in idx] == [v.encode() for v in vals]


# ---------------------------------------------------------- FOR/delta/bp

@pytest.mark.parametrize("name", list(_profiles()))
def test_for_roundtrip(name):
    vals = _profiles()[name].astype(np.int64)
    payload, params = encode_for(vals)
    np.testing.assert_array_equal(decode_for(payload, len(vals), params), vals)


def test_for_negative_values():
    vals = np.array([-5, -1, 0, 3, -5, 100], dtype=np.int64)
    payload, params = encode_for(vals)
    np.testing.assert_array_equal(decode_for(payload, len(vals), params), vals)


def test_bitpack_roundtrip():
    vals = _profiles()["random"].astype(np.int64)
    payload, params = encode_bitpack(vals)
    np.testing.assert_array_equal(decode_bitpack(payload, len(vals), params), vals)


@pytest.mark.parametrize("count", [1, 7, 8, 63, 64, 65, 200, 4099, 70000])
@pytest.mark.parametrize("width", range(1, 65))
def test_pack_bits_wide_widths_reference_oracle(width, count):
    """Every width 1-64 takes the one superblock kernel, at counts around
    the 8-value group, the 64-value superblock and the packing chunk
    (70000 values span three chunks): the packed bytes read back through
    the reference's bit-packed-run reader, int32 input packs the same
    bytes as uint64, and unpack inverts them with and without the fused
    frame-of-reference offset, into int32 at widths <= 31 and through a
    fused table gather at widths <= 12 (the <64-value tail included).
    gather_bits_lsb reads the values at any positions, the first and last
    included, without unpacking."""
    rng = np.random.default_rng(width * 1000 + count)
    top = np.uint64((1 << width) - 1)
    vals = rng.integers(0, top, count, dtype=np.uint64, endpoint=True)
    vals[0] = top
    packed = pack_bits_lsb(vals, width)
    groups = -(-count // 8)
    assert len(packed) == groups * width
    if width <= 31:
        assert pack_bits_lsb(vals.astype(np.int32), width) == packed
    # the reference reads runs of whole 8-value groups, so a long stream
    # reads as consecutive runs of 64 groups (its big-int reader is
    # quadratic in the run length)
    got = []
    for g in range(0, groups, 64):
        run = min(64, groups - g)
        chunk = packed[g * width : (g + run) * width]
        got += ref.read_bitpacked(BytesIO(chunk), (run << 1) | 1, width)
    assert got[:count] == vals.tolist()
    assert got[count:] == [0] * (groups * 8 - count)
    out = unpack_bits_lsb(packed, width, count)
    np.testing.assert_array_equal(out.view(np.uint64), vals)
    offset = -(1 << 40) + 7
    out = unpack_bits_lsb(packed, width, count, offset=offset)
    want = vals + np.uint64(offset & ((1 << 64) - 1))  # wraps mod 2^64
    np.testing.assert_array_equal(out.view(np.uint64), want)
    if width <= 31:
        out = unpack_bits_lsb(packed, width, count, out_dtype=np.int32)
        assert out.dtype == np.int32
        np.testing.assert_array_equal(out, vals.astype(np.int32))
    if width <= 12:
        table = np.arange(1 << width, dtype=np.int64) * 3 - 5
        out = unpack_bits_lsb(packed, width, count, table=table)
        np.testing.assert_array_equal(out, table[vals])
    pos = np.unique(np.r_[rng.integers(0, count, 50), 0, count - 1])
    np.testing.assert_array_equal(gather_bits_lsb(packed, width, pos * width), vals[pos])


@pytest.mark.parametrize("width", range(1, 65))
def test_small_unpack_gather_equals_column_loop(width, monkeypatch):
    """A run of fewer than _UNPACK_LOOP_MIN values unpacks with one gather
    over its bit offsets; its output equals the 64-pass column loop's
    (forced with a threshold of 0) at counts around the 8- and 64-value
    groups, a delta_bp miniblock length stream (562), the threshold and
    well above it, plain, through a table and with an offset, into int32
    and int64."""
    from parquet_python_spark.codecs import bitstream

    cross = bitstream._UNPACK_LOOP_MIN
    rng = np.random.default_rng(width)
    table_len = min(1 << width, 4096)
    tables = [
        rng.integers(-(2**62), 2**62, table_len).astype(dt)
        for dt in (np.int32, np.int64)
    ]
    offset = -(1 << 40) + 7
    for count in (1, 7, 63, 64, 65, 562, cross - 1, cross, cross + 1, 40000):
        top = (1 << width) - 1
        vals = rng.integers(0, top, count, dtype=np.uint64, endpoint=True)
        packed = pack_bits_lsb(vals, width)
        small = pack_bits_lsb(vals % np.uint64(table_len), width)
        calls = [
            (packed, dict(out_dtype=dt, offset=off))
            for dt in (np.int32, np.int64) for off in (0, offset)
        ] + [(small, dict(table=t)) for t in tables]
        for blob, kw in calls:
            got = unpack_bits_lsb(blob, width, count, **kw)
            with monkeypatch.context() as m:
                m.setattr(bitstream, "_UNPACK_LOOP_MIN", 0)
                want = unpack_bits_lsb(blob, width, count, **kw)
            assert got.dtype == want.dtype, (count, kw)
            np.testing.assert_array_equal(got, want, err_msg=f"{count} {kw}")


# ----------------------------------------------------------------- FSST

def test_fsst_roundtrip_texty():
    vals = _profiles()["texty"].astype(np.int64)
    payload, params = encode_fsst(vals, int(vals.max()) + 1)
    np.testing.assert_array_equal(decode_fsst(payload, len(vals), params), vals)
    # motif data must actually compress vs 4-byte plain
    assert len(payload) < 4 * len(vals)


def test_fsst_roundtrip_bytes():
    text = (b"the quick brown fox " * 200) + b"compression compression compression"
    stream = np.frombuffer(text, dtype=np.uint8).astype(np.int64)
    payload, params = encode_fsst(stream, 256)
    got = decode_fsst(payload, len(stream), params)
    assert got.astype(np.uint8).tobytes() == text
    assert len(payload) < len(text)


@given(st.lists(st.integers(min_value=0, max_value=30), max_size=200))
@settings(max_examples=60, deadline=None)
def test_fsst_roundtrip_property(xs):
    vals = np.array(xs, dtype=np.int64)
    payload, params = encode_fsst(vals, 32)
    np.testing.assert_array_equal(decode_fsst(payload, len(vals), params), vals)


def test_fsst_without_symbols_is_stored_as_bitpack():
    """Uniform 1..50 values (lineitem l_quantity's decimal image): the
    selector picks fsst, training finds no symbol, and the chunk is
    stored as bitpack instead; a forced fsst stays fsst."""
    vals = np.random.default_rng(7).integers(1, 51, 75_000).astype(np.float64)
    ints = vals.astype(np.int64)
    assert select_codec(chunk_stats(ints)) == "fsst"
    codec, params, payload, _ = encode_column(vals, "float64")
    assert codec == "int_f64" and params["int_codec"] == "bitpack"
    got = decode_column(codec, payload, len(vals), params, "float64")
    assert np.array_equal(got.view(np.int64), vals.view(np.int64))
    assert encode_column(ints, "int")[0] == "bitpack"
    codec, params, payload, _ = encode_column(ints, "int", "fsst")
    assert codec == "fsst" and params["n_sym"] == 0
    np.testing.assert_array_equal(
        decode_column(codec, payload, len(ints), params, "int"), ints
    )


def _texty_tokens(n_min: int) -> np.ndarray:
    """tokengen's texty rows (seed 11) concatenated to >= n_min tokens."""
    parts, total, row = [], 0, 0
    while total < n_min:
        parts.append(tokengen._gen_tokens("texty", row, 11))
        total += len(parts[-1])
        row += 1
    return np.concatenate(parts)


def test_fsst_texty_trains_on_small_sample():
    """A ~60k-token texty stream is 7x the training sample: it still
    trains a full table, compresses to under 0.6 of its bitpack size
    (0.54 measured) and round-trips exactly."""
    vals = _texty_tokens(60_000)
    alphabet = int(vals.max()) + 1
    payload, params = encode_fsst(vals, alphabet)
    assert params["n_sym"] > 0
    bitpack = (len(vals) + 7) // 8 * width_from_max_int(alphabet - 1)
    assert len(payload) <= 0.6 * bitpack
    np.testing.assert_array_equal(decode_fsst(payload, len(vals), params), vals)
    assert encode_column(vals, "int")[0] == "fsst"


def test_fsst_chunk_shorter_than_sample():
    """A chunk shorter than the training sample trains on all of it."""
    vals = _texty_tokens(3000)[:3000]
    payload, params = encode_fsst(vals, int(vals.max()) + 1)
    assert params["n_sym"] > 0
    np.testing.assert_array_equal(decode_fsst(payload, len(vals), params), vals)


@given(
    motifs=st.lists(
        st.lists(st.integers(0, 7), min_size=2, max_size=9), min_size=1, max_size=4
    ),
    picks=st.lists(st.integers(0, 3), min_size=20, max_size=400),
    sample_size=st.sampled_from([2, 16, 64, 8192]),
)
@settings(max_examples=80, deadline=None)
def test_fsst_roundtrip_motif_streams(motifs, picks, sample_size):
    """Streams of repeated short motifs over a small alphabet (runs like
    3 3 3 and overlapping pairs like 1 2 1 2 arise) train symbols on
    samples of any size and still decode exactly, whatever the greedy
    parse did on the rest."""
    vals = np.array(
        [x for p in picks for x in motifs[p % len(motifs)]], dtype=np.int64
    )
    payload, params = encode_fsst(vals, 8, sample_size=sample_size)
    np.testing.assert_array_equal(decode_fsst(payload, len(vals), params), vals)


def test_fsst_apply_resolves_overlaps_leftmost():
    """Overlapping matches keep the leftmost: with merges (1,2) -> A,
    (2,1) -> B and (3,3) -> C, the stream 1 2 1 2 1 3 3 3 parses as
    A A 1 C 3, and the table expands it back."""
    merges = [(1, 2), (2, 1), (3, 3)]
    stream = np.array([1, 2, 1, 2, 1, 3, 3, 3], dtype=np.int32)
    got = fsst_mod._apply_merges(stream, merges, 8)
    np.testing.assert_array_equal(got, [8, 8, 1, 10, 3])
    table = fsst_mod._expand_table(merges, 8)
    back = [x for c in got for x in (table[c - 8] if c >= 8 else (c,))]
    assert back == stream.tolist()


def test_fsst_losing_to_bitpack_is_stored_as_bitpack():
    """Uniform 0..63 with a planted pair every 20 values: the selector
    picks fsst and training finds the planted pair, but one symbol widens
    every code from 6 to 7 bits for a 5% hit rate, so the fsst payload is
    larger than bitpack's ceil(n/8) * 6 bytes and the chunk is stored as
    bitpack; a forced fsst is still stored as asked."""
    vals = np.random.default_rng(3).integers(0, 64, 75_000)
    vals[::20], vals[1::20] = 5, 9
    assert select_codec(chunk_stats(vals)) == "fsst"
    codec, params, payload, _ = encode_column(vals, "int", "fsst")
    assert codec == "fsst" and params["n_sym"] >= 1
    assert len(payload) >= (len(vals) + 7) // 8 * 6
    codec, params, payload, _ = encode_column(vals, "int")
    assert codec == "bitpack" and len(payload) == (len(vals) + 7) // 8 * 6
    np.testing.assert_array_equal(
        decode_column(codec, payload, len(vals), params, "int"), vals
    )



def test_fsst_pair_rarer_than_predicted_trains_no_symbol():
    """A and B are each a quarter of a 65,536-value stream (A x B y, with
    x, y from 10,000 noise values) but A is followed by B only 6 times:
    independence predicts 4,096 and a 0.1% share 64, so the pair lies
    far below both, which is no reason to merge it; no other pair is
    frequent either, and nothing trains."""
    rng = np.random.default_rng(4)
    vals = rng.integers(2, 10_002, 65_536)
    vals[0::4], vals[2::4] = 0, 1
    vals[[4 * i + 1 for i in range(100, 700, 100)]] = 1  # A B six times
    assert fsst_mod.train_merges(vals, 10_002) == []


def test_fsst_small_alphabet_bytes_train_symbols():
    """Random 12-digit strings: no byte pair beats independence, but
    each of the 100 pairs is a 1% share of the sample, so the table
    trains and the column compresses (0.66 of its bytes measured)."""
    rng = np.random.default_rng(3)
    strs = ["".join(rng.choice(list("0123456789"), 12)) for _ in range(6000)]
    arr = pa.array(strs)
    codec, params, payload = encode_str_column(arr)
    assert codec == "str_fsst" and params["body"]["n_sym"] > 0
    assert len(payload) <= 0.75 * 12 * len(strs)
    assert decode_str_column(codec, payload, len(arr), params).equals(arr)


def test_str_fsst_losing_to_plain_is_stored_plain():
    """Random 12-character alphanumeric strings: the selector picks
    str_fsst (3,844 byte pairs repeat in a 12 KB sample), but no pair is
    frequent, so the table is empty and its body would be the bytes plus
    a header; the column is stored str_plain, and a forced str_fsst is
    still stored as asked."""
    rng = np.random.default_rng(3)
    alnum = list("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789")
    arr = pa.array(["".join(rng.choice(alnum, 12)) for _ in range(3000)])
    assert _select_str_codec_arrow(arr) == "str_fsst"
    for forced, want in ((None, "str_plain"), ("str_fsst", "str_fsst")):
        codec, params, payload = encode_str_column(arr, forced)
        assert codec == want
        assert decode_str_column(codec, payload, len(arr), params).equals(arr)
    assert len(encode_str_column(arr)[2]) < len(encode_str_column(arr, "str_fsst")[2])


# --------------------------------------------------------------- selector

def test_selector_picks_expected_codecs():
    prof = _profiles()
    picks = {name: select_codec(chunk_stats(vals)) for name, vals in prof.items() if len(vals) > 100}
    assert picks["lowcard"] == "dict"
    assert picks["runny"] in ("rle", "dict")
    assert picks["narrow"] in ("for", "dict")
    assert picks["random"] in ("bitpack", "for")
    assert picks["texty"] in ("fsst", "dict")


def _sorted_chunk_stats(vals: np.ndarray) -> dict:
    """The selector statistics computed the straightforward way: sort-based
    distinct and pair counts on the sample, run lengths from every
    boundary, pair_dup always."""
    n = len(vals)
    if n == 0:
        return {"n": 0, "min": 0, "max": 0, "n_runs": 0, "card_est": 0, "pair_dup": 0.0}
    sample = vals[:_SAMPLE]
    _, cnts = np.unique(sample, return_counts=True)
    card_est = len(cnts)
    if n > len(sample):
        f1, f2 = int((cnts == 1).sum()), int((cnts == 2).sum())
        chao = len(cnts) + (f1 * f1) / (2 * f2) if f2 else len(cnts) * 2
        card_est = int(min(n, max(len(cnts), chao)))
    bounds = np.flatnonzero(sample[1:] != sample[:-1]) + 1
    runs = np.diff(np.concatenate(([0], bounds, [len(sample)])))
    long_runs = runs[runs >= MIN_RLE_RUN]
    scale = n / len(sample)
    vmin, vmax = int(vals.min()), int(vals.max())
    delta_w = 99
    if len(sample) >= 2 and vmax - vmin < 2**62:
        d = np.diff(sample.astype(np.int64))
        delta_w = width_from_max_int(int(d.max()) - int(d.min()))
    pair_dup = 0.0
    if len(sample) >= 2:
        pairs = sample[:-1].astype(np.int64) * (1 << 32) + sample[1:]
        pair_dup = 1.0 - len(np.unique(pairs)) / len(pairs)
    return {
        "n": n, "min": vmin, "max": vmax,
        "n_runs": max(1, int(len(runs) * scale)),
        "n_long_runs": int(len(long_runs) * scale),
        "n_long_vals": int(long_runs.sum() * scale),
        "card_est": card_est, "pair_dup": pair_dup, "delta_w": delta_w,
    }


@given(
    shape=st.sampled_from(["uniform", "motif", "repeats", "runs", "const"]),
    n=st.sampled_from([0, 1, 2, 3, 40, 5000, _SAMPLE - 1, _SAMPLE, _SAMPLE + 1, 90_000]),
    lo=st.sampled_from([0, 7, -5, -(2**31), 2**20, -(2**61)]),
    span=st.sampled_from([1, 2, 50, 4096, 2**17, 2**20 + 3, 2**40, 2**62 + 1]),
    int64=st.booleans(),
    seed=st.integers(0, 2**32 - 1),
)
# pair_dup ~0.50 under a distinct-count bound of ~0.505: fsst wins only if
# chunk_stats computes pair_dup where the bound leaves it able to pass 0.45
@example(shape="repeats", n=5000, lo=0, span=2**17, int64=False, seed=1)
@settings(max_examples=150, deadline=None)
def test_chunk_stats_selects_like_sorted_stats(shape, n, lo, span, int64, seed):
    """chunk_stats (bincount counts, pair_dup only where the fsst branch
    can read it) selects the same codec as the sort-based statistics, and
    every statistic but pair_dup is equal; where the selector can read
    pair_dup, it is equal too."""
    dtype = np.int64 if int64 else np.int32
    hi = lo + span - 1
    assume(np.iinfo(dtype).min <= lo and hi <= np.iinfo(dtype).max)
    rng = np.random.default_rng(seed)
    if shape == "uniform":
        vals = rng.integers(lo, hi, n, endpoint=True)
    elif shape == "motif":  # low-cardinality motif stream (texty-like)
        motifs = rng.integers(lo, hi, (8, 6), endpoint=True)
        vals = motifs[rng.integers(0, 8, n // 6 + 1)].ravel()[:n]
    elif shape == "repeats":  # half the sample distinct, half its pairs repeats
        block = rng.integers(lo, hi, n // 2 + 1, endpoint=True)
        vals = np.tile(block, 3)[:n]
    elif shape == "runs":
        vals = np.repeat(rng.integers(lo, hi, n // 20 + 1, endpoint=True), 20)[:n]
    else:
        vals = np.full(n, hi)
    vals = vals.astype(dtype)
    got, want = chunk_stats(vals), _sorted_chunk_stats(vals)
    assert select_codec(got) == select_codec(want)
    assert {k: v for k, v in got.items() if k != "pair_dup"} == {
        k: v for k, v in want.items() if k != "pair_dup"
    }
    if got["pair_dup"]:
        assert got["pair_dup"] == want["pair_dup"]


@pytest.mark.parametrize("name", list(_profiles()))
def test_encode_column_roundtrip_and_size(name):
    vals = _profiles()[name].astype(np.int64)
    codec, params, payload, stats = encode_column(vals, "int")
    got = decode_column(codec, payload, len(vals), params, "int")
    np.testing.assert_array_equal(got, vals)
    if len(vals) > 100:
        # auto-selected codec must beat or match PLAIN int32 on every profile
        assert len(payload) <= 4 * len(vals) + 64


def test_encode_column_strings():
    vals = ["alpha", "beta", "alpha", "gamma"] * 100
    codec, params, payload = encode_str_column(pa.array(vals))
    got = decode_str_column(codec, payload, len(vals), params)
    assert got.to_pylist() == vals
    with pytest.raises(KeyError, match="unknown kind str"):
        encode_column(vals, "str")


def test_size_gate_vs_reference_rle_dict():
    """North-rule gate: auto-selected size <= reference RLE/dict output.

    The reference's dictionary+RLE-hybrid size IS our dict codec's size
    (identical wire format), so the selector's min over candidates can never
    exceed it when dict is a candidate; verify empirically per profile.
    """
    for name, vals in _profiles().items():
        if len(vals) < 100:
            continue
        vals = vals.astype(np.int64)
        ref_blob = encode_dict(vals.astype(np.int32), "int32")
        codec, params, payload, _ = encode_column(vals, "int")
        assert len(payload) <= len(ref_blob), (name, codec, len(payload), len(ref_blob))


def test_outer_compression_wrap_roundtrip():
    """D20 parity: optional page-level compression wraps the encoded payload
    (applied only when it shrinks; unwrap is transparent)."""
    vals = np.zeros(10_000, dtype=np.int64) + 5
    page = encode_plain_int64(vals)
    p: dict = {}
    blob = wrap_outer(page, p, "zstd")
    assert p.get("outer") == "zstd" and len(blob) < 8 * len(vals)
    assert unwrap_outer(blob, p) == page

    # incompressible payload: wrap is a no-op and params stay clean
    rng = np.random.default_rng(1)
    rand = encode_plain_int64(rng.integers(0, 1 << 62, 5_000).astype(np.int64))
    p = {}
    assert wrap_outer(rand, p, "zstd") == rand
    assert "outer" not in p
    assert unwrap_outer(rand, p) == rand
    # only the Parquet page codecs: zlib is not one
    with pytest.raises(KeyError):
        wrap_outer(page, {}, "zlib")


def test_outer_gzip_roundtrip_and_reference_format():
    """D20 GZIP parity: the wrapped payload is a valid gzip member exactly
    as the reference's gzip.GzipFile path would consume it
    (/root/reference/parquet/__init__.py:230-233), and deterministic."""
    import gzip as _gzip

    vals = np.repeat(np.arange(64, dtype=np.int64), 200)
    page = encode_plain_int64(vals)
    p: dict = {}
    blob = wrap_outer(page, p, "gzip")
    assert p.get("outer") == "gzip" and p["outer_raw"] == 8 * len(vals)
    # reference-side consumption: plain gzip.decompress must yield the body
    body = _gzip.decompress(blob)
    assert len(body) == 8 * len(vals)
    assert unwrap_outer(blob, p) == page
    # determinism (mtime=0): re-encode produces identical bytes
    assert wrap_outer(page, {}, "gzip") == blob


def test_outer_snappy_zstd_roundtrip():
    """D20 SNAPPY parity (reference __init__.py:228-229) via pyarrow's
    bundled raw-snappy codec, plus zstd as the modern extra."""
    vals = np.repeat(np.arange(32, dtype=np.int64), 300)
    page = encode_plain_int64(vals)
    for outer in ("snappy", "zstd"):
        p: dict = {}
        blob = wrap_outer(page, p, outer)
        assert p.get("outer") == outer and p["outer_raw"] == 8 * len(vals)
        # raw snappy is what python-snappy/the reference would consume
        if outer == "snappy":
            raw = bytes(pa.Codec("snappy").decompress(blob, p["outer_raw"]))
            assert len(raw) == 8 * len(vals)
        assert unwrap_outer(blob, p) == page


# ----------------------------------------------- fixed-stride RLE fast path

def _runny(n=80_000, run=32, seed=3):
    rng = np.random.default_rng(seed)
    runs = rng.integers(0, 1 << 17, n // run + 1).astype(np.int64)
    return np.repeat(runs, run)[:n]


def test_rle2_fast_path_selected_and_exact():
    from parquet_python_spark.codecs.rle import encode_hybrid_params

    vals = _runny()
    w = width_from_max_int(int(vals.max()))
    params, blob = encode_hybrid_params(vals, w)
    assert params.get("hdr2") is True
    # vectorized parse, generic loop parse, and the reference decoder all
    # read the same wire identically
    np.testing.assert_array_equal(
        decode_hybrid(blob, w, len(vals), hdr2=True), vals
    )
    np.testing.assert_array_equal(decode_hybrid(blob, w, len(vals)), vals)
    got = ref.read_rle_bit_packed_hybrid(BytesIO(blob), w, len(blob)) or []
    assert got[: len(vals)] == list(vals)
    # the values at some positions, through either parse
    pos = np.unique(np.r_[np.arange(0, len(vals), 997), len(vals) - 1])
    for hdr2 in (True, False):
        np.testing.assert_array_equal(
            decode_hybrid(blob, w, len(vals), hdr2=hdr2, positions=pos), vals[pos]
        )


def test_rle2_long_run_split():
    from parquet_python_spark.codecs.rle import RLE2_MAX_COUNT, encode_hybrid_params

    # runs longer than the 13-bit count budget split into chunks
    vals = np.repeat(
        np.arange(2000, dtype=np.int64), RLE2_MAX_COUNT + 17
    )
    w = width_from_max_int(int(vals.max()))
    params, blob = encode_hybrid_params(vals, w)
    assert params.get("hdr2") is True
    np.testing.assert_array_equal(
        decode_hybrid(blob, w, len(vals), hdr2=True), vals
    )
    got = ref.read_rle_bit_packed_hybrid(BytesIO(blob), w, len(blob)) or []
    assert got[: len(vals)] == list(vals)


def test_rle2_not_selected_for_short_runs():
    from parquet_python_spark.codecs.rle import encode_hybrid_params

    rng = np.random.default_rng(5)
    vals = rng.integers(0, 1 << 17, 50_000).astype(np.int64)  # runs ~1
    w = width_from_max_int(int(vals.max()))
    params, _blob = encode_hybrid_params(vals, w)
    assert "hdr2" not in params
