"""FSST-style symbol-table compression over integer symbol streams.

Implements the core idea of FSST (Boncz, Neumann, Leis — "FSST: Fast Random
Access String Compression", VLDB 2020): a small per-chunk table of
variable-length symbols (here: n-grams of the base alphabet) replaces
frequent subsequences with single codes.  Symbol-table *construction* uses
iterative pair-merge rounds (the bottom-up variant also used by BPE), fully
vectorized in numpy; no per-row Python anywhere.  As in the paper, the
table is trained on a small sample (the first 8,192 token ids, or the
paper's 16 KB of a string column's bytes), and a pair becomes a symbol
only when its count is significantly above what independent neighbours
or a 0.1% share of the sample would give it, so uniform data over a
large alphabet trains no table at all (train_merges).

The reference (jcrobak/parquet-python) has no counterpart — this codec is
mandated by the north rule (BASELINE.json) for 'texty' token streams and
string columns.

Representation
--------------
The input is a 1-D non-negative int stream over a base alphabet
[0, alphabet) — token ids for `tokens` columns, raw bytes (alphabet=256)
for string columns.  Trained symbols get codes alphabet+0 .. alphabet+S-1,
so the compressed stream needs width_from_max_int(alphabet+S-1) bits per
element and no escape byte (literals keep their own code — FSST's escaping
is only needed for a byte-sized code space; our code space is widened by
one bit instead, which the bit-packer absorbs).

Payload layout::

    [2B n_symbols][1B elem width w_e]
    [n_symbols x 1B symbol lengths]
    [bitpack of flattened symbol expansions @ w_e... padded to 8]
    [4B n_stream][bitpack of compressed stream @ width(alphabet+S-1)]
"""

from __future__ import annotations

import itertools

import numpy as np

from .bitstream import pack_bits_lsb, unpack_bits_lsb, width_from_max_int

__all__ = ["encode_fsst", "decode_fsst", "train_merges", "fsst_gain_sample"]

MAX_SYMBOLS = 255
MAX_SYMBOL_LEN = 8
_MIN_COUNT = 4  # fewest occurrences a trained pair needs


def train_merges(sample: np.ndarray, alphabet: int) -> list[tuple[int, int]]:
    """Learn an ordered list of pair merges (a, b) -> new code on a sample.

    Each round counts the adjacent pairs of the current stream and merges
    the non-overlapping occurrences of a batch of the most frequent ones
    (one vectorized pass).  A pair qualifies when it occurs at least
    ``_MIN_COUNT`` times, fits the expansion budget (``MAX_SYMBOL_LEN``),
    and is significantly frequent (below).  Training stops when no pair
    qualifies or the code space (``MAX_SYMBOLS``) is exhausted.

    Significance: a pair with count c must exceed E, the smaller of what
    independent neighbours predict (count(a) * count(b) / len) and a
    0.1% share of the sample (len / 1024), with a one-sided Chernoff
    tail exp(-(c ln(c/E) - c + E)) below e^-5 / D over the round's D
    distinct pairs.  So a motif qualifies by beating independence, and a
    pair of a small alphabet (digits, hex) by its share alone, but
    sampling noise does not: a bare 0.1% floor shrinks with the sample,
    and at 8k uniform values 1..50 (each pair ~3.3 expected, the busiest
    of ~2,400 at 11) clear a floor of 8 and train 34 symbols, where this
    test trains none at any sample size.  A pair rarer than both
    predictions never qualifies, however far below them it lies.

    Training runs on rank-remapped ids (one sort up front), so the
    unigram counts are one bincount per round whatever the alphabet.
    """
    base, seq = np.unique(np.asarray(sample), return_inverse=True)
    card = len(base)
    n_ids = card + MAX_SYMBOLS
    seq = seq.astype(np.int32 if n_ids < 2**31 else np.int64)
    lens = np.ones(n_ids, dtype=np.int64)  # expansion length per id
    merges: list[tuple[int, int]] = []
    while len(merges) < MAX_SYMBOLS and len(seq) >= 2:
        keys = seq[:-1].astype(np.int64) * n_ids + seq[1:]
        vals, cnts = np.unique(keys, return_counts=True)
        a, b = np.divmod(vals, n_ids)
        uni = np.bincount(seq, minlength=n_ids)
        expected = np.minimum(uni[a] * uni[b] / len(seq), len(seq) / 1024)
        surprise = cnts * np.log(cnts / expected) - cnts + expected
        ok = (
            (cnts >= _MIN_COUNT)
            & (cnts > expected)
            & (lens[a] + lens[b] <= MAX_SYMBOL_LEN)
            & (surprise >= np.log(len(vals)) + 5)
        )
        cand = np.flatnonzero(ok)
        cand = cand[np.argsort(-cnts[cand], kind="stable")]
        # Batched greedy: accept up to 32 top pairs per round, provided they
        # are symbol-disjoint (so their sample frequencies stay honest when
        # merged together).  Cuts training rounds ~20x vs one merge per
        # round with near-identical tables.
        batch: list[tuple[int, int]] = []
        used: set[int] = set()
        for x, y in zip(a[cand].tolist(), b[cand].tolist()):
            if len(batch) >= 32 or len(merges) + len(batch) >= MAX_SYMBOLS:
                break
            if x in used or y in used:
                continue
            batch.append((x, y))
            used.update((x, y))
        if not batch:
            break
        first = card + len(merges)
        seq = _merge_pass(seq, *_pair_table(batch, first, n_ids))
        for i, (x, y) in enumerate(batch):
            lens[first + i] = lens[x] + lens[y]
        merges.extend(batch)
    code = np.concatenate([base.astype(np.int64), alphabet + np.arange(MAX_SYMBOLS)])
    return [(int(code[x]), int(code[y])) for x, y in merges]


def _keep_leftmost(match: np.ndarray) -> np.ndarray:
    """Leftmost-greedy conflict resolution: among runs of CONSECUTIVE match
    positions (each match consumes positions i, i+1, so adjacent matches
    overlap), keep every other one starting with the first (vectorized)."""
    chained = np.flatnonzero(np.diff(match) == 1) + 1
    if len(chained) == 0:
        return match
    # index of each match within its run: its index minus its run start's
    idx = np.arange(len(match))
    run_start = np.ones(len(match), dtype=bool)
    run_start[chained] = False
    first = np.maximum.accumulate(np.where(run_start, idx, 0))
    return match[(idx - first) % 2 == 0]


def _pair_table(
    merges: list[tuple[int, int]], first_code: int, n_codes: int
) -> tuple[np.ndarray, np.ndarray, int]:
    """Dense lookup for merge i = (a, b) -> code first_code + i over codes
    [0, n_codes): participants remap to small ids (0 = in no pair), and a
    (k+1)^2 table maps an id pair to its code + 1 (0 = no merge)."""
    pid = np.zeros(n_codes, dtype=np.int32)
    participants = sorted({x for ab in merges for x in ab})
    k1 = len(participants) + 1
    pid[participants] = np.arange(1, k1, dtype=np.int32)
    ptable = np.zeros(
        k1 * k1, dtype=np.int32 if first_code + len(merges) < 2**31 - 1 else np.int64
    )
    ab = np.asarray(merges, dtype=np.int64)
    ptable[pid[ab[:, 0]] * k1 + pid[ab[:, 1]]] = first_code + 1 + np.arange(len(merges))
    return pid, ptable, k1


def _merge_pass(
    seq: np.ndarray, pid: np.ndarray, ptable: np.ndarray, k1: int
) -> np.ndarray:
    """One pass: replace every non-overlapping pair the table merges
    (leftmost-greedy on conflicts) by its code.  Matching is two gathers
    and one table probe per position, for all merges at once."""
    if len(seq) < 2:
        return seq
    # k1 <= 2 * MAX_SYMBOLS + 1, so the table index fits int32; np.take
    # and a boolean != 0 run ~2x faster here than fancy indexing and a
    # flatnonzero of the ints
    ids = np.take(pid, seq)
    code_at = np.take(ptable, ids[:-1] * np.int32(k1) + ids[1:])
    match = _keep_leftmost(np.flatnonzero(code_at != 0))
    if len(match) == 0:
        return seq
    # drop each match's second element, then scatter the merge codes into
    # the compacted array (matches are non-overlapping, so match position
    # i shifts left by exactly i)
    keep = np.ones(len(seq), dtype=bool)
    keep[match + 1] = False
    out = np.compress(keep, seq)
    out[match - np.arange(len(match))] = code_at[match] - 1
    return out


def _apply_merges(seq: np.ndarray, merges: list[tuple[int, int]], alphabet: int) -> np.ndarray:
    """Apply the whole merge table to a full stream by fixpoint iteration.

    One pass matches EVERY merge pair at once (_merge_pass); nested
    symbols resolve on the next pass.  Pass count is bounded by the
    symbol nesting depth (< MAX_SYMBOL_LEN), not by the number of merges.
    Any greedy parse is decodable, so leftmost-greedy conflict resolution
    here vs. sequential merge order only perturbs the ratio marginally."""
    if not merges:
        return seq
    table = _pair_table(merges, alphabet, alphabet + len(merges))
    while True:
        out = _merge_pass(seq, *table)
        if len(out) == len(seq):
            return out
        seq = out


def _expand_table(merges: list[tuple[int, int]], alphabet: int) -> list[tuple[int, ...]]:
    """Resolve each merge code to its base-alphabet expansion."""
    table: list[tuple[int, ...]] = []
    for a, b in merges:
        table.append(
            (table[a - alphabet] if a >= alphabet else (a,))
            + (table[b - alphabet] if b >= alphabet else (b,))
        )
    return table


def encode_fsst(
    values: np.ndarray,
    alphabet: int,
    sample_size: int = 8192,
) -> tuple[bytes, dict]:
    """Train a symbol table on the first ``sample_size`` values, apply it
    to the whole stream, and return (payload, params).

    The table is built from a small leading sample, as in the FSST paper
    (Boncz, Neumann, Leis, VLDB 2020), which trains on a ~16 KB sample of
    the input: 8,192 values train in a fifth of the time of 65,536 on the
    texty token chunks, for ~4% more texty bytes (~0.2% of the tokens
    table); string columns pass the paper's 16,384 bytes.
    train_merges' significance floor keeps a small sample of uniform
    data from training symbols."""
    # int32 through the apply passes (codes stay < alphabet + 256 << 2^31):
    # halves the memory traffic of the merge loop, the encode hot spot.
    dtype = np.int32 if alphabet + MAX_SYMBOLS < 2**31 else np.int64
    vals = np.ascontiguousarray(values, dtype=dtype)
    merges = train_merges(vals[:sample_size], alphabet)
    table = _expand_table(merges, alphabet)
    stream = _apply_merges(vals, merges, alphabet)

    n_sym = len(table)
    w_elem = width_from_max_int(max(alphabet - 1, 1))
    w_stream = width_from_max_int(max(alphabet + n_sym - 1, 1))
    flat = np.fromiter(itertools.chain.from_iterable(table), dtype=np.int64)
    sym_lens = np.fromiter(map(len, table), dtype=np.uint8, count=n_sym)

    parts = [
        int(n_sym).to_bytes(2, "little"),
        bytes([w_elem]),
        sym_lens.tobytes(),
        pack_bits_lsb(flat, w_elem) if len(flat) else b"",
        int(len(stream)).to_bytes(4, "little"),
        pack_bits_lsb(stream, w_stream) if len(stream) else b"",
    ]
    return b"".join(parts), {
        "alphabet": alphabet,
        "n_sym": n_sym,
        "w_stream": w_stream,
    }


def decode_fsst(data: bytes, n: int, params: dict, out_dtype=np.int64) -> np.ndarray:
    """Vectorized expansion: codes -> (offset, len) gather via np.repeat.

    out_dtype=np.int32 (valid when the base alphabet fits) halves the
    write traffic of the scatter — the expansion output is the largest
    buffer this decoder touches."""
    alphabet = params["alphabet"]
    mv = memoryview(data)
    n_sym = int.from_bytes(mv[0:2], "little")
    w_elem = mv[2]
    pos = 3
    sym_lens = np.frombuffer(mv[pos : pos + n_sym], dtype=np.uint8).astype(np.int64)
    pos += n_sym
    flat_n = int(sym_lens.sum())
    flat_bytes = ((flat_n + 7) // 8 * 8 * w_elem) // 8
    small = np.dtype(out_dtype).itemsize == 4 and alphabet < 2**31
    elem_dtype = np.int32 if small else np.int64
    flat = unpack_bits_lsb(mv[pos : pos + flat_bytes], w_elem, flat_n, elem_dtype)
    pos += flat_bytes
    n_stream = int.from_bytes(mv[pos : pos + 4], "little")
    pos += 4
    w_stream = params["w_stream"]
    stream = unpack_bits_lsb(mv[pos:], w_stream, n_stream, elem_dtype)

    sym_offsets = np.zeros(n_sym + 1, dtype=np.int64)
    np.cumsum(sym_lens, out=sym_offsets[1:])

    is_sym = stream >= alphabet
    codes = np.where(is_sym, stream - alphabet, 0)
    out_lens = np.where(is_sym, sym_lens[codes] if n_sym else 1, 1)
    total = int(out_lens.sum())
    starts = np.zeros(len(stream), dtype=np.int64)
    np.cumsum(out_lens[:-1], out=starts[1:])

    out = np.empty(total, dtype=elem_dtype)
    # literals: single element at their start position
    lit_idx = np.flatnonzero(~is_sym)
    out[starts[lit_idx]] = stream[lit_idx]
    # symbols: scatter expansions
    sym_idx = np.flatnonzero(is_sym)
    if len(sym_idx):
        rep = out_lens[sym_idx]
        dst = np.repeat(starts[sym_idx], rep) + _within_group_arange(rep)
        src = np.repeat(sym_offsets[codes[sym_idx]], rep) + _within_group_arange(rep)
        out[dst] = flat[src]
    if total != n:
        raise ValueError(f"fsst decode produced {total} values, expected {n}")
    return out


def _within_group_arange(group_lens: np.ndarray) -> np.ndarray:
    """[0..l0), [0..l1), ... concatenated — vectorized."""
    total = int(group_lens.sum())
    ids = np.repeat(np.arange(len(group_lens)), group_lens)
    starts = np.zeros(len(group_lens), dtype=np.int64)
    np.cumsum(group_lens[:-1], out=starts[1:])
    return np.arange(total, dtype=np.int64) - starts[ids]


def fsst_gain_sample(sample: np.ndarray) -> float:
    """Cheap selector signal: fraction of adjacent pairs that are repeats.

    High pair repetition (> ~0.5) indicates n-gram motifs where a symbol
    table pays off; uniform-random streams score near 0.  Small
    non-negative alphabets (bytes, rank-remapped ids) count distinct pairs
    in a dense alphabet^2 table instead of sorting the pair keys.
    """
    if len(sample) < 2:
        return 0.0
    a = sample[:-1].astype(np.int64)
    hi = int(sample.max()) + 1
    if int(sample.min()) >= 0 and hi * hi <= _DENSE_PAIRS:
        seen = np.zeros(hi * hi, dtype=bool)
        seen[a * hi + sample[1:]] = True
        n_unique = int(np.count_nonzero(seen))
    else:
        n_unique = len(np.unique(a * (np.int64(1) << 32) + sample[1:]))
    return 1.0 - n_unique / (len(sample) - 1)


# largest alphabet^2 pair table fsst_gain_sample allocates (4 MB of bools)
_DENSE_PAIRS = 1 << 22
