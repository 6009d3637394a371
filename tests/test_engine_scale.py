"""Scale-shape regression tests: narrow decode output and rewrite
detection."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pytest


def test_unpack_bits_int32_output():
    from parquet_python_spark.codecs.bitstream import pack_bits_lsb, unpack_bits_lsb

    rng = np.random.default_rng(3)
    for width in (1, 5, 17, 31):
        vals = rng.integers(0, 1 << width, 64, dtype=np.int64)
        blob = pack_bits_lsb(vals, width)
        out32 = unpack_bits_lsb(blob, width, 64, np.int32)
        assert out32.dtype == np.int32
        np.testing.assert_array_equal(out32, vals.astype(np.int32))
        out64 = unpack_bits_lsb(blob, width, 64)
        assert out64.dtype == np.int64
        np.testing.assert_array_equal(out64, vals)


def test_decode_hybrid_int32_and_prealloc():
    from parquet_python_spark.codecs.rle import decode_hybrid, encode_hybrid

    rng = np.random.default_rng(5)
    vals = np.concatenate(
        [rng.integers(0, 100, 500), np.full(400, 7), rng.integers(0, 100, 300)]
    )
    blob = encode_hybrid(vals, 7)
    out32 = decode_hybrid(blob, 7, len(vals), np.int32)
    assert out32.dtype == np.int32
    np.testing.assert_array_equal(out32, vals)


def test_decode_column_prefer32():
    from parquet_python_spark.codecs import decode_column, encode_column

    rng = np.random.default_rng(11)
    for data in (
        rng.integers(0, 1 << 15, 5000),          # bitpack/rle territory
        rng.integers(10**6, 10**6 + 512, 5000),  # FOR territory
        np.repeat(rng.integers(0, 50, 100), 50),  # rle territory
    ):
        vals = data.astype(np.int64)
        codec, params, payload, _ = encode_column(vals, "int")
        out = decode_column(codec, payload, len(vals), params, "int", prefer32=True)
        np.testing.assert_array_equal(np.asarray(out, dtype=np.int64), vals)


def test_file_key_detects_inplace_rewrite(tmp_path):
    from parquet_python_spark.engine import file_key

    p = tmp_path / "a.parquet"
    p.write_bytes(b"x" * 100)
    k1 = file_key(str(p))
    os.utime(p, ns=(123456789, 987654321))  # same name+size, new mtime
    k2 = file_key(str(p))
    assert k1 != k2


def test_snapshot_changes_on_inplace_rewrite(tmp_path):
    from parquet_python_spark.sources.iceberg_lite import write_snapshot

    t = tmp_path / "tbl"
    t.mkdir()
    f = t / "d.parquet"
    f.write_bytes(b"a" * 64)
    s1 = write_snapshot(str(t))
    assert write_snapshot(str(t)) == s1  # idempotent on unchanged table
    os.utime(f, ns=(111, 222))  # rewrite in place: same name+size
    s2 = write_snapshot(str(t))
    assert s2 != s1


def _content_hash(spark, df):
    from pyspark.sql import functions as F

    row_hash = F.hash("doc_id", "tokens", "n_tok", "source").cast("long")
    r = df.agg(
        F.count("*").alias("rows"), F.sum(row_hash).alias("content")
    ).collect()[0]
    return (r["rows"], int(r["content"]))


def test_encode_job_reencodes_rewritten_file(spark, tmp_path):
    """End-to-end A1 scenario: rewrite an input file in place with
    DIFFERENT content -> the job re-encodes it and the decoded table's
    content hash matches the NEW input exactly (stale blocks would fail)."""
    from parquet_python_spark.engine import decode_current_blocks, encode_job
    from parquet_python_spark.tokengen import write_tokens_table

    inp = str(tmp_path / "tokens")
    out = str(tmp_path / "enc")
    write_tokens_table(spark, inp, 500, seed=1)
    stats1 = encode_job(spark, inp, out)
    assert stats1["resumed_skipped"] == 0

    # rerun without changes: everything skips
    stats2 = encode_job(spark, inp, out)
    assert stats2["resumed_skipped"] > 0

    # rewrite one input file in place with different bytes (same name)
    files = sorted(f for f in os.listdir(inp) if f.endswith(".parquet"))
    victim = os.path.join(inp, files[0])
    tmp2 = str(tmp_path / "tokens2")
    write_tokens_table(spark, tmp2, 500, seed=2)
    donor = sorted(
        os.path.join(tmp2, f) for f in os.listdir(tmp2) if f.endswith(".parquet")
    )[0]
    shutil.copyfile(donor, victim)
    # drop Hadoop's stale .crc sidecar for the overwritten file (a real
    # table rewrite replaces data file and checksum together)
    crc = os.path.join(inp, f".{os.path.basename(victim)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    stats3 = encode_job(spark, inp, out)
    # some partitions skipped (untouched files), some re-encoded (victim)
    assert stats3["resumed_skipped"] > 0
    assert stats3["partitions"] > stats3["resumed_skipped"] - 1
    # decoded current blocks reproduce the NEW input bit-for-bit
    dec = decode_current_blocks(spark, inp, os.path.join(out, "blocks"))
    assert _content_hash(spark, dec) == _content_hash(
        spark, spark.read.parquet(inp)
    )
    shutil.rmtree(tmp2, ignore_errors=True)
