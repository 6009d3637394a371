"""Iceberg-lite snapshot layer: manifest pinning, time travel, lineage ids,
and snapshot-aware resume through encode_job."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from parquet_python_spark.engine import encode_job, snapshot_of
from parquet_python_spark.sources.iceberg_lite import (
    current_snapshot_id,
    read_snapshot,
    snapshot_files,
    write_snapshot,
)
from parquet_python_spark.tokengen import generate_tokens_df


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "tbl")
    generate_tokens_df(spark, 300, 7, partitions=3).write.parquet(path)
    return path


def test_snapshot_idempotent_and_chained(spark, table):
    s1 = write_snapshot(table)
    assert write_snapshot(table) == s1  # unchanged table -> same snapshot
    m1 = read_snapshot(table)
    assert m1["sequence"] == 0 and m1["parent"] is None
    assert all(os.path.exists(f) for f in snapshot_files(table))

    # append a data file -> new snapshot chained to the old one
    generate_tokens_df(spark, 50, 8, partitions=1).write.mode("append").parquet(table)
    s2 = write_snapshot(table)
    assert s2 != s1
    m2 = read_snapshot(table, s2)
    assert m2["parent"] == s1 and m2["sequence"] == 1
    # time travel: the old snapshot still pins the old file set
    assert len(snapshot_files(table, s1)) < len(snapshot_files(table, s2))
    assert current_snapshot_id(table) == s2


def test_encode_job_uses_snapshot_id_and_pinned_files(spark, table, tmp_path):
    s1 = write_snapshot(table)
    out = str(tmp_path / "enc")
    m = encode_job(spark, table, out)
    assert m["snapshot_id"] == s1
    rows_s1 = m["rows"]

    # rows appended but NOT snapshotted are invisible to the encode job
    generate_tokens_df(spark, 50, 8, partitions=1).write.mode("append").parquet(table)
    m_again = encode_job(spark, table, out)
    assert m_again["snapshot_id"] == s1
    assert m_again["rows"] == rows_s1
    assert m_again["resumed_skipped"] == m["partitions"]  # full resume skip

    # snapshot the append -> new snapshot id, only new data is encoded:
    # every partition of the old files is skipped (content-addressed ids)
    s2 = write_snapshot(table)
    m2 = encode_job(spark, table, out)
    assert m2["snapshot_id"] == s2
    assert m2["rows"] == rows_s1 + 50
    assert m2["resumed_skipped"] == m["partitions"]
    assert m2["partitions"] > m["partitions"]

    decoded = spark.read.parquet(os.path.join(out, "blocks"))
    assert decoded.filter(F.col("snapshot_id") == s2).count() > 0


def test_snapshot_of_falls_back_to_listing_hash(spark, tmp_path):
    path = str(tmp_path / "bare")
    generate_tokens_df(spark, 50, 9, partitions=1).write.parquet(path)
    s = snapshot_of(path)
    assert len(s) == 16 and current_snapshot_id(path) is None


def test_current_blocks_mirrors_evolving_input(spark, table, tmp_path):
    """decode_current_blocks skips history: after appends + re-snapshots
    the decoded current blocks must equal the current input exactly (the
    encode job's --verify correctness)."""
    from parquet_python_spark.engine import decode_current_blocks

    out = str(tmp_path / "enc")
    write_snapshot(table)
    encode_job(spark, table, out)
    generate_tokens_df(spark, 50, 8, partitions=1).write.mode("append").parquet(table)
    write_snapshot(table)
    encode_job(spark, table, out)

    dec = decode_current_blocks(spark, table, os.path.join(out, "blocks"))
    src = spark.read.parquet(table)
    assert dec.count() == src.count()
    import pyspark.sql.functions as SF

    h = lambda df: df.agg(  # noqa: E731
        SF.sum(SF.hash("doc_id", "tokens", "n_tok", "source").cast("long"))
    ).collect()[0][0]
    assert h(dec) == h(src)
