"""Structured Streaming encode: files arriving over time are encoded into
the same blocks layout, decodable bit-identically, exactly once — also when
a micro-batch is replayed after a crash."""

import os

from parquet_python_spark.engine import (
    _DECODE_SCHEMA,
    _block_files,
    decode_blocks,
    list_input_files,
)
from parquet_python_spark.streaming.stream_encode import start_stream_encode
from parquet_python_spark.tokengen import generate_tokens_df


def _assert_exactly_once(spark, blocks_path, inp):
    blocks = spark.read.parquet(blocks_path)
    # every (part_id, column) appears once
    assert (
        blocks.count()
        == blocks.select("part_id", "column").distinct().count()
    )
    decoded = decode_blocks(blocks)
    src = spark.read.parquet(inp)
    assert decoded.count() == src.count()
    assert decoded.exceptAll(src).count() == 0
    assert src.exceptAll(decoded).count() == 0
    return blocks


def test_stream_encode_two_batches(spark, tmp_path):
    # the space reaches the sink percent-encoded in _metadata.file_path
    inp = str(tmp_path / "arriving dir")
    out = str(tmp_path / "stream_out")
    os.makedirs(inp)

    # batch 1 lands
    df1 = generate_tokens_df(spark, 200, seed=42, partitions=2)
    df1.write.mode("append").parquet(inp)
    q = start_stream_encode(spark, inp, out, trigger_once=True)
    q.awaitTermination(120)

    # batch 2 lands later; availableNow picks up only the new files
    df2 = generate_tokens_df(spark, 150, seed=43, partitions=2)
    df2.write.mode("append").parquet(inp)
    q = start_stream_encode(spark, inp, out, trigger_once=True)
    q.awaitTermination(120)

    blocks = _assert_exactly_once(spark, os.path.join(out, "blocks"), inp)
    assert spark.read.parquet(inp).count() == 350
    # two distinct micro-batch snapshots recorded in lineage
    snaps = {r["snapshot_id"] for r in blocks.select("snapshot_id").distinct().collect()}
    assert snaps == {"stream-0", "stream-1"}


def test_replayed_batch_encodes_nothing(spark, tmp_path):
    """A micro-batch whose commit was lost re-runs on restart; its files'
    blk files are already committed, so the replay writes nothing."""
    inp = str(tmp_path / "arriving")
    out = str(tmp_path / "stream_out")
    blocks_path = os.path.join(out, "blocks")
    generate_tokens_df(spark, 200, seed=42, partitions=2).write.parquet(inp)
    generate_tokens_df(spark, 150, seed=43, partitions=2).write.mode(
        "append"
    ).parquet(inp)

    def run():
        q = start_stream_encode(
            spark, inp, out, trigger_once=True, max_files_per_trigger=2
        )
        q.awaitTermination(120)

    run()
    commits = os.path.join(out, "_checkpoint", "commits")
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    assert last >= 1  # more than one micro-batch
    before = {f: os.stat(f).st_mtime_ns for f in list_input_files(blocks_path)}
    os.remove(os.path.join(commits, str(last)))
    os.remove(os.path.join(commits, f".{last}.crc"))
    run()
    assert os.path.exists(os.path.join(commits, str(last)))  # replayed

    _assert_exactly_once(spark, blocks_path, inp)
    assert all(os.path.basename(f).startswith("blk-") for f in before)
    after = {f: os.stat(f).st_mtime_ns for f in list_input_files(blocks_path)}
    assert after == before
    assert _block_files(spark.read.parquet(blocks_path), _DECODE_SCHEMA) is not None
