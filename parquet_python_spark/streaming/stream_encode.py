"""Structured Streaming encode: continuously encode token files as they land.

The reference is strictly batch (file-at-a-time, SURVEY.md §2.4 'Streaming:
none'); this is new engine surface.  Design: readStream over the input dir
selects only each row's source file (_metadata.file_path) ->
foreachBatch(encode_table_files_native over the batch's distinct files).
The JVM never decodes a token, and the sink is the batch engine's one
writer — same kernels, same blk-<file key> commit, same lineage: each
block row's snapshot_id is stream-<batch id>, and its part_id is
content-addressed per input file ({source}#{file key}).  Exactly-once
comes from a replayable source plus an idempotent sink: a micro-batch
replayed after a crash finds its files' blk files committed and encodes
nothing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from ..engine import encode_table_files_native, local_path
from ..tokengen import SCHEMA

from pyspark.sql import types as T  # noqa: E402

# event-stream input schema shared by every streaming operator below
STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("n_tok", T.IntegerType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("ingest_ts", T.TimestampType(), False),
    ]
)


def start_stream_encode(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    trigger_once: bool = False,
    max_files_per_trigger: int = 8,
):
    """Start (or run once) the streaming encode job; returns the query.

    Blocks land under output_path/blocks, stream checkpoint under
    output_path/_checkpoint.  Lineage keys on snapshot_id =
    f"stream-{batch_id}"; part_id = f"{source}#{file_key}" is
    content-addressed per input file.  Input files must be local.
    """
    blocks_path = os.path.join(output_path, "blocks")
    checkpoint = os.path.join(output_path, "_checkpoint")

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
        .select("_metadata.file_path")
    )

    def sink(batch_df, batch_id: int) -> None:
        paths = sorted(
            local_path(r[0]) for r in batch_df.distinct().collect()
        )
        encode_table_files_native(
            spark, input_path, blocks_path,
            snapshot_id=f"stream-{batch_id}", files=paths,
        ).count()

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_token_rates(
    spark: SparkSession,
    input_path: str,
    window: str = "10 minutes",
    watermark: str = "5 minutes",
):
    """Streaming windowed aggregation with late-data handling: per-source
    token throughput over event-time windows.

    `ingest_ts` is event time; the watermark bounds how late a row may
    arrive and still update its window (older rows are dropped and their
    window's state is released — bounded state at any stream length, the
    thing a 100 TB continuous ingest job actually needs).  Returns the
    aggregated streaming DataFrame; attach a sink with .writeStream.

    The reference has no streaming surface at all (SURVEY.md §2.4); this is
    new engine capability expressed entirely with Structured Streaming
    built-ins — watermark, window, groupBy — no custom state.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    stream = spark.readStream.schema(STREAM_SCHEMA).parquet(input_path)
    return (
        stream.withWatermark("ingest_ts", watermark)
        .groupBy(F.window("ingest_ts", window).alias("w"), "source")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("n_tok").alias("n_tokens"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "source",
            "n_rows",
            "n_tokens",
        )
    )


def streaming_dedup(
    spark: SparkSession,
    input_path: str,
    watermark: str = "10 minutes",
):
    """Streaming exact deduplication with bounded state: rows whose doc_id
    was already seen within the watermark horizon are dropped.

    dropDuplicatesWithinWatermark keeps one state entry per key only until
    the watermark passes it — O(keys-in-horizon) state, not O(all keys
    ever), which is what lets a continuous 100 TB ingest dedup run forever
    (plain dropDuplicates on an unbounded stream grows state without
    bound).  The batch twin is pipeline_ops.dedup_exact; this is its
    late-data-aware streaming counterpart.
    """
    from pyspark.sql import types as T

    stream = spark.readStream.schema(STREAM_SCHEMA).parquet(input_path)
    return stream.withWatermark("ingest_ts", watermark).dropDuplicatesWithinWatermark(
        ["doc_id"]
    )


def stateful_source_totals(
    spark: SparkSession, input_path: str, max_files_per_trigger: int | None = None
):
    """Custom stateful streaming operator: cumulative per-source token
    totals via applyInPandasWithState (GroupState), emitting one running
    snapshot row per source per micro-batch.

    State is one (rows, tokens) pair per source — O(#sources), not O(rows):
    the bounded-state shape a production pipeline needs.  Timeout is not
    used (totals never expire); the state API round-trip (get/update) is
    the part under test.
    """
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("source", T.StringType(), False),
            T.StructField("total_rows", T.LongType(), False),
            T.StructField("total_tokens", T.LongType(), False),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("rows", T.LongType(), False),
            T.StructField("tokens", T.LongType(), False),
        ]
    )

    def update(key, pdfs, state):
        rows, tokens = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            rows += len(pdf)
            tokens += int(pdf["n_tok"].sum())
        state.update((rows, tokens))
        yield pd.DataFrame(
            {
                "source": [key[0]],
                "total_rows": [rows],
                "total_tokens": [tokens],
            }
        )

    reader = spark.readStream.schema(STREAM_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_path)
    return stream.groupBy("source").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
