"""Cluster entry point for the encode job (north rule: `spark-submit
--py-files`).

Build the artifact, then submit:

    python tools/make_pyfiles.py
    spark-submit --master <cluster-or-local[N]> \
        --py-files dist/parquet_python_spark.zip \
        jobs/encode_job.py --input /path/tokens --output /path/encoded \
        [--with-ref-baseline] [--verify]

The job is resumable: re-submitting after a failure skips every task whose
block file is already committed under <output>/blocks (its blk-*.parquet
exists, or compaction folded its rows into a cmp-*.parquet) and whose input
file is unchanged; only the missing tasks encode.

`--verify` runs a distributed round-trip check after encoding: decode the
blocks of the input's current files (engine.decode_current_blocks: the
driver plans the parts from the block files' metadata and the tasks read
them directly, with no shuffle) and compare row count, token count, and an
order-independent content hash (sum of F.hash over the full row) against
the input — a cluster-side bit-identity proxy that never collects data to
the driver.  Like every file-direct reader here, it reads the block files
by local path, so <output> must be visible at the same path to the driver
and every executor.

Prints one line `ENCODE_JOB_RESULT {json}` for orchestration to parse.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="tokens table parquet dir")
    p.add_argument("--output", required=True, help="output dir (blocks/ + metrics/)")
    p.add_argument("--with-ref-baseline", action="store_true",
                   help="also record the reference RLE/dict wire size per chunk")
    p.add_argument("--verify", action="store_true",
                   help="decode blocks and check round-trip vs the input")
    args = p.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("pps-encode-job").getOrCreate()
    # Imports AFTER the session exists: --py-files lands on sys.path when the
    # SparkContext starts, both on the driver and in every python worker.
    from pyspark.sql import functions as F

    from parquet_python_spark.engine import decode_current_blocks, encode_job

    t0 = time.perf_counter()
    stats = encode_job(
        spark, args.input, args.output, with_ref_baseline=args.with_ref_baseline
    )
    stats["wall_s"] = round(time.perf_counter() - t0, 3)

    if args.verify:
        def content_agg(df):
            row_hash = F.hash("doc_id", "tokens", "n_tok", "source").cast("long")
            return df.agg(
                F.count("*").alias("rows"),
                F.sum("n_tok").alias("tokens"),
                F.sum(row_hash).alias("content"),
            ).collect()[0]

        src = content_agg(spark.read.parquet(args.input))
        # only the input's current files: blocks/ accumulates history
        # (incremental encodes, removed files), which would otherwise fail
        # the round-trip comparison spuriously
        dec = content_agg(
            decode_current_blocks(spark, args.input, args.output + "/blocks")
        )
        stats["verify_ok"] = (
            src["rows"] == dec["rows"]
            and src["tokens"] == dec["tokens"]
            and src["content"] == dec["content"]
        )
        stats["verify"] = {
            "rows": [src["rows"], dec["rows"]],
            "tokens": [int(src["tokens"]), int(dec["tokens"])],
            "content_hash": [int(src["content"]), int(dec["content"])],
        }

    print("ENCODE_JOB_RESULT " + json.dumps(stats))
    spark.stop()
    if args.verify and not stats["verify_ok"]:
        sys.exit(2)


if __name__ == "__main__":
    main()
