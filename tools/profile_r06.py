"""Round-6 measurement harness (guide §1): phase-level breakdown of the
bench-hot queries so optimization targets the measured cost, not guesses.

Run:  python tools/profile_r06.py [phase ...]
Phases: encode decode rt text dedup
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def t(label, fn):
    t0 = time.perf_counter()
    out = fn()
    dt = time.perf_counter() - t0
    print(f"  {label:45s} {dt:7.3f}s", flush=True)
    return out


def main() -> None:
    phases = sys.argv[1:] or ["encode", "decode", "rt", "text", "dedup"]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_rows = int(os.environ.get("BENCH_TOKEN_ROWS", "120000")) * 10

    from parquet_python_spark.engine import (
        _lineage_rollup,
        decode_blocks,
        decode_blocks_files,
        encode_table_files_native,
        resolve_input_files,
        snapshot_of,
    )
    from parquet_python_spark.session import get_spark
    from parquet_python_spark.tokengen import write_tokens_table

    spark = get_spark("profile_r06", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    def consume(df):
        df.write.format("noop").mode("overwrite").save()

    workdir = tempfile.mkdtemp(prefix="pps_prof_")
    try:
        tokens_path = os.path.join(workdir, "tokens10")
        print("datagen (untimed in bench):")
        t("write_tokens_table 10x", lambda: write_tokens_table(spark, tokens_path, n_rows, seed=42))
        files = resolve_input_files(tokens_path)
        print(f"  input files: {len(files)}, bytes={sum(os.path.getsize(f) for f in files)/1e6:.1f}MB")

        if "encode" in phases:
            print("encode_job phases (sf1-scale tokens):")
            from parquet_python_spark.engine import encode_job

            for rep in range(2):
                out_path = os.path.join(workdir, f"enc_{rep}")
                blocks_path = os.path.join(out_path, "blocks")
                snapshot_id = snapshot_of(tokens_path)
                t(f"[{rep}] total encode_job", lambda: encode_job(spark, tokens_path, out_path + "_full"))
                # piecewise re-run into this rep's own, still empty blocks
                # dir (the writer skips tasks whose blk file already exists)
                meta = encode_table_files_native(
                    spark, tokens_path, blocks_path, snapshot_id, files=files
                )
                t(f"[{rep}] encode tasks (meta.count)", lambda: meta.count())
                from parquet_python_spark.sources.iceberg_lite import write_snapshot

                t(f"[{rep}] write_snapshot", lambda: write_snapshot(blocks_path))

                t(
                    f"[{rep}] lineage rollup+write",
                    lambda: _lineage_rollup(blocks_path, os.path.join(out_path, "metrics")),
                )

        if "decode" in phases:
            print("decode phases:")
            out_path = os.path.join(workdir, "enc_dec")
            blocks_path = os.path.join(out_path, "blocks")
            from parquet_python_spark.engine import encode_job

            encode_job(spark, tokens_path, out_path)
            for rep in range(2):
                blocks = spark.read.parquet(blocks_path)
                t(f"[{rep}] decode_blocks + sum (bench path)", lambda: decode_blocks(blocks).agg(F.sum("n_tok")).collect())
                t(f"[{rep}] decode_blocks_files + sum (0-shuffle)", lambda: decode_blocks_files(spark, blocks_path).agg(F.sum("n_tok")).collect())

                # kernel-only: decode in workers, emit one sum per part (no
                # Arrow IPC of decoded payloads back to the JVM)
                def kernels_only():
                    import pyarrow as pa

                    from parquet_python_spark.engine import _decode_part_table, list_input_files

                    fl = list_input_files(blocks_path)
                    paths_df = spark.createDataFrame(
                        [(i, f) for i, f in enumerate(fl)], "file_idx int, path string"
                    ).repartition(max(len(fl), 1), "file_idx")

                    def dec(batches):
                        import pyarrow.parquet as pq

                        for batch in batches:
                            for path in batch.column("path").to_pylist():
                                tbl = pq.read_table(path, use_threads=False)
                                if tbl.num_rows == 0:
                                    continue
                                pids = tbl.column("part_id").to_pylist()
                                start = 0
                                tot = 0
                                for i in range(1, len(pids) + 1):
                                    if i == len(pids) or pids[i] != pids[start]:
                                        d = _decode_part_table(tbl.slice(start, i - start))
                                        import pyarrow.compute as pc

                                        tot += pc.sum(d.column("n_tok")).as_py()
                                        start = i
                                yield pa.record_batch({"s": pa.array([tot], type=pa.int64())})

                    return paths_df.mapInArrow(dec, schema="s long").agg(F.sum("s")).collect()

                t(f"[{rep}] kernels-only decode (no out IPC)", kernels_only)

        if "rt" in phases:
            print("rt roundtrips (sf1-scale lineitem built like bench):")
            sf1_dir = os.path.join(workdir, "sf1")
            os.makedirs(sf1_dir, exist_ok=True)
            src = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            reps = [src.withColumn("l_orderkey", (F.col("l_orderkey") + F.lit(r_ * 10_000_000)).cast(dict(src.dtypes)["l_orderkey"])) for r_ in range(10)]
            out10 = reps[0]
            for d in reps[1:]:
                out10 = out10.unionAll(d)
            out10.write.mode("overwrite").parquet(f"{sf1_dir}/lineitem.parquet")
            docs_src = spark.read.parquet(f"{sf_dir}/documents.parquet")
            dreps = [docs_src.withColumn("doc_id", (F.col("doc_id") + F.lit(r_ * 1_000_000)).cast(dict(docs_src.dtypes)["doc_id"])) for r_ in range(10)]
            dout = dreps[0]
            for d in dreps[1:]:
                dout = dout.unionAll(d)
            dout.write.mode("overwrite").parquet(f"{sf1_dir}/documents.parquet")

            from parquet_python_spark.operators.generic_codec import encode_df, decode_df, _arrow_safe_schema, roundtrip

            li = spark.read.parquet(f"{sf1_dir}/lineitem.parquet")
            kinds = {"l_orderkey": "int", "l_partkey": "int", "l_suppkey": "int", "l_linenumber": "int"}
            for rep in range(2):
                t(f"[{rep}] rt_lineitem_ints roundtrip", lambda: consume(roundtrip(li, "l_orderkey", kinds)))
                blocks = encode_df(li, "l_orderkey", kinds)
                t(f"[{rep}] encode_df only", lambda: consume(blocks))
                in_schema = li.select(*list(kinds)).schema
                t(f"[{rep}] encode+decode unfused", lambda: consume(decode_df(encode_df(li, "l_orderkey", kinds), "l_orderkey", kinds, _arrow_safe_schema(in_schema, kinds))))
            docs = spark.read.parquet(f"{sf1_dir}/documents.parquet")
            dkinds = {"doc_id": "int", "text": "str", "lang": "str", "source": "str", "n_chars": "int"}
            for rep in range(2):
                t(f"[{rep}] rt_documents_auto roundtrip", lambda: consume(roundtrip(docs, "doc_id", dkinds)))

        if "text" in phases:
            print("text ops:")
            from parquet_python_spark.operators.pipeline_ops import gopher_quality, text_metrics

            docs01 = spark.read.parquet(f"{sf_dir}/documents.parquet")
            print(f"  sf0.1 docs partitions: {docs01.rdd.getNumPartitions()}")
            for rep in range(2):
                t(f"[{rep}] text_metrics sf0.1 (as-is)", lambda: consume(text_metrics(docs01)))
                t(f"[{rep}] text_metrics sf0.1 repart32", lambda: consume(text_metrics(docs01.repartition(32))))
                t(f"[{rep}] quality_filters sf0.1 (as-is)", lambda: consume(gopher_quality(docs01, min_words=20)))
                t(f"[{rep}] quality_filters repart32", lambda: consume(gopher_quality(docs01.repartition(32), min_words=20)))

        if "dedup" in phases:
            print("dedup pipeline:")
            from parquet_python_spark.operators.pipeline_ops import (
                dedup_keep_canonical,
                dedup_minhash_candidates,
            )

            docs01 = spark.read.parquet(f"{sf_dir}/documents.parquet")
            for rep in range(2):
                t(f"[{rep}] dedup_minhash_candidates", lambda: consume(dedup_minhash_candidates(docs01)))
                t(f"[{rep}] dedup_pipeline full", lambda: consume(
                    dedup_keep_canonical(docs01, dedup_minhash_candidates(docs01)).select("doc_id", "component_id", "keep")))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
