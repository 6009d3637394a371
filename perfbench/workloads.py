"""The benchmark workloads, each a closed loop with one client.

Every workload is a class with

    setup(ctx)            data generation, pre-encode, warm-up (timed as setup_s)
    iteration(ctx)        one round of the loop; every op goes through ctx.ledger
    probes(ctx)           traced run only: direct calls into single layers
    e2e(ctx) / layers(ctx) / report(ctx)

MAIN and SIDE name the ops behind op_cpu_s and side_op_cpu_s (and the
wall-time op_p50_s and side_op_p50_s).  Op names are the public function
called, so they double as span names.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_python_spark import engine, tokengen
from parquet_python_spark.codecs import chunk_stats, decode_column, encode_column, select_codec
from parquet_python_spark.codecs.arrow_io import encode_str_column
from parquet_python_spark.codecs.dictionary import encode_dict, encode_dict_wire
from parquet_python_spark.operators import generic_codec
from parquet_python_spark.sources import iceberg_lite

from .harness import Ledger, Tracer, expect, median, tail, wrapped

# ~5.3M tokens / ~21 MB raw int32: sized so one run (set-up + loop +
# teardown) stays near a minute on 4 shared cores, where fixed Spark job
# costs already take most of every call
TOKENS_ROWS = 30_000
LINEITEM_ROWS = 600_000  # TPC-H sf0.1 lineitem row count
LINEITEM_KEYS = LINEITEM_ROWS // 4  # sf0.1 has 150k distinct l_orderkey
LINEITEM_PARTS = 8  # range-clustered chunks: a 1% key range hits 1-2 of them
LOOKUP_POOL = 8  # seeded queries per lookup kind, expected results precomputed
PROBE_ROWS = 20_000  # rows of the seeded tokens table the codec probe reads
PROBE_CHUNK = 262_144  # values per codec-probe chunk
PROBE_REPS = 5

# FIXTURES.md F1: the codec each source profile should win
F1_CODECS = {
    "lowcard": "dict",
    "runny": "rle",
    "narrow": "for",
    "texty": "fsst",
    "random": "bitpack",
}


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    tracer: Tracer
    ledger: Ledger


def noop(df) -> None:
    """Execute the full plan, pull nothing to the driver."""
    df.write.format("noop").mode("overwrite").save()


def _med(xs) -> float:
    return median(xs) if xs else 0.0


def _blocks_meta(path: str, columns: list[str]) -> pa.Table:
    # pyarrow's dataset discovery skips _iceberg/, _SUCCESS and dot files
    return pq.read_table(path, columns=columns)


class Workload:
    MAIN: tuple[str, ...] = ()
    SIDE: tuple[str, ...] = ()
    MIN_ROUNDS = 1

    def traced(self, ctx: Ctx):
        """Context in which the traced half of the loop runs."""
        return nullcontext()

    def probes(self, ctx: Ctx) -> None:
        """Traced run only: direct calls into single layers."""


# =============================================================== tokens

def _hash_terms():
    # pmod keeps every term below 2^40, so 10^6 rows cannot overflow
    return F.pmod(F.xxhash64("doc_id", "tokens", "n_tok", "source"), F.lit(1 << 40))


def _signature(df) -> tuple:
    """Order-independent content hash of a tokens DataFrame."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_tok").alias("t"), F.sum(_hash_terms()).alias("h")
    ).first()
    return (row["n"], row["t"], row["h"])


def _input_signatures(df, lo: int, hi: int) -> tuple[tuple, tuple]:
    """(_signature(df), _signature of its rows holding a token in
    [lo, hi]) in one pass over the input."""
    hit = F.exists("tokens", lambda t: (t >= lo) & (t <= hi))
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_tok").alias("t"),
        F.sum(_hash_terms()).alias("h"),
        F.count_if(hit).alias("pn"),
        F.sum(F.when(hit, F.col("n_tok"))).alias("pt"),
        F.sum(F.when(hit, _hash_terms())).alias("ph"),
    ).first()
    return (row["n"], row["t"], row["h"]), (row["pn"], row["pt"], row["ph"])


class Tokens(Workload):
    """The engine's two tokens paths over one generated table.  Write path
    (MAIN): encode_job (files mode) into an empty dir, then the same job
    on the finished output (resume, 0 new parts).  Reader path (SIDE):
    full decodes through both entry points of blocks encoded in set-up,
    then a zone-map-pruned decode.  The pruned decode (once per ledger)
    and resume (traced rounds only) are timed and checked but gate
    nothing (see README)."""

    MAIN = ("engine.encode_job",)
    SIDE = ("engine.decode_blocks_files", "engine.decode_blocks")

    def setup(self, ctx: Ctx) -> None:
        spark = ctx.spark
        self.tok = os.path.join(ctx.work, "tokens")
        enc = os.path.join(ctx.work, "encoded")
        self.blocks = os.path.join(enc, "blocks")
        with ctx.tracer.span("tokengen.write_tokens_table"):
            tokengen.write_tokens_table(spark, self.tok, TOKENS_ROWS, seed=ctx.seed)
        # the blocks every decode reads, encoded once with the reference
        # RLE/dict size of each tokens chunk (measured outside the timed
        # encodes)
        with ctx.tracer.span("engine.encode_job.preencode"):
            self.stats = engine.encode_job(spark, self.tok, enc, with_ref_baseline=True)
        self.n_rows, self.n_tokens = self.stats["rows"], self.stats["tokens"]
        meta = _blocks_meta(
            self.blocks, ["column", "enc_bytes", "ref_dict_bytes", "stat_min", "stat_max"]
        )
        toks = meta.filter(pc.equal(meta.column("column"), "tokens"))
        self.tok_enc = int(pc.sum(toks.column("enc_bytes")).as_py())
        self.ref_bytes = int(pc.sum(toks.column("ref_dict_bytes")).as_py())
        expect(self.tok_enc <= self.ref_bytes, "tokens enc bytes above reference")
        # a seeded 8-value window inside the narrow profile's id range:
        # parts whose zone map misses it (runny, texty) are skipped
        rng = np.random.default_rng([ctx.seed, 0x5CA9])
        self.lo = 100_000 + int(rng.integers(0, 56))
        self.hi = self.lo + 7
        kept = pc.and_(
            pc.greater_equal(toks.column("stat_max"), self.lo),
            pc.less_equal(toks.column("stat_min"), self.hi),
        )
        self.kept_frac = pc.sum(kept.cast(pa.int64())).as_py() / toks.num_rows
        self.sig, self.pruned_sig = _input_signatures(
            spark.read.parquet(self.tok), self.lo, self.hi
        )
        expect(self.sig[:2] == (self.n_rows, self.n_tokens), "input totals")
        # warm-up of the decode tasks (decode_blocks on a bare scan runs
        # the same per-file tasks); the reference encode above warms the
        # encode path
        noop(engine.decode_blocks_files(spark, self.blocks))
        self.n_iter = 0

    def _check_encode(self, s: dict, out: str) -> None:
        expect(s["rows"] == self.n_rows and s["tokens"] == self.n_tokens, "row/token totals")
        for key in ("partitions", "raw_bytes", "enc_bytes"):
            expect(s[key] == self.stats[key], f"{key} differs from the set-up encode")
        m = pq.read_table(os.path.join(out, "metrics"))
        pids = m.column("part_id")
        expect(m.num_rows == s["partitions"], "one metrics row per partition")
        expect(pc.count_distinct(pids).as_py() == m.num_rows, "duplicate lineage rows")
        expect(pc.sum(m.column("n_rows")).as_py() == self.n_rows, "metrics rows")
        expect(pc.sum(m.column("n_tokens")).as_py() == self.n_tokens, "metrics tokens")
        meta = _blocks_meta(os.path.join(out, "blocks"), ["column", "enc_bytes"])
        toks = meta.filter(pc.equal(meta.column("column"), "tokens"))
        enc = int(pc.sum(toks.column("enc_bytes")).as_py())
        expect(enc == self.tok_enc, "encode not deterministic")
        expect(enc <= self.ref_bytes, "tokens enc bytes above reference RLE/dict")

    def _check_resume(self, s: dict, first: dict) -> None:
        expect(s["resumed_skipped"] == first["partitions"], "resume re-encoded parts")
        expect(s["partitions"] == first["partitions"], "resume changed partitions")
        expect(s["enc_bytes"] == first["enc_bytes"], "resume changed bytes")

    def _decodes(self, ctx: Ctx):
        spark, blocks = ctx.spark, self.blocks

        def files():
            return engine.decode_blocks_files(spark, blocks)

        def frame():
            return engine.decode_blocks(spark.read.parquet(blocks))

        def pruned():
            return engine.decode_blocks_files_pruned(spark, blocks, "tokens", self.lo, self.hi)

        def checker(make, sig):
            return lambda _: expect(_signature(make()) == sig, "decoded content differs")

        return [
            ("engine.decode_blocks_files", lambda: noop(files()), checker(files, self.sig)),
            ("engine.decode_blocks", lambda: noop(frame()), checker(frame, self.sig)),
            (
                "engine.decode_blocks_files_pruned",
                lambda: noop(pruned()),
                checker(pruned, self.pruned_sig),
            ),
        ]

    def iteration(self, ctx: Ctx) -> None:
        # resume and the pruned decode gate nothing: the pruned decode runs
        # until each ledger (untraced, traced) holds one success, resume
        # (as long as an encode) only in traced rounds, so the gated ops
        # get the run's time
        done = ctx.ledger.lat
        out = os.path.join(ctx.work, f"enc-{self.n_iter}")
        self.n_iter += 1
        first = ctx.ledger.run(
            "engine.encode_job",
            lambda: engine.encode_job(ctx.spark, self.tok, out),
            lambda s: self._check_encode(s, out),
        )
        if first is not None and ctx.tracer.enabled and "engine.encode_job.resume" not in done:
            ctx.ledger.run(
                "engine.encode_job.resume",
                lambda: engine.encode_job(ctx.spark, self.tok, out),
                lambda s: self._check_resume(s, first),
            )
        shutil.rmtree(out, ignore_errors=True)
        for name, call, check in self._decodes(ctx):
            if name != "engine.decode_blocks_files_pruned" or name not in done:
                ctx.ledger.run(name, call, check)

    def traced(self, ctx: Ctx):
        return wrapped(ctx.tracer, iceberg_lite, "write_snapshot", "iceberg_lite.write_snapshot")

    def probes(self, ctx: Ctx) -> None:
        for i in range(3):
            blk = os.path.join(ctx.work, f"probe-blocks-{i}")
            with ctx.tracer.span("engine.encode_table_files_native"):
                n = engine.encode_table_files_native(ctx.spark, self.tok, blk).count()
            # one metadata row per (partition, column): 4 columns
            expect(n == 4 * self.stats["partitions"], "block rows")
            iceberg_lite.write_snapshot(blk)
            for _ in range(3):
                with ctx.tracer.span("iceberg_lite.snapshot_files"):
                    files = iceberg_lite.snapshot_files(blk)
                expect(len(files) > 0, "empty snapshot")
            shutil.rmtree(blk)

    def e2e(self, ctx: Ctx) -> dict:
        return {
            "bytes_per_raw_byte": self.stats["enc_bytes"] / self.stats["raw_bytes"],
            "bytes_vs_reference": self.tok_enc / self.ref_bytes,
        }

    def layers(self, ctx: Ctx) -> dict:
        tr, led = ctx.tracer, ctx.ledger
        out = {
            "engine.encode_tasks_s": _med(tr.durations("engine.encode_table_files_native")),
            "engine.resume_noop_s": _med(tr.durations("engine.encode_job.resume")),
            "engine.partitions": float(self.stats["partitions"]),
            "engine.pruned_parts_kept_frac": self.kept_frac,
            "iceberg_lite.write_snapshot_s": _med(tr.durations("iceberg_lite.write_snapshot")),
            "iceberg_lite.snapshot_files_s": _med(tr.durations("iceberg_lite.snapshot_files")),
        }
        for key in ("spark_jobs", "spark_stages", "spark_tasks", "shuffle_bytes"):
            out[f"engine.encode_job.{key}"] = led.count("engine.encode_job", key)
        for short, name in (
            ("decode_blocks_files", "engine.decode_blocks_files"),
            ("decode_blocks", "engine.decode_blocks"),
            ("decode_pruned", "engine.decode_blocks_files_pruned"),
        ):
            out[f"engine.{short}_s"] = _med(tr.durations(name))
            out[f"engine.{short}.spark_tasks"] = led.count(name, "spark_tasks")
            out[f"engine.{short}.shuffle_bytes"] = led.count(name, "shuffle_bytes")
        return out

    def report(self, ctx: Ctx) -> list[tuple[str, float, str]]:
        lat = ctx.ledger.lat
        enc = lat.get("engine.encode_job", [])
        full = lat.get("engine.decode_blocks_files", []) + lat.get("engine.decode_blocks", [])
        out = [
            ("encode_tokens_per_s", self.n_tokens / median(enc) if enc else 0.0, "tok/s"),
            ("decode_tokens_per_s", self.n_tokens / median(full) if full else 0.0, "tok/s"),
            ("selective_scan_s", _med(lat.get("engine.decode_blocks_files_pruned", [])), "s"),
            ("tokens", float(self.n_tokens), "count"),
        ]
        if "engine.encode_job.resume" in lat:
            out.append(("resume_s", median(lat["engine.encode_job.resume"]), "s"))
        return out


# ====================================================== lineitem_lookup

LI_KINDS = {
    "l_orderkey": "int",
    "l_partkey": "int",
    "l_suppkey": "int",
    "l_linenumber": "int",
    "l_quantity": "float64",
    "l_extendedprice": "float64",
    "l_discount": "float64",
    "l_tax": "float64",
    "l_returnflag": "str",
    "l_linestatus": "str",
}
LI_SCHEMA = T.StructType(
    [
        T.StructField(
            c,
            {"int": T.LongType(), "float64": T.DoubleType(), "str": T.StringType()}[k],
            True,
        )
        for c, k in LI_KINDS.items()
    ]
)


def make_lineitem(seed: int, n: int = LINEITEM_ROWS) -> pa.Table:
    """Seeded stand-in for TPC-H sf0.1 lineitem: same columns, row count
    and value domains (uniform, unclustered keys, as in the sf0.1 file);
    l_shipdate is left out because no lookup reads it."""
    rng = np.random.default_rng([seed, 0x11E])
    return pa.table(
        {
            "l_orderkey": rng.integers(0, LINEITEM_KEYS, n),
            "l_partkey": rng.integers(0, 20_000, n),
            "l_suppkey": rng.integers(0, 1_000, n),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        }
    )


class Chunk(NamedTuple):
    """Stats of one encoded column chunk (one blocks row)."""

    part_id: int
    column: str
    enc_bytes: int
    stat_min: int | None
    stat_max: int | None
    bloom: bytes | None
    n_rows: int
    n_nulls: int


def _rows(tbl: pa.Table) -> list[tuple]:
    return sorted(zip(*[tbl.column(c).to_pylist() for c in LI_KINDS]))


class LineitemLookup(Workload):
    """Selective reads through operators/generic_codec.py over range-
    clustered lineitem blocks: pruned row lookups (MAIN: key range, Bloom
    point) and metadata-first aggregates (SIDE: count, top-k)."""

    MAIN = ("generic_codec.decode_df_pruned", "generic_codec.decode_df_pruned_eq")
    SIDE = ("generic_codec.count_filtered_meta", "generic_codec.topk_filtered_meta")
    # a lookup's CPU time varies by up to a third between calls: two
    # samples of each kind per run (a round takes 6-9 s)
    MIN_ROUNDS = 2
    KIND_OF = {
        "generic_codec.decode_df_pruned": "range",
        "generic_codec.decode_df_pruned_eq": "eq",
        "generic_codec.count_filtered_meta": "count",
        "generic_codec.topk_filtered_meta": "topk",
    }

    def setup(self, ctx: Ctx) -> None:
        spark = ctx.spark
        raw_path = os.path.join(ctx.work, "lineitem.parquet")
        self.blk_path = os.path.join(ctx.work, "lineitem_blocks")
        with ctx.tracer.span("lineitem.generate"):
            raw = make_lineitem(ctx.seed)
            pq.write_table(raw, raw_path)
        with ctx.tracer.span("generic_codec.encode_df"):
            generic_codec.encode_df(
                spark.read.parquet(raw_path), "l_orderkey", LI_KINDS,
                n_parts=LINEITEM_PARTS, partitioning="range",
            ).write.parquet(self.blk_path)
        self.blocks = spark.read.parquet(self.blk_path)
        meta = _blocks_meta(self.blk_path, list(Chunk._fields)).to_pydict()
        self.chunks = [Chunk(*r) for r in zip(*(meta[f] for f in Chunk._fields))]
        self.enc_total = sum(c.enc_bytes for c in self.chunks)
        # reference RLE/dict wire size of each whole column, and raw size;
        # doubles go through their int64 bit patterns (same 8-byte PLAIN
        # dictionary entries, same distinct count)
        ref = raw_bytes = 0
        for col, kind in LI_KINDS.items():
            arr = raw.column(col).combine_chunks()
            if kind == "str":
                d = pc.dictionary_encode(arr)
                raw_bytes += pc.sum(pc.binary_length(arr)).as_py()
                uniques = [v.encode() for v in d.dictionary.to_pylist()]
                ref += len(encode_dict_wire(d.indices.to_numpy(), uniques, "byte_array"))
            else:
                vals = arr.to_numpy().astype(np.int64 if kind == "int" else np.float64)
                raw_bytes += vals.nbytes
                ref += len(encode_dict(vals.view(np.int64), "int64"))
        self.ref_bytes, self.raw_bytes = ref, raw_bytes
        self._plan(ctx, raw)
        self.n_iter = 0
        # warm-up, checked, on the last query of each pool: the loop starts
        # at the first, so no measured query repeats one already run
        for name in self.KIND_OF:
            call, check = self._op(ctx, name, LOOKUP_POOL - 1)
            check(call())

    def _plan(self, ctx: Ctx, raw: pa.Table) -> None:
        """Seeded query pools with their expected answers, computed with
        pyarrow on the raw table (independent of Spark and the codecs)."""
        rng = np.random.default_rng([ctx.seed, 0x100C])
        key = raw.column("l_orderkey")
        span = LINEITEM_KEYS // 100
        self.pool: dict[str, list] = {n: [] for n in self.KIND_OF}
        for _ in range(LOOKUP_POOL):
            lo = int(rng.integers(0, LINEITEM_KEYS - span))
            hi = lo + span - 1
            sel = raw.filter(pc.and_(pc.greater_equal(key, lo), pc.less_equal(key, hi)))
            self.pool["generic_codec.decode_df_pruned"].append(((lo, hi), _rows(sel)))

            v = int(raw.column("l_partkey")[int(rng.integers(0, raw.num_rows))].as_py())
            sel = raw.filter(pc.equal(raw.column("l_partkey"), v))
            self.pool["generic_codec.decode_df_pruned_eq"].append(((v,), _rows(sel)))

            lo = int(rng.integers(0, LINEITEM_KEYS - 10 * span))
            hi = lo + 10 * span - 1
            n = pc.sum(pc.and_(pc.greater_equal(key, lo), pc.less_equal(key, hi)).cast(pa.int64()))
            self.pool["generic_codec.count_filtered_meta"].append(((lo, hi), n.as_py()))

            k, asc = int(rng.integers(5, 50)), bool(rng.integers(0, 2))
            ks = np.sort(key.to_numpy())
            top = (ks[:k] if asc else ks[::-1][:k]).tolist()
            self.pool["generic_codec.topk_filtered_meta"].append(((k, asc), top))
        self.order = rng.permuted(np.tile(np.arange(4), (LOOKUP_POOL, 1)), axis=1)
        self.kept = {
            n: [self._kept_frac(n, args) for args, _ in pool] for n, pool in self.pool.items()
        }

    def _op(self, ctx: Ctx, name: str, i: int):
        args, want = self.pool[name][i % LOOKUP_POOL]
        b = self.blocks
        if name == "generic_codec.decode_df_pruned":
            lo, hi = args

            def call():
                return generic_codec.decode_df_pruned(
                    b, "l_orderkey", LI_KINDS, LI_SCHEMA, "l_orderkey", lo, hi
                ).filter(F.col("l_orderkey").between(lo, hi)).toArrow()

            return call, lambda t: expect(_rows(t) == want, "range lookup rows")
        if name == "generic_codec.decode_df_pruned_eq":
            (v,) = args

            def call():
                return generic_codec.decode_df_pruned_eq(
                    b, "l_orderkey", LI_KINDS, LI_SCHEMA, "l_partkey", v
                ).filter(F.col("l_partkey") == v).toArrow()

            return call, lambda t: expect(_rows(t) == want, "point lookup rows")
        if name == "generic_codec.count_filtered_meta":
            lo, hi = args

            def call():
                return generic_codec.count_filtered_meta(
                    b, LI_KINDS, "l_orderkey", lo, hi
                ).first()["cnt"]

            return call, lambda n: expect(n == want, "metadata count")
        k, asc = args

        def call():
            rows = generic_codec.topk_filtered_meta(b, LI_KINDS, "l_orderkey", k, asc).collect()
            return [r["l_orderkey"] for r in rows]

        return call, lambda got: expect(got == want, "top-k values")

    def _kept_frac(self, name: str, args) -> float:
        """Share of all encoded bytes the block stats admit for one query
        (what the pruned plan may read; the rest it never touches)."""
        key = [c for c in self.chunks if c.column == "l_orderkey"]

        def whole_parts(parts):  # row lookups decode every column of a part
            return sum(c.enc_bytes for c in self.chunks if c.part_id in parts)

        if name == "generic_codec.decode_df_pruned":
            lo, hi = args
            kept = whole_parts({c.part_id for c in key if c.stat_max >= lo and c.stat_min <= hi})
        elif name == "generic_codec.decode_df_pruned_eq":
            (v,) = args
            kept = whole_parts(
                {
                    c.part_id
                    for c in self.chunks
                    if c.column == "l_partkey"
                    and c.stat_min <= v <= c.stat_max
                    and (c.bloom is None or generic_codec.bloom_might_contain(c.bloom, v))
                }
            )
        elif name == "generic_codec.count_filtered_meta":
            # only boundary chunks of the key decode; contained ones count
            # from metadata
            lo, hi = args
            kept = sum(
                c.enc_bytes
                for c in key
                if c.stat_max >= lo
                and c.stat_min <= hi
                and not (c.stat_min >= lo and c.stat_max <= hi and c.n_nulls == 0)
            )
        else:
            # chunks that can hold one of the k extreme keys: walk chunks by
            # their near edge until k values are covered; that edge bounds
            # the k-th value
            k, asc = args
            walk = sorted(key, key=lambda c: (c.stat_max if asc else -c.stat_min, c.part_id))
            cum, bound = 0, None
            for c in walk:
                cum += c.n_rows - c.n_nulls
                if cum >= k:
                    bound = c.stat_max if asc else c.stat_min
                    break
            kept = sum(
                c.enc_bytes
                for c in key
                if bound is None or (c.stat_min <= bound if asc else c.stat_max >= bound)
            )
        return kept / self.enc_total

    def iteration(self, ctx: Ctx) -> None:
        i = self.n_iter
        self.n_iter += 1
        names = list(self.KIND_OF)
        for j in self.order[i % LOOKUP_POOL]:
            name = names[j]
            call, check = self._op(ctx, name, i)
            ctx.ledger.run(name, call, check)

    def e2e(self, ctx: Ctx) -> dict:
        return {
            "bytes_per_raw_byte": self.enc_total / self.raw_bytes,
            "bytes_vs_reference": self.enc_total / self.ref_bytes,
        }

    def layers(self, ctx: Ctx) -> dict:
        tr, led = ctx.tracer, ctx.ledger
        out = {}
        for name, k in self.KIND_OF.items():
            out[f"generic_codec.{k}_s"] = _med(tr.durations(name))
            out[f"generic_codec.{k}.spark_jobs"] = led.count(name, "spark_jobs")
            out[f"generic_codec.{k}.spark_tasks"] = led.count(name, "spark_tasks")
            out[f"generic_codec.{k}.bytes_kept_frac"] = median(self.kept[name])
        return out

    def report(self, ctx: Ctx) -> list[tuple[str, float, str]]:
        lat = [x for n in self.KIND_OF for x in ctx.ledger.lat.get(n, [])]
        t = tail(lat)
        out = [
            ("lookups_per_s", len(lat) / sum(lat) if lat else 0.0, "1/s"),
            ("lookup_p50_s", _med(lat), "s"),
            ("lookups", float(len(lat)), "count"),
        ]
        if t is not None:
            out.append((f"lookup_tail_s(p{t[0]:.0f})", t[1], "s"))
        return out


# ========================================================== codec probe

def codec_probe(ctx: Ctx) -> tuple[dict, dict]:
    """Single-process codec timings on chunks of the seeded tokens table
    (rows 0..PROBE_ROWS, generated by tokengen exactly as in the table).
    Returns (metrics, chosen codec per profile)."""
    tbl = tokengen.generate_tokens_df(ctx.spark, PROBE_ROWS, ctx.seed).toArrow()
    tr = ctx.tracer
    out, chosen = {}, {}

    def timed(name, fn, **attrs):
        ts = []
        for _ in range(PROBE_REPS):
            with tr.span(name, **attrs):
                t0 = time.perf_counter()
                res = fn()
                ts.append(time.perf_counter() - t0)
        return median(ts), res

    for prof, want in F1_CODECS.items():
        sub = tbl.filter(pc.equal(tbl.column("source"), prof))
        vals = np.asarray(pc.list_flatten(sub.column("tokens").combine_chunks()))[:PROBE_CHUNK]
        mb = vals.nbytes / 1e6
        t_sel, codec = timed(
            "codecs.select", lambda: select_codec(chunk_stats(vals), "int"), profile=prof
        )
        t_enc, (c, params, blob, _) = timed(
            "codecs.encode_column", lambda: encode_column(vals, "int"), profile=prof
        )
        t_dec, back = timed(
            "codecs.decode_column",
            lambda: decode_column(c, blob, len(vals), params, "int"),
            profile=prof,
        )
        expect(np.array_equal(np.asarray(back), vals), f"codec round trip {prof}")
        chosen[prof] = c
        out[f"codecs.select_ms.{prof}"] = 1000.0 * t_sel
        out[f"codecs.encode_mb_s.{prof}"] = mb / t_enc
        out[f"codecs.decode_mb_s.{prof}"] = mb / t_dec
        out[f"codecs.ratio.{prof}"] = len(blob) / vals.nbytes
        out[f"codecs.chosen_f1.{prof}"] = float(c == want)
    ids = tbl.column("doc_id").combine_chunks()
    t_str, _ = timed("codecs.encode_str_column", lambda: encode_str_column(ids))
    out["codecs.str_encode_mb_s.doc_id"] = pc.sum(pc.binary_length(ids)).as_py() / 1e6 / t_str
    return out, chosen


WORKLOADS = {"tokens": Tokens, "lineitem_lookup": LineitemLookup}
