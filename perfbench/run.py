"""Benchmark of the parquet_python_spark engine through its public API.

    python3 perfbench/run.py --workload tokens --seed 1 --seconds 10 --trace 0

Run from the repository root.  One closed-loop client drives a local
Spark session at local[<cores available>].  The seed makes every input;
the workload names, metric names and units come from BENCHMARK.json.

--trace 0 prints the end_to_end metrics, --trace 1 the per_layer metrics:
loop rounds then alternate untraced and traced (trace.overhead_s is the
difference of their op_p50_s), followed by the single-layer probes.
Spans are written to perfbench/.traces/.  The last stdout line is the
JSON result; the lines above it repeat the workload's figures under the
names the workload reports them by.

All scratch data lives under perfbench/.work/<workload>-<pid>/ and is
removed at exit.  Exits 2 without a result when the engine sources are
not next to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "1g"


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _env(work: str) -> None:
    """Keep every file Spark, the JVM and python workers write inside
    ``work``; make the engine importable by the python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # every JVM, the spark-submit launcher included: temp files under
    # ``work``, no hsperfdata files in the system temp dir, and the C1
    # compiler only (C2 recompiling Spark's per-query classes made an op's
    # CPU time vary; README)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={tmp}"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, ROOT)


def _loop(step, seconds: float, min_rounds: int) -> None:
    """Call ``step(n)`` for ``seconds``: after ``min_rounds``, round n
    starts only when a round of the mean length so far would end in time."""
    t0 = time.perf_counter()
    n = 0
    while True:
        elapsed = time.perf_counter() - t0
        if n >= min_rounds and elapsed + elapsed / n > seconds:
            break
        step(n)
        n += 1


def main(argv=None) -> int:
    args = _parse(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if not os.path.isdir(os.path.join(ROOT, "parquet_python_spark")):
        print("perfbench: parquet_python_spark/ not found next to perfbench/", file=sys.stderr)
        return 2
    names = [w["name"] for w in bench["workloads"]]
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; one of {names}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    _env(work)
    from perfbench import harness
    from perfbench.workloads import WORKLOADS, Ctx, codec_probe

    from parquet_python_spark.session import get_spark

    traced = bool(args.trace)
    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    tracer = harness.Tracer(run_id, enabled=traced)
    wl = WORKLOADS[args.workload]()
    spark = None
    try:
        with harness.PeakRss() as rss:
            t0 = time.perf_counter()
            with tracer.span("setup"):
                with tracer.span("session.get_spark"):
                    spark = get_spark(
                        "perfbench",
                        cpus=len(os.sched_getaffinity(0)),
                        extra_conf={
                            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                            "spark.ui.showConsoleProgress": "false",
                        },
                    )
                    spark.sparkContext.setLogLevel("ERROR")
                counts = harness.SparkCounts(spark)
                ctx = Ctx(spark, work, args.seed, tracer, harness.Ledger(tracer, counts))
                wl.setup(ctx)
            setup_s = time.perf_counter() - t0

            if not traced:
                ledgers = [ctx.ledger]
                _loop(lambda n: wl.iteration(ctx), args.seconds, wl.MIN_ROUNDS)
            else:
                # rounds alternate untraced / traced, so trace.overhead_s
                # compares rounds run under the same conditions
                ledgers = [harness.Ledger(tracer, counts), ctx.ledger]

                def step(n: int) -> None:
                    tracer.enabled = bool(n % 2)
                    ctx.ledger = ledgers[n % 2]
                    with wl.traced(ctx) if tracer.enabled else nullcontext():
                        wl.iteration(ctx)

                _loop(step, args.seconds, 2 * wl.MIN_ROUNDS)
                untraced, ctx.ledger = ledgers
                tracer.enabled = True
                wl.probes(ctx)
                codec_metrics, chosen = codec_probe(ctx)
            peak_mb = rss.peak_mb
            attempted = sum(led.attempted for led in ledgers)
            failed = sum(led.failed for led in ledgers)

            def p50(per_op, names):
                """Mean over the op kinds ``names`` of each kind's median in
                ``per_op``; None while a kind has no successful op.  Kinds
                differ in latency, so a median of the pooled samples would
                jump between them from run to run."""
                meds = [harness.median(per_op[n]) for n in names if per_op.get(n)]
                return sum(meds) / len(meds) if len(meds) == len(names) else None

            main_p50, side_p50 = p50(ctx.ledger.lat, wl.MAIN), p50(ctx.ledger.lat, wl.SIDE)
            complete = failed == 0 and main_p50 is not None and side_p50 is not None
            if not traced:
                values = {
                    "setup_s": setup_s,
                    "op_cpu_s": p50(ctx.ledger.cpu, wl.MAIN) or 0.0,
                    "side_op_cpu_s": p50(ctx.ledger.cpu, wl.SIDE) or 0.0,
                    "peak_rss_mb": peak_mb,
                    "ops_ok_frac": (attempted - failed) / max(attempted, 1),
                    **wl.e2e(ctx),
                }
                declared = bench["end_to_end"]
            else:
                declared = bench["per_layer"]
                values = {m["name"]: 0.0 for m in declared}
                main_u = p50(untraced.lat, wl.MAIN)
                got = {
                    "session.get_spark_s": harness.median(tracer.durations("session.get_spark")),
                    "tokengen.write_tokens_table_s": sum(
                        tracer.durations("tokengen.write_tokens_table")
                    ),
                    "trace.overhead_s": (
                        main_p50 - main_u if main_p50 is not None and main_u is not None else 0.0
                    ),
                    **codec_metrics,
                    **wl.layers(ctx),
                }
                unknown = set(got) - set(values)
                if unknown:
                    raise KeyError(
                        f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}"
                    )
                values.update(got)
                print("codecs chosen: " + json.dumps(chosen))
                tracer.dump(os.path.join(HERE, ".traces", f"{run_id}.jsonl"))

            for what, per_op in (("latencies", ctx.ledger.lat), ("cpu times", ctx.ledger.cpu)):
                rounded = {n: [round(x, 4) for x in v] for n, v in per_op.items()}
                print(f"op {what} (s): {json.dumps(rounded)}")
            # wall times print but gate nothing: on a shared host they
            # spread wider between runs than any usable bound (README)
            wall = [("op_p50_s", main_p50), ("side_op_p50_s", side_p50)]
            for name, value, unit in [(n, v or 0.0, "s") for n, v in wall] + wl.report(ctx):
                print(f"{args.workload} {name} = {value:.6g} {unit}")
            metrics = {
                m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                for m in declared
            }
            for name, m in metrics.items():
                print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    finally:
        if spark is not None:
            harness.stop_spark(spark, rss)
        shutil.rmtree(work, ignore_errors=True)

    print(
        json.dumps(
            {"correct": complete, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
