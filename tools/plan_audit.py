"""Physical-plan audit: capture `.explain(formatted)` evidence for the
headline queries — ReadSchema pruning, PushedFilters, broadcast joins,
WholeStageCodegen spans — into BENCH/PLANS.md.

The assertions here are the plan properties the engine's scale story rests
on; the driver's bench measures time, this records WHY the plans hold at
100x.
"""

from __future__ import annotations

import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _recording_block_reads(build):
    """Build a query while recording every pruned block read it starts,
    at the one chooser of the driver process or a Spark job
    (generic_codec._decode_parts), whichever decodes it: the read's
    (path, filters) plan (generic_codec._file_plan) and what the chooser
    returned, an Arrow table decoded on the driver or the job's
    DataFrame: (query, [(plan, result)])."""
    from parquet_python_spark.operators import generic_codec

    reads, plans = [], []
    real_parts, real_plan = generic_codec._decode_parts, generic_codec._file_plan

    def file_plan(*args, **kwargs):
        plans.append(real_plan(*args, **kwargs))
        return plans[-1]

    def decode_parts(*args, **kwargs):
        out = real_parts(*args, **kwargs)
        reads.append((plans.pop(), out))
        return out

    generic_codec._decode_parts, generic_codec._file_plan = decode_parts, file_plan
    try:
        return build(), reads
    finally:
        generic_codec._decode_parts, generic_codec._file_plan = real_parts, real_plan


def _file_direct_prune(reads, n_reads: int) -> tuple[bool, str, list]:
    """(ok, one summary line per read, [(kept, encoded) part_id sets per
    read]): the query started ``n_reads`` pruned block reads; every entry
    of each read reads through a driver-planned, non-empty ``part_id in
    [...]`` filter; and no decode job shuffles, joins, groups or scans
    cached blocks (a read decoded on the driver runs no job)."""
    from pyspark.sql import DataFrame

    from parquet_python_spark.engine import _block_index, list_input_files

    ok = len(reads) == n_reads
    lines, parts = [], []
    for i, (plan, out) in enumerate(reads):
        kept: set = set()
        for _, where in plan:
            head = (where or [None])[0]
            if not (head and head[:2] == ("part_id", "in") and head[2]):
                ok = False
                continue
            kept.update(head[2])
        dirs = {os.path.dirname(path) for path, _ in plan}
        encoded = {
            pid for d in dirs for f in list_input_files(d)
            for pid in _block_index(f)[2]
        }
        parts.append((kept, encoded))
        job = isinstance(out, DataFrame)
        p = _plan(out) if job else ""
        ok = ok and bool(plan) and not any(
            n in p for n in (
                "Exchange", "Join", "FlatMapGroupsInArrow", "InMemoryTableScan"
            )
        )
        filters = "; ".join(str(where) for _, where in plan)
        lines.append(
            f"block read {i} ({'Spark job' if job else 'driver process'}): "
            f"{len(plan)} file(s), parts kept {len(kept)} of {len(encoded)}: "
            f"{filters}"
        )
    return ok, "\n".join(lines), parts


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    import __spark_entry__ as em
    from pyspark.sql import functions as F
    from parquet_python_spark.session import get_spark

    spark = get_spark("plan-audit", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = em.queries()
    out = io.StringIO()
    out.write("# BENCH/PLANS.md — physical-plan audit (regenerate: "
              "`python tools/plan_audit.py`)\n\n")
    checks: list[tuple[str, bool, str]] = []

    # 1. projection pushdown: the scan reads ONLY the referenced columns
    # (o_orderkey, o_custkey, o_totalprice of the 9-column orders table)
    p = _plan(qs["scan_project_limit"](spark, sf_dir))
    ok = (
        "o_comment" not in p
        and "o_orderdate" not in p
        and "ReadSchema" in p
        and "o_orderkey" in p
    )
    checks.append(
        ("scan_project_limit: ReadSchema pruned to referenced columns", ok, p)
    )

    # 2. filter pushdown reaches the parquet scan
    df = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(F.col("l_quantity") > 45)
        .select("l_orderkey", "l_quantity")
    )
    p = _plan(df)
    ok = "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity" in p
    checks.append(("filter pushdown: GreaterThan reaches PushedFilters", ok, p))

    # 3. broadcast join on the small dimension
    p = _plan(qs["join_customer_nation"](spark, sf_dir))
    ok = "BroadcastHashJoin" in p
    checks.append(("join_customer_nation: BroadcastHashJoin (no shuffle of fact)", ok, p))

    # 4. top-k is TakeOrdered, not a global sort
    p = _plan(qs["scan_project_limit"](spark, sf_dir))
    ok = "TakeOrderedAndProject" in p
    checks.append(
        ("scan_project_limit: TakeOrderedAndProject (no full sort)", ok, p)
    )

    # 5. aggregation has a map-side partial stage
    p = _plan(qs["agg_pricing_summary"](spark, sf_dir))
    ok = p.count("HashAggregate") >= 2
    checks.append(("agg_pricing_summary: partial + final HashAggregate", ok, p))

    # 6. whole-stage codegen covers the relational ops (inspect the
    # EXECUTED plan: AQE's pre-execution formatted output hides codegen)
    agg_df = qs["agg_pricing_summary"](spark, sf_dir)
    agg_df.collect()
    executed = agg_df._jdf.queryExecution().executedPlan().toString()
    # "*(n)" prefixes mark WholeStageCodegen stages in executedPlan output
    ok = "*(1)" in executed
    checks.append(
        ("agg_pricing_summary: WholeStageCodegen spans present (executed plan)",
         ok, executed)
    )

    # 7. dedup_simhash stays JVM-side (no BatchEvalPython / ArrowEvalPython)
    p = _plan(qs["dedup_simhash"](spark, sf_dir))
    ok = "EvalPython" not in p
    checks.append(("dedup_simhash: zero Python eval nodes in plan", ok, p))

    # 8. text_metrics (stats + token count + quality + lang id +
    # fingerprint in one projection) JVM-side too, and a single scan pass
    import re as _re

    p = _plan(qs["text_metrics"](spark, sf_dir))
    n_scans = len(_re.findall(r"\(\d+\) Scan parquet", p))
    ok = "EvalPython" not in p and n_scans == 1
    checks.append(("text_metrics: zero Python eval nodes, one scan", ok, p))

    # 9. LSH banding: one shuffle on the band key, no cartesian
    p = _plan(qs["dedup_minhash"](spark, sf_dir))
    ok = "CartesianProduct" not in p and "NestedLoop" not in p
    checks.append(("dedup_minhash: no cartesian/nested-loop join", ok, p))

    # 10. window function plans as a single Window over one sort, no joins
    p = _plan(qs["window_top_orders"](spark, sf_dir))
    ok = "Window" in p and "Join" not in p
    checks.append(("window_top_orders: Window operator, no self-join", ok, p))

    # 11. INTERSECT plans as an aggregate/semi-join, never cartesian
    p = _plan(qs["setop_active_buyers"](spark, sf_dir))
    ok = "CartesianProduct" not in p and "NestedLoop" not in p
    checks.append(("setop_active_buyers: no cartesian in INTERSECT", ok, p))

    # 12. zone-map-pruned decode: one mapInArrow task per block file reads
    # the stats columns and decodes only the kept parts — no exchange moves
    # a payload, no join or group-by reunites the parts
    p = _plan(qs["rt_tokens_pruned"](spark, sf_dir))
    ok = "MapInArrow" in p and not any(
        n in p for n in ("Exchange", "Join", "FlatMapGroupsInArrow")
    )
    checks.append(
        ("rt_tokens_pruned: per-file MapInArrow prune, no exchange, join "
         "or group-by", ok, p)
    )

    # 13. stratified sampler: 100% JVM (no Python eval), broadcast rate map,
    # and no shuffle anywhere (Exchange only if broadcast)
    p = _plan(qs["stratified_sample"](spark, sf_dir))
    ok = (
        "EvalPython" not in p
        and "BroadcastHashJoin" in p
        and "Exchange hashpartitioning" not in p
    )
    checks.append(
        ("stratified_sample: JVM-only, broadcast rates, zero shuffles", ok, p)
    )

    # 14. rollup: partial+final aggregate with Expand, no join
    p = _plan(qs["agg_rollup_pricing"](spark, sf_dir))
    ok = "Expand" in p and p.count("HashAggregate") >= 2 and "Join" not in p
    checks.append(
        ("agg_rollup_pricing: Expand + partial/final HashAggregate", ok, p)
    )

    # 15. sequence packing: no cartesian/nested-loop; the per-partition base
    # offsets come in via broadcast, and piece reassembly is one hash
    # shuffle on window_id
    p = _plan(qs["pack_windows"](spark, sf_dir))
    ok = (
        "CartesianProduct" not in p
        and "NestedLoop" not in p
        and "BroadcastHashJoin" in p
    )
    checks.append(
        ("pack_windows: broadcast offset bases, no cartesian", ok, p)
    )

    # 16. vocab remap: a single narrow ArrowEvalPython/mapInArrow pass —
    # NO shuffle (Exchange) of the token arrays
    p = _plan(qs["remap_vocab"](spark, sf_dir))
    ok = "Exchange hashpartitioning" not in p and "SortMergeJoin" not in p
    checks.append(("remap_vocab: narrow map pass, zero shuffles", ok, p))

    # 17. PII scrub: pure JVM regexp chain, narrow map — no Python, no
    # shuffle
    p = _plan(qs["scrub_pii"](spark, sf_dir))
    ok = "EvalPython" not in p and "Exchange hashpartitioning" not in p
    checks.append(("scrub_pii: JVM-only narrow map, zero shuffles", ok, p))

    # 18. simhash (merged r5: fingerprints + band-bucketed pairs): band
    # equi-join only — no cartesian/nested-loop anywhere in the union
    p = _plan(qs["dedup_simhash"](spark, sf_dir))
    ok = "CartesianProduct" not in p and "NestedLoop" not in p
    checks.append(
        ("dedup_simhash: band equi-join, no cartesian", ok, p)
    )

    # 19. semi/anti joins: plan as (Broadcast)HashJoin LeftSemi/LeftAnti,
    # never inner-join-plus-distinct
    p = _plan(qs["join_semi_anti"](spark, sf_dir))
    ok = "LeftSemi" in p and "LeftAnti" in p and "CartesianProduct" not in p
    checks.append(("join_semi_anti: LeftSemi + LeftAnti join nodes", ok, p))

    # 20. embedding LSH ops: exact-integer ternary planes — zero Python
    # eval nodes, no cartesian (bucket equi-join / Hamming filter only).
    # The SCALE path is audited directly (the merged near_dup_embeddings
    # driver row unions it with the intentionally-all-pairs exact
    # baseline, which IS a nested-loop by design)
    from parquet_python_spark.operators.pipeline_ops import (
        embedding_near_dup_lsh,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    p = _plan(embedding_near_dup_lsh(emb, min_cosine=0.35, n_planes=4))
    ok = "EvalPython" not in p and "CartesianProduct" not in p
    checks.append(
        ("near_dup_embeddings (lsh scale path): JVM-only buckets, "
         "no cartesian", ok, p)
    )
    p = _plan(qs["ann_lsh_topk"](spark, sf_dir))
    ok = "EvalPython" not in p and "CartesianProduct" not in p
    checks.append(("ann_lsh_topk: JVM-only bucket probe", ok, p))

    # 21. Gopher/C4 quality filters: the top-2-gram scan is a per-row
    # run-length pass (array_sort + aggregate), NOT an explode + groupBy —
    # zero Python eval, zero shuffle, one scan
    p = _plan(qs["quality_filters"](spark, sf_dir))
    n_scans = len(_re.findall(r"\(\d+\) Scan parquet", p))
    ok = (
        "EvalPython" not in p
        and "Exchange hashpartitioning" not in p
        and n_scans == 1
    )
    checks.append(
        ("quality_filters: JVM-only run-length 2-gram scan, zero shuffles, one scan",
         ok, p)
    )

    # 22. range + bloom point-lookup prune on block files: each of the
    # four round-trips reads only the parts the driver kept (a strict
    # subset of those encoded) through a part_id filter on the files,
    # whether it decodes in the driver process or in a Spark job, and no
    # decode job shuffles, joins, groups or scans cached blocks
    q, reads = _recording_block_reads(
        lambda: qs["rt_lineitem_pruned"](spark, sf_dir)
    )
    ok, summary, parts = _file_direct_prune(reads, 4)
    ok = ok and all(kept < encoded for kept, encoded in parts)
    checks.append(
        ("rt_lineitem_pruned: file-direct part_id prune (range + bloom eq), "
         "kept parts a strict subset, no exchange, join, group-by or cache",
         ok, summary + "\n" + _plan(q))
    )

    # 23. end-to-end cluster dedup (minhash candidates -> connected
    # components -> canonical keep): the iterative CC loop must CONVERGE
    # within 10 pointer-jumping rounds on the real candidate graph (it
    # raises otherwise), and the returned plan must read the final
    # localCheckpointed RDD — i.e. lineage is BOUNDED by the per-round
    # checkpoint, not a 10-round nested join tree
    from parquet_python_spark.operators.pipeline_ops import (
        dedup_components,
        dedup_minhash_candidates,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    comps = dedup_components(
        dedup_minhash_candidates(docs), max_iters=10
    )  # raises if >10 rounds
    p = _plan(comps)
    ok = "Scan ExistingRDD" in p and "Join" not in p
    checks.append(
        ("dedup_pipeline: CC converges <=10 rounds; final plan reads the "
         "checkpointed RDD (lineage bounded per round)", ok, p)
    )

    # 24. null-count prune (IS NULL / IS NOT NULL chunk skipping): same
    # shape as the stats prune — the keep set planned from the chunk null
    # counts reaches each block file read, on the driver or in a job, as a
    # part_id filter
    q, reads = _recording_block_reads(
        lambda: qs["rt_documents_nulls"](spark, sf_dir)
    )
    ok, summary, _ = _file_direct_prune(reads, 2)
    checks.append(
        ("rt_documents_nulls: file-direct part_id null-count prune, no "
         "exchange, join, group-by or cache", ok, summary + "\n" + _plan(q))
    )

    n_bad = 0
    for name, ok, plan in checks:
        mark = "PASS" if ok else "FAIL"
        if not ok:
            n_bad += 1
        out.write(f"## [{mark}] {name}\n\n```\n")
        # keep the interesting head of the plan; full plans are enormous.
        # Spark's RDD, expression and plan ids shift with every earlier
        # call, so the written copy names them by placeholders (the
        # checks above match the raw plans)
        for pat, sub in (
            (r"RDD\[\d+\]", "RDD[N]"), (r"#\d+", "#N"),
            (r"plan_id=\d+", "plan_id=N"),
        ):
            plan = re.sub(pat, sub, plan)
        lines = [l for l in plan.splitlines() if l.strip()][:40]
        out.write("\n".join(lines))
        out.write("\n```\n\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "BENCH", "PLANS.md"), "w") as f:
        f.write(out.getvalue())
    print(f"{len(checks) - n_bad}/{len(checks)} plan checks pass; BENCH/PLANS.md written")
    spark.stop()
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
