"""hllspark benchmark: one workload per run, 4 task threads in one process.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 12 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: ``correct``, ``attempted``/``failed`` correctness checks and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer metrics
with ``--trace 1``). The environment record, the engine each job resolved to
and any failed check go to standard error. Inputs, stored tables, Spark
scratch space and the span file live under ``.bench_build/perfbench``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

END_TO_END = {"setup_s": "s", "peak_rss_mb": "MB", "op_p50_ms": "ms", "rows_per_s": "1/s"}

# per-layer metric → unit. A workload reports 0 for a layer it does not
# exercise (e.g. io.* outside checkpoint_resume).
PER_LAYER = {
    "session.start_s": "s", "session.first_query_s": "s",
    "agg.plan_ms": "ms", "driver.gap_ms": "ms",
    "scan.rows": "count", "scan.bytes": "bytes", "scan.time_ms": "ms",
    "scan_floor.rows_per_s": "1/s", "scan_floor.eff_1to4": "ratio", "scaling.eff_1to4": "ratio",
    "jvm_udaf.agg_build_ms": "ms", "jvm_udaf.sort_fallback_tasks": "count",
    "jvm_udaf.spill_bytes": "bytes", "jvm_udaf.peak_exec_mem_bytes": "bytes",
    "exchange.shuffle_records": "count", "exchange.shuffle_bytes": "bytes",
    "exchange.fetch_wait_ms": "ms", "exchange.nonempty_partition_ratio": "ratio",
    "python.bytes_to_workers": "bytes", "python.bytes_from_workers": "bytes",
    "python.run_ms": "ms", "python.start_ms": "ms", "python.init_ms": "ms",
    **{f"rollup_query.{c}_ms": "ms" for c in (
        "total", "regroup", "read_jvm", "read_pandas", "union_pandas", "merge_python", "bloom_merge")},
    "rollup_query.p50_ms": "ms", "rollup_query.p90_ms": "ms", "rollup_query.p90_samples_beyond": "count", "rollup_query.samples": "count",
    **{f"core.hll.{k}_us_per_blob.{s}": "us" for k in ("merge_blobs", "estimate_blobs", "from_bytes")
       for s in ("sparse", "dense")},
    "sketches.quantile_final_task_ms": "ms",
    "io.ckpt_full_s": "s", "io.ckpt_resume_s": "s", "io.epoch_s": "s", "io.merge_s": "s",
    "io.partials_bytes": "bytes", "io.epochs_rerun_per_lost": "ratio",
    "ingest.distinct_global_s": "s", "ingest.distinct_by_lang_s": "s",
    "ingest.rollup_build_s": "s", "ingest.quantile_build_s": "s", "ingest.rollup_bytes_per_key": "bytes",
    "stage.executor_run_ms": "ms", "stage.gc_ms": "ms", "stage.tasks": "count", "stage.task_skew": "ratio",
    "memory.jvm_peak_rss_mb": "MB", "memory.python_peak_rss_mb": "MB",
    "tracing.op_p50_ms_overhead": "ms", "tracing.rows_per_s_overhead": "1/s", "tracing.units": "count",
}

# Spark counters summed per unit of work, then averaged over traced units
_PER_UNIT = [k for k in PER_LAYER if k.split(".")[0] in ("scan", "jvm_udaf", "exchange", "python", "stage")
             and k not in ("stage.task_skew", "exchange.nonempty_partition_ratio", "jvm_udaf.peak_exec_mem_bytes")]


def spark_layers(spans) -> dict:
    """Per-layer figures from the traced spans: counters summed over the
    actions of each traced unit and averaged over units; plan time and
    driver gap averaged per call; ratios and peaks as medians/maxima over
    actions."""
    by_id = {s.id: s for s in spans}

    def unit_of(s):
        while s is not None and s.name != "unit":
            s = by_id.get(s.parent)
        return s

    units: dict = {}
    actions = [s for s in spans if s.spark and unit_of(s) is not None]
    for s in actions:
        acc = units.setdefault(unit_of(s).id, {})
        for k, v in s.spark.items():
            acc[k] = acc.get(k, 0.0) + v
    out = {}
    if units:
        for k in _PER_UNIT:
            out[k] = statistics.fmean(u.get(k, 0.0) for u in units.values())
    plans = [s.end - s.start for s in spans if s.name.startswith("agg.plan:") and unit_of(s) is not None]
    if plans:
        out["agg.plan_ms"] = statistics.fmean(plans)
    for key, agg in (("driver.gap_ms", statistics.fmean), ("stage.task_skew", statistics.median),
                     ("exchange.nonempty_partition_ratio", statistics.median),
                     ("jvm_udaf.peak_exec_mem_bytes", max)):
        vals = [s.spark[key] for s in actions if key in s.spark]
        if vals:
            out[key] = agg(vals)
    finals = [s.spark["stage.last_stage_max_task_ms"] for s in actions
              if s.name == "quantile_build" and "stage.last_stage_max_task_ms" in s.spark]
    if finals:
        out["sketches.quantile_final_task_ms"] = statistics.median(finals)
    return out


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    # Python workers import hllspark from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    from hllspark import jvm_udaf
    from perfbench import workloads
    from perfbench.trace import Tracer

    if args.workload not in workloads.WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    workdir = ROOT / ".bench_build" / "perfbench"
    workdir.mkdir(parents=True, exist_ok=True)
    # scratch space stays in the checkout, for Python, Spark (SPARK_LOCAL_DIRS
    # would override spark.local.dir) and every JVM the run starts (javac,
    # jar, Spark; no hsperfdata files under /tmp)
    tmp = workdir / "tmp"
    tmp.mkdir(exist_ok=True)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"]))
    jvm_udaf.jar_path()  # build step: compiles the jar when its sources are newer

    run_id = f"{args.workload}-s{args.seed}-{int(time.time())}"
    ctx = workloads.Ctx(seed=args.seed, seconds=args.seconds, trace=bool(args.trace), workdir=workdir,
                        tracer=Tracer(bool(args.trace), run_id))
    try:
        e2e = workloads.WORKLOADS[args.workload](ctx)
    finally:
        if ctx.spark is not None:
            stop_spark(ctx.spark)
    ctx.phase("stopped")

    print(json.dumps({"env": ctx.env, "engines": ctx.engines, "failures": ctx.failures[:20], "phases": ctx.phases,
                      "ops_ms": ctx.ops_ms,
                      "layers": ctx.layers}), file=sys.stderr)
    if args.trace:
        ctx.tracer.dump(workdir / f"spans-{run_id}.jsonl")
        layers = {k: 0.0 for k in PER_LAYER}
        layers.update(spark_layers(ctx.tracer.spans))
        layers.update(ctx.layers)
        metrics = {k: {"value": float(layers[k]), "unit": u} for k, u in PER_LAYER.items()}
        print(json.dumps({"traced_run_end_to_end": e2e}), file=sys.stderr)
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": ctx.failed == 0, "attempted": ctx.attempted, "failed": ctx.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
