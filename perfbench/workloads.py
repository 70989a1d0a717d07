"""The benchmark's workloads. Each drives hllspark only through its public
functions, checks every output against ground truth replayed from the input
generator, and returns its end-to-end metrics.

Both workloads report the same end-to-end metrics, each on the workload's
own operation: an ingest pass, or a dashboard refresh of rollup queries.

- ``setup_s``: session start with the udaf jar plus the cold first run of
  the workload's operation (``first_ops``). Input generation and
  stored-table builds are excluded.
- ``peak_rss_mb``: peak resident memory of the Python driver, the Spark JVM
  and its Python workers.
- ``op_p50_ms``: median wall time of one operation.
- ``rows_per_s``: input rows one operation consumes per second of its wall
  time, median over the operations.

A traced run interleaves untraced and traced units of work; the layer
metrics come from the traced ones and the difference between the two kinds
is reported as tracing overhead.
"""

from __future__ import annotations

import random
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

import numpy as np

from . import fixtures, sparkenv
from .stats import percentile, scaling_efficiency
from .trace import Tracer

B = 14  # hllspark's default precision; every sketch here uses it
REL_BOUND = 3 * 1.04 / np.sqrt(2.0**B)  # correctness bound on every estimate
# Plus one value absolute: in sparse mode two distinct values whose 25-bit
# sparse indexes collide count once. Expected collisions per table: ~0.07 in
# the 100k-key rollup (~7 values per key), ~0.27 in the 25k-key one (~27 per
# key), where -1 alone exceeds the relative bound.
ABS_SLACK = 1
INGEST_ROWS, INGEST_FILES = 2_000_000, 16
CKPT_ROWS, CKPT_FILES, CKPT_EPOCHS, CKPT_LOST = 500_000, 8, 8, 2
# rollup_query's stored tables: keys of the HLL rollup (dom % ROLLUP_KEYS)
# and of the bloom rollup, and the regroup modulus
ROLLUP_KEYS, BLOOM_KEYS, REGROUP_MOD = 25_000, 2_500, 1000
BLOOM_BITS, BLOOM_K = 16_384, 4
QUANTILES = (0.01, 0.1, 0.5, 0.9, 0.99)
QUANTILE_RANK_TOL = 0.01
QUERY_CLASSES = ("total", "regroup", "read_jvm", "read_pandas", "union_pandas", "merge_python", "bloom_merge")
KERNEL_REPS = 5


@dataclass
class Ctx:
    seed: int
    seconds: float
    trace: bool
    workdir: Path
    tracer: Tracer
    spark: object = None
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    engines: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    env: dict = field(default_factory=dict)
    phases: dict = field(default_factory=dict)
    ops_ms: list = field(default_factory=list)
    t_start: float = field(default_factory=time.perf_counter)

    def phase(self, name: str) -> None:
        """Mark the end of a run phase (seconds since the run began)."""
        self.phases[name] = round(time.perf_counter() - self.t_start, 2)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def close_to(self, est, exact, what: str) -> None:
        ok = est is not None and exact > 0 and abs(est - exact) <= REL_BOUND * exact + ABS_SLACK
        self.check(ok, f"{what}: estimate {est} vs exact {exact}")

    def record_engine(self, job: str, df, expected: str) -> None:
        if job not in self.engines:
            eng = sparkenv.engine_of(df)
            self.engines[job] = eng
            self.check(eng == expected, f"{job}: engine {eng}, expected {expected}")


# -- operations and the measuring loop -------------------------------------


@dataclass
class Job:
    """One public call (``build`` → DataFrame), the action on its result and
    the engine its plan must show."""

    name: str
    build: Callable
    act: Callable
    engine: str = "jvm_udaf"


def run_job(ctx: Ctx, job: Job, traced: bool):
    """Run a job; returns (result, wall seconds). Traced, the plan step (the
    public call up to an executed physical plan) and the action get their
    own spans."""
    t0 = time.perf_counter()
    if traced:
        with ctx.tracer.span(f"agg.plan:{job.name}"):
            df = job.build()
            df._jdf.queryExecution().executedPlan()
        with ctx.tracer.span(job.name, spark=ctx.spark):
            res = job.act(df)
    else:
        df = job.build()
        res = job.act(df)
    wall = time.perf_counter() - t0
    ctx.record_engine(job.name, df, job.engine)
    return res, wall


# a run times at least this many units, so its median drops one slow unit
MIN_UNITS = 3
# traced runs interleave untraced and traced units in this order, so a drift
# over the run does not read as tracing overhead
_TRACE_ORDER = (False, True, True, False)


def measure(ctx: Ctx, unit: Callable) -> dict:
    """Repeat ``unit(traced)`` until ``ctx.seconds`` have passed, finishing
    the unit in progress and running at least ``MIN_UNITS`` (a traced run at
    least one round of ``_TRACE_ORDER``). A unit returns (rows consumed, its
    operations' wall times). One unit runs untimed first: the first unit
    after the cold one is still 15-50% slower while the JIT warms up."""
    unit(False)
    ops = {False: [], True: []}
    rates = {False: [], True: []}
    start = time.perf_counter()
    i = 0
    while True:
        traced = ctx.trace and _TRACE_ORDER[i % len(_TRACE_ORDER)]
        t0 = time.perf_counter()
        if traced:
            with ctx.tracer.span("unit"):
                n, op_walls = unit(True)
        else:
            n, op_walls = unit(False)
        rates[traced].append(n / (time.perf_counter() - t0))
        ops[traced] += op_walls
        i += 1
        if i >= (len(_TRACE_ORDER) if ctx.trace else MIN_UNITS) and time.perf_counter() - start >= ctx.seconds:
            break
    return {traced: {"op_p50_ms": float(np.median(ops[traced])) * 1000,
                     "rows_per_s": float(np.median(rates[traced])),
                     "ops_ms": [x * 1000 for x in ops[traced]]}
            for traced in (False, True) if rates[traced]}


def finish(ctx: Ctx, setup_s: float, m: dict) -> dict:
    """End-to-end metrics; in a traced run also attaches Spark's metrics to
    the spans (before any session restart) and records tracing overhead."""
    ctx.tracer.attach_spark_metrics(ctx.spark)
    jvm_mb, python_mb = sparkenv.peak_rss_mb(ctx.spark)
    ctx.layers["memory.jvm_peak_rss_mb"] = jvm_mb
    ctx.layers["memory.python_peak_rss_mb"] = python_mb
    ctx.ops_ms = m[False]["ops_ms"]
    e2e = {"setup_s": setup_s, "peak_rss_mb": jvm_mb + python_mb,
           "op_p50_ms": m[False]["op_p50_ms"], "rows_per_s": m[False]["rows_per_s"]}
    if True in m:
        ctx.layers["tracing.op_p50_ms_overhead"] = m[True]["op_p50_ms"] - m[False]["op_p50_ms"]
        ctx.layers["tracing.rows_per_s_overhead"] = m[True]["rows_per_s"] - m[False]["rows_per_s"]
        ctx.layers["tracing.units"] = len(m[True]["ops_ms"])
    return e2e


# -- shared pieces ---------------------------------------------------------


def read(ctx: Ctx, path: Path):
    return ctx.spark.read.parquet(str(path))


def _blob_estimates(blobs) -> list:
    from hllspark.core import hll

    return hll.estimate_blobs([None if b is None else bytes(b) for b in blobs])


def start_session(ctx: Ctx) -> float:
    """Session start with the udaf jar, checked by the jar guard; returns
    seconds."""
    t0 = time.perf_counter()
    with ctx.tracer.span("session.start"):
        ctx.spark = sparkenv.make_session(4, ctx.workdir)
        ctx.env = sparkenv.guard(ctx.spark)
    ctx.layers["session.start_s"] = time.perf_counter() - t0
    return ctx.layers["session.start_s"]


def first_ops(ctx: Ctx, warmup: Callable[[], None]) -> float:
    """The cold first run of the workload's operation; returns seconds. It
    holds the first-use costs (JIT, Python workers, UDF registration) a user
    pays once per session, and keeps them out of the measured operations."""
    t0 = time.perf_counter()
    with ctx.tracer.span("session.first_query"):
        warmup()
    ctx.layers["session.first_query_s"] = time.perf_counter() - t0
    return ctx.layers["session.first_query_s"]


def kernel_timings(ctx: Ctx, rollup: Path, table: Path) -> None:
    """core.hll batched kernels, single-threaded in this process, per blob,
    at the stored-rollup (sparse) and per-lang (dense) payload shapes."""
    import pyarrow.parquet as pq

    from hllspark import agg
    from hllspark.core import hll

    sparse = [b for b in pq.read_table(str(rollup), columns=["sketch"]).column(0).to_pylist() if b is not None]
    dense = [bytes(r["sketch"]) for r in agg.sketch(read(ctx, table), "url", by=["lang"]).collect()]
    for shape, blobs in (("sparse", sparse), ("dense", dense)):
        for name, fn in (("merge_blobs", hll.merge_blobs), ("estimate_blobs", hll.estimate_blobs),
                         ("from_bytes", lambda bs: [hll.HLL.from_bytes(b) for b in bs])):
            times = []
            for _ in range(KERNEL_REPS):
                t = time.perf_counter()
                fn(blobs)
                times.append(time.perf_counter() - t)
            ctx.layers[f"core.hll.{name}_us_per_blob.{shape}"] = float(np.median(times)) / len(blobs) * 1e6


# -- ingest ----------------------------------------------------------------


class Checkpoint:
    """``io.CheckpointedSketch(by=lang)`` cycles: a full run from a fresh
    directory, then two epochs' partials deleted (a simulated crash), resume
    and merge. Checks resumed bytes, estimates and lineage."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.rng = random.Random(ctx.seed)
        self.n = 0
        self.full_s, self.resume_s, self.partial_bytes = [], [], []
        self.epoch_s, self.merge_s, self.rerun_ratio = [], [], []

    @staticmethod
    def _sketches(df) -> dict:
        return {r["lang"]: bytes(r["sketch"]) for r in df.collect()}

    def cycle(self, src: Path, truth: dict, traced: bool, keep: bool) -> None:
        """One cycle; ``keep`` records its full-run and resume times."""
        from hllspark import io
        from hllspark.core import hll

        ctx = self.ctx
        self.n += 1
        d = ctx.workdir / "ckpt" / f"c{self.n}"
        shutil.rmtree(d, ignore_errors=True)

        def make():
            return io.CheckpointedSketch(ctx.spark, str(src), "url", by=["lang"],
                                         checkpoint_dir=str(d), n_epochs=CKPT_EPOCHS)

        t0 = time.perf_counter()
        if traced:
            ck = make()
            with ctx.tracer.span("io.full", spark=ctx.spark):
                while True:
                    t = time.perf_counter()
                    if not ck.process_pending(limit=1):
                        break
                    self.epoch_s.append(time.perf_counter() - t)
                t = time.perf_counter()
                full = self._sketches(ck.run())
                self.merge_s.append(time.perf_counter() - t)
        else:
            full = self._sketches(make().run())
        t1 = time.perf_counter()
        partial_bytes = sum(p.stat().st_size for p in (d / "partials").rglob("*.parquet"))
        lost = self.rng.sample(range(CKPT_EPOCHS), CKPT_LOST)
        for i in lost:
            shutil.rmtree(d / "partials" / f"epoch={i}")
        t2 = time.perf_counter()
        ck = make()
        if traced:
            with ctx.tracer.span("io.resume", spark=ctx.spark):
                ran = ck.process_pending()
                resumed = self._sketches(ck.run())
            self.rerun_ratio.append(CKPT_LOST / len(ran) if ran else 0.0)
        else:
            resumed = self._sketches(ck.run())
        t3 = time.perf_counter()
        if keep:
            self.full_s.append(t1 - t0)
            self.resume_s.append(t3 - t2)
            self.partial_bytes.append(partial_bytes)

        ctx.check(resumed == full, "resumed checkpoint bytes != uninterrupted run")
        for lang, exact in truth["per_lang"].items():
            blob = full.get(lang)
            ctx.close_to(None if blob is None else hll.HLL.from_bytes(blob).estimate(), exact, f"ckpt lang={lang}")
        lineage = ck.lineage().toPandas()
        seen = int(lineage["rows_seen"].sum())
        ctx.check(seen == truth["rows"], f"lineage rows_seen {seen} != {truth['rows']}")
        shutil.rmtree(d)

    def report(self) -> None:
        layers = self.ctx.layers
        layers["io.ckpt_full_s"] = float(np.median(self.full_s))
        layers["io.ckpt_resume_s"] = float(np.median(self.resume_s))
        layers["io.partials_bytes"] = float(np.median(self.partial_bytes))
        if self.epoch_s:
            layers["io.epoch_s"] = float(np.median(self.epoch_s))
            layers["io.merge_s"] = float(np.median(self.merge_s))
            layers["io.epochs_rerun_per_lost"] = float(np.median(self.rerun_ratio))


def checkpoint_cycles(ctx: Ctx) -> None:
    """Two cycles on a smaller table (python build engine, partials and
    manifest writes, lineage): a traced one, which also takes the first-use
    costs, then an untraced one that gives the full-run and resume times."""
    table = fixtures.ensure_table(ctx.workdir / "data", ctx.seed, CKPT_ROWS, CKPT_FILES)
    gt = fixtures.ground_truth(ctx.seed, CKPT_ROWS)
    ckpt = Checkpoint(ctx)
    ckpt.cycle(table, gt, True, keep=False)
    ckpt.cycle(table, gt, False, keep=True)
    ckpt.report()


def ingest(ctx: Ctx) -> dict:
    """Raw-row work at local[4]. One pass runs, in order: global distinct
    url, distinct url by lang, a 100k-key per-domain rollup written to
    parquet and a t-digest over a quarter sample of a continuous column, all
    engine="auto".

    The traced run adds the 1→4 task-thread scaling of the flagship, which
    the timed passes leave out."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from hllspark import agg
    from hllspark.sketches import TDigest, router

    data = ctx.workdir / "data"
    table = fixtures.ensure_table(data, ctx.seed, INGEST_ROWS, INGEST_FILES)
    gt = fixtures.ground_truth(ctx.seed, INGEST_ROWS)
    ctx.phase("inputs")
    rollup = ctx.workdir / "rollup"

    jobs = [
        Job("distinct_global", lambda: agg.distinct(read(ctx, table), "url"), lambda df: df.collect()),
        Job("distinct_by_lang", lambda: agg.distinct(read(ctx, table), "url", by=["lang"]),
            lambda df: df.collect()),
        Job("rollup_build", lambda: agg.sketch(read(ctx, table).select("dom", "url"), "url", by=["dom"]),
            lambda df: df.write.mode("overwrite").parquet(str(rollup))),
        Job("quantile_build",
            lambda: router.build(read(ctx, table).where(F.col("dom") % 4 == 0).select("v"), "v", "tdigest"),
            lambda df: df.collect()),
    ]
    job_walls = {j.name: [] for j in jobs}
    exact_q = np.sort(gt["quantile_values"])

    def check(name, res):
        if name == "distinct_global":
            ctx.close_to(res[0]["est"], gt["distinct"], "distinct url")
        elif name == "distinct_by_lang":
            got = {r["lang"]: r["est"] for r in res}
            ctx.check(set(got) == set(gt["per_lang"]), f"lang keys {sorted(got)}")
            for lang, exact in gt["per_lang"].items():
                ctx.close_to(got.get(lang), exact, f"distinct url lang={lang}")
        elif name == "quantile_build":
            td = TDigest.from_bytes(bytes(res[0]["sketch"]))
            for q in QUANTILES:
                rank = np.searchsorted(exact_q, td.quantile(q), side="right") / len(exact_q)
                ctx.check(abs(rank - q) <= QUANTILE_RANK_TOL, f"t-digest q={q}: rank {rank}")

    def unit(traced: bool):
        t0 = time.perf_counter()
        for job in jobs:
            res, wall = run_job(ctx, job, traced)
            job_walls[job.name].append(wall)
            check(job.name, res)
        return INGEST_ROWS * len(jobs), [time.perf_counter() - t0]

    def warmup():
        for job in jobs:
            check(job.name, run_job(ctx, job, False)[0])

    setup_s = start_session(ctx) + first_ops(ctx, warmup)
    ctx.phase("setup")
    m = measure(ctx, unit)
    ctx.phase("measure")

    # the last pass's rollup: one row per domain, every key within the bound
    # (rollup_query checks that merging it gives the global sketch's bytes)
    stored = pq.read_table(str(rollup), columns=["dom", "sketch"])
    est = np.array(_blob_estimates(stored.column("sketch").to_pylist()), dtype=float)
    exact = gt["per_domain"][stored.column("dom").to_numpy()]
    bad = int(np.sum(np.abs(est - exact) > REL_BOUND * exact + ABS_SLACK))
    ctx.check(len(est) == int(np.count_nonzero(gt["per_domain"])), f"rollup has {len(est)} keys")
    ctx.check(bad == 0, f"{bad} rollup keys outside the bound")

    for name, walls in job_walls.items():
        ctx.layers[f"ingest.{name}_s"] = float(np.median(walls))
    ctx.layers["ingest.rollup_bytes_per_key"] = sum(p.stat().st_size for p in rollup.glob("*.parquet")) / len(est)
    if ctx.trace:
        kernel_timings(ctx, rollup, table)
    e2e = finish(ctx, setup_s, m)
    if ctx.trace:
        scaling(ctx, table, gt)
    return e2e


def scaling(ctx: Ctx, table: Path, gt: dict) -> None:
    """Flagship (global + per-lang distinct url) and the bare scan floor
    ``max(xxhash64(url))`` at local[1], then local[4], each in a fresh
    session of the same process; a first repetition warms each session."""
    from pyspark.sql import functions as F

    from hllspark import agg

    best = {}
    for cores in (1, 4):
        ctx.spark.stop()
        ctx.spark = sparkenv.make_session(cores, ctx.workdir)
        sparkenv.guard(ctx.spark)
        flag, scan = [], []
        for _ in range(2):
            t = time.perf_counter()
            g = agg.distinct(read(ctx, table), "url").collect()
            per_lang = agg.distinct(read(ctx, table), "url", by=["lang"]).collect()
            flag.append(time.perf_counter() - t)
            t = time.perf_counter()
            read(ctx, table).agg(F.max(F.xxhash64("url"))).collect()
            scan.append(time.perf_counter() - t)
            ctx.close_to(g[0]["est"], gt["distinct"], f"local[{cores}] distinct url")
            ctx.check(len(per_lang) == len(gt["per_lang"]), f"local[{cores}] lang keys")
        best[cores] = (flag[1], scan[1])
    ctx.layers["scaling.eff_1to4"] = scaling_efficiency(INGEST_ROWS, best[1][0], best[4][0])
    ctx.layers["scan_floor.eff_1to4"] = scaling_efficiency(INGEST_ROWS, best[1][1], best[4][1])
    ctx.layers["scan_floor.rows_per_s"] = INGEST_ROWS / best[4][1]


# -- rollup_query ----------------------------------------------------------


def rollup_query(ctx: Ctx) -> dict:
    """Closed loop, one client: the next query is sent when the previous one
    returns, each on a fresh plan. An operation is one dashboard refresh
    running every query class once, in an order drawn from the seed, over
    stored tables built from the input after session start: a 25k-key HLL
    rollup (~27 urls per key), its 25k union pairs and a 2.5k-key bloom
    rollup.

    The traced run adds the checkpoint cycles, which no timed operation
    covers. They sit here, not in ingest's traced run with the scaling
    sessions, so that both traced runs stay well inside the time limit of a
    run."""
    import pandas as pd
    from pyspark.sql import functions as F

    from hllspark import agg, functions as hfn, jvm_udaf
    from hllspark.core import hll
    from hllspark.core.xxhash import spark_xxhash64_series
    from hllspark.sketches import Bloom, router

    table = fixtures.ensure_table(ctx.workdir / "data", ctx.seed, INGEST_ROWS, INGEST_FILES)
    gt = fixtures.ground_truth(ctx.seed, INGEST_ROWS)
    ctx.phase("inputs")
    start_s = start_session(ctx)
    spark = ctx.spark

    rollup, pairs, blooms = (ctx.workdir / n for n in ("q_rollup", "q_pairs", "q_bloom"))
    agg.sketch(read(ctx, table).select((F.col("dom") % ROLLUP_KEYS).alias("dom"), "url"), "url", by=["dom"]) \
        .write.mode("overwrite").parquet(str(rollup))
    st = read(ctx, rollup)
    st.select("dom", F.col("sketch").alias("ca")).join(
        st.select((F.col("dom") - 1).alias("dom"), F.col("sketch").alias("cb")), "dom"
    ).write.mode("overwrite").parquet(str(pairs))
    router.build(read(ctx, table).select((F.col("dom") % BLOOM_KEYS).alias("k"), "url"), "url", "bloom",
                 by=["k"], m_bits=BLOOM_BITS, k=BLOOM_K).write.mode("overwrite").parquet(str(blooms))
    whole = bytes(agg.sketch(read(ctx, table), "url").collect()[0]["sketch"])
    per_dom = np.bincount(np.arange(fixtures.N_DOMAINS) % ROLLUP_KEYS, weights=gt["per_domain"])
    n_stored = int(np.count_nonzero(per_dom))  # one row per non-empty key
    n_pairs = int(np.count_nonzero((per_dom[:-1] > 0) & (per_dom[1:] > 0)))
    regroup_exact = np.bincount(np.arange(len(per_dom)) % REGROUP_MOD, weights=per_dom)
    dom_sum = float(per_dom.sum())
    union_exact = float((per_dom[:-1] + per_dom[1:])[(per_dom[:-1] > 0) & (per_dom[1:] > 0)].sum())
    probe = fixtures.doc_offset(ctx.seed) + np.arange(0, gt["distinct"], max(1, gt["distinct"] // 2000))
    probe_h = spark_xxhash64_series(pd.Series(fixtures.urls(probe.astype(np.uint64)).to_pylist()))
    first_bloom = []

    def summed(df, col):
        return df.agg(F.sum(col).alias("s")).collect()[0]["s"]

    queries = {
        "total": Job("total", lambda: agg.merge_partials(read(ctx, rollup).select("sketch")),
                     lambda df: df.collect()),
        "regroup": Job("regroup", lambda: agg.merge_partials(
            read(ctx, rollup).select((F.col("dom") % REGROUP_MOD).alias("g"), "sketch"), by=["g"]),
            lambda df: df.collect()),
        "read_jvm": Job("read_jvm", lambda: read(ctx, rollup).select(
            jvm_udaf.hll_estimate_col(spark, "sketch").alias("e")), lambda df: summed(df, "e"), engine="jvm"),
        "read_pandas": Job("read_pandas", lambda: read(ctx, rollup).select(
            hfn.hll_estimate(F.col("sketch")).alias("e")), lambda df: summed(df, "e"), engine="python"),
        "union_pandas": Job("union_pandas", lambda: read(ctx, pairs).select(
            hfn.hll_union_estimate(F.col("ca"), F.col("cb")).alias("u")), lambda df: summed(df, "u"),
            engine="python"),
        "merge_python": Job("merge_python", lambda: agg.merge_partials(
            read(ctx, rollup).select("sketch"), engine="python"), lambda df: df.collect(), engine="python"),
        "bloom_merge": Job("bloom_merge", lambda: router.merge_stored(
            read(ctx, blooms).select("sketch"), kind="bloom", engine="python"),
            lambda df: df.collect(), engine="python"),
    }

    def check(name, res):
        if name in ("total", "merge_python"):
            blob = bytes(res[0]["sketch"])
            ctx.check(blob == whole, f"{name}: merged rollup != global sketch bytes")
            ctx.close_to(hll.HLL.from_bytes(blob).estimate(), gt["distinct"], name)
        elif name == "regroup":
            est = _blob_estimates([r["sketch"] for r in res])
            bad = sum(1 for r, e in zip(res, est)
                      if not abs(e - regroup_exact[r["g"]]) <= REL_BOUND * regroup_exact[r["g"]] + ABS_SLACK)
            ctx.check(len(res) == REGROUP_MOD and bad == 0, f"regroup: {len(res)} groups, {bad} outside bound")
        elif name in ("read_jvm", "read_pandas"):
            ctx.close_to(res, dom_sum, f"{name} sum of estimates")
        elif name == "union_pandas":
            ctx.close_to(res, union_exact, "union sum of estimates")
        elif name == "bloom_merge":
            blob = bytes(res[0]["sketch"])
            ctx.check(bool(Bloom.from_bytes(blob).contains_hashes(probe_h).all()), "bloom: false negative")
            first_bloom[:] = first_bloom or [blob]
            ctx.check(first_bloom[0] == blob, "bloom: merge not deterministic")

    rows_read = {"total": n_stored, "regroup": n_stored, "read_jvm": n_stored, "read_pandas": n_stored,
                 "union_pandas": n_pairs, "merge_python": n_stored, "bloom_merge": BLOOM_KEYS}
    rng = random.Random(ctx.seed)
    lat = {c: [] for c in QUERY_CLASSES}

    def unit(traced: bool):
        n, t0 = 0, time.perf_counter()
        for name in rng.sample(QUERY_CLASSES, len(QUERY_CLASSES)):
            res, wall = run_job(ctx, queries[name], traced)
            if not traced:
                lat[name].append(wall * 1000)
            n += rows_read[name]
            check(name, res)
        return n, [time.perf_counter() - t0]

    def warmup():
        for name in QUERY_CLASSES:
            check(name, run_job(ctx, queries[name], False)[0])

    ctx.phase("tables")
    setup_s = start_s + first_ops(ctx, warmup)
    ctx.phase("setup")
    m = measure(ctx, unit)
    ctx.phase("measure")
    for c in QUERY_CLASSES:
        ctx.layers[f"rollup_query.{c}_ms"] = float(np.median(lat[c]))
    queries_ms = [x for c in QUERY_CLASSES for x in lat[c]]
    p90, beyond = percentile(queries_ms, 90)
    ctx.layers["rollup_query.p50_ms"] = float(np.median(queries_ms))
    ctx.layers["rollup_query.p90_ms"] = p90
    ctx.layers["rollup_query.p90_samples_beyond"] = beyond
    ctx.layers["rollup_query.samples"] = len(queries_ms)
    if ctx.trace:
        kernel_timings(ctx, rollup, table)
        checkpoint_cycles(ctx)
    return finish(ctx, setup_s, m)


WORKLOADS = {"ingest": ingest, "rollup_query": rollup_query}
