"""Session set-up for the benchmark, the engine/environment guard and the
memory probe.

Sessions are sized for a 4-CPU, 15 GB box: a 3 GB driver heap, the
library's recommended SQL settings (``hllspark.configure_session``) with
16 shuffle partitions (4 per task thread; AQE coalesces from there) and the
UI off. Spark's local dirs and warehouse stay inside the benchmark's work
directory.
"""

from __future__ import annotations

import hashlib
import os
from pathlib import Path

DRIVER_MEMORY = "3g"
SHUFFLE_PARTITIONS = 16


def make_session(cores: int, workdir: Path):
    """A local[cores] session with the udaf jar on its classpath."""
    from pyspark.sql import SparkSession

    import hllspark

    tmp = workdir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(f"perfbench-local{cores}")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", str(tmp))
        .config("spark.sql.warehouse.dir", str(workdir / "warehouse"))
        # heap committed and touched up front, so the JVM's share of peak
        # RSS is fixed and the metric moves with Python and off-heap memory,
        # not with when G1 decides to grow the heap
        .config("spark.driver.extraJavaOptions", f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch")
    )
    spark = hllspark.configure_session(builder, shuffle_partitions=SHUFFLE_PARTITIONS).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def guard(spark) -> dict:
    """Environment record; raises when the udaf jar is not loaded, because
    ``engine="auto"`` would then fall back silently to a slower engine."""
    import numpy
    import pyarrow
    import pyspark

    from hllspark import jvm_udaf

    jar = Path(jvm_udaf.jar_path())
    if not jvm_udaf.available(spark):
        raise RuntimeError(f"{jar} did not load in the session; engine='auto' would not be jvm_udaf")
    return {
        "jar_sha256": hashlib.sha256(jar.read_bytes()).hexdigest(),
        "nproc": os.cpu_count(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "driver_memory": DRIVER_MEMORY,
    }


def engine_of(df) -> str:
    """The build engine a DataFrame's executed plan shows: the jar's
    aggregators mean ``jvm_udaf``; Python map/eval operators without them
    mean ``python``; anything else is a plain Catalyst plan (``jvm``)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "hllsparkjvm." in plan:
        return "jvm_udaf"
    if any(op in plan for op in ("MapInArrow", "MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython")):
        return "python"
    return "jvm"


def _hwm_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass  # the process ended between listing and reading
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for task in Path(f"/proc/{pid}/task").glob("*"):
        try:
            out += [int(c) for c in (task / "children").read_text().split()]
        except OSError:
            pass
    return out


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident sizes (VmHWM, MB) of the Spark JVM and, summed, of this
    Python process and every process under the JVM (Python workers). Read
    before the session stops, while the workers are alive."""
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    pids, todo = {os.getpid()}, _children(jvm_pid)
    while todo:
        p = todo.pop()
        if p not in pids:
            pids.add(p)
            todo += _children(p)
    return _hwm_kib(jvm_pid) / 1024, sum(_hwm_kib(p) for p in pids) / 1024
