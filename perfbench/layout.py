"""Where the benchmark's files live, and how a run is fitted to the box.

Everything a run writes goes under ``perfbench/.work`` in the checkout:
Spark's local dirs, warehouse and temp files, and the traces.
"""

from __future__ import annotations

import os
import shlex

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PACKAGE = os.path.join(REPO, "ballista_extensions_spark")
#: The ten tables at sf0.01 (``lineitem`` 60,000 rows): setup loads all
#: of them, sample_interactive and tpch_olap query them.
SMALL_DATA = os.path.join(HERE, "data", "sf0.01")
WORK = os.path.join(HERE, ".work")
TRACES = os.path.join(WORK, "traces")

#: Heap ceiling for the driver JVM. The package's own default (16g) is
#: sized for a large box; this workload set peaks well under 3g.
MAX_HEAP_MB = 3072


def small_tables() -> dict[str, str]:
    """Table name -> parquet path of every table under ``SMALL_DATA``."""
    return {
        f[: -len(".parquet")]: os.path.join(SMALL_DATA, f)
        for f in sorted(os.listdir(SMALL_DATA))
        if f.endswith(".parquet")
    }


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemAvailable in /proc/meminfo")


def fit_environment(run_dir: str) -> dict[str, str]:
    """Environment for a Spark driver confined to ``run_dir``, pinned to
    this box's cores and to a heap below its free memory. Must be
    applied before pyspark starts its JVM."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    heap = max(512, min(MAX_HEAP_MB, available_mb() // 3))
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir}"
    submit = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.local.dir={local}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        # keep every job and stage of a run for the traced attribution
        "--conf", "spark.ui.retainedJobs=20000",
        "--conf", "spark.ui.retainedStages=20000",
        "--conf", "spark.sql.ui.retainedExecutions=20000",
        "--driver-java-options", java_opts,
        "pyspark-shell",
    ]
    return {
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit),
    }
