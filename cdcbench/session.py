"""The Spark session the benchmark runs on, fitted to the host.

``local[k]`` with ``k = min(4, usable cores)`` and ``k`` shuffle partitions,
a 4 GB driver heap (sized for a 4-core, 15 GB machine shared with other
work), and every
scratch path (Spark local dirs, JVM and Python temp files, the warehouse,
the event log) inside the run's own work directory. ``PYTHONPATH`` is
exported before the JVM starts: Python workers import ``airbyte_spark`` to
run the canonicalizer UDF and die with ``ModuleNotFoundError`` without it.
"""

from __future__ import annotations

import os
import subprocess
import sys
from typing import Optional

#: cores the benchmark uses; fixed so runs on one host stay comparable
MAX_CORES = 4
DRIVER_MEMORY = "4g"


def cores() -> int:
    return max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))


def start(root: str, work: str, event_log_dir: Optional[str] = None):
    """Start the session. ``event_log_dir`` turns on Spark's event log (the
    traced run only)."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    path = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(path))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    # SPARK_LOCAL_DIRS overrides spark.local.dir, so pin both
    os.environ["SPARK_LOCAL_DIRS"] = local

    from pyspark.sql import SparkSession

    k = cores()
    b = (
        SparkSession.builder.master(f"local[{k}]")
        .appName("cdcbench")
        .config("spark.sql.shuffle.partitions", str(k))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log_dir)
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit (it exits
    when its stdin closes; Python workers die with it)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
