"""SparkSession factory tuned for the engine.

Local mode for tests/bench; the same configs are the right defaults on a
real cluster (AQE, UTC, Arrow). ``spark.sql.shuffle.partitions`` is sized
from SPARK_GRAFT_CPUS locally; on a 1000-executor cluster it should be
~2-3x total cores (or left to AQE coalescing, which is enabled).

Python workers start through ``pyworker/graft_daemon.py`` (Spark's
``spark.python.daemon.module``): it stops each Python task from
re-reading the whole central directory of an unchanged ``pyspark.zip``,
which cost ~0.4 s per task on CPython 3.11. Its directory holds only
that module and is the one entry this session adds to the workers'
PYTHONPATH, so the package itself stays unimportable in a worker.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# graft_daemon's directory, absolute: workers import it from any cwd
PYWORKER_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pyworker")


def get_spark(app_name: str = "dynamodb_stream_processor_2_0_spark") -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "graft_daemon")
        .config("spark.executorEnv.PYTHONPATH", PYWORKER_DIR)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Pin the heap floor to its ceiling (-Xms == -Xmx). G1 shrinks
        # the committed heap at remark/full-GC by default; every later
        # regrow re-faults fresh pages from the OS. r13 measured this
        # host serving first-touch faults at up to 736 us/page in
        # transient episodes (OPTIMIZATION_r13.md), which turns each
        # uncommit/recommit cycle into seconds of stall inside query
        # timings. A fixed heap faults each page at most once per
        # session and never returns it mid-run. Same setting a real
        # cluster uses for long-lived executors (§5: stable execution
        # memory beats elastic footprint for a dedicated node).
        .config(
            "spark.driver.extraJavaOptions",
            "-Xms" + os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
